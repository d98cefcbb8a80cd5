"""Rebuild a larger-scale PERF dataset from the sf0.1 driver tables.

The r07 driver escalated its round-end measurement to sf=1.0 with
driver-GENERATED tables that do not persist between sessions, so scale
verification needs a local stand-in. This tool replicates every
/root/testdata/sf0.1 table AMP times with per-replica decorrelation so
workloads grow ~LINEARLY in AMP (the driver's own sf scaling shape),
not quadratically:

- documents: dense doc_id offsets (rep*N); replica r>0 tags EVERY word
  with a unit separator (chr 31) and the rep index — a per-word
  injection (the separator keeps tags of different replicas from
  colliding, e.g. 'a' + 11 vs 'a1' + 1), so intra-replica shingle
  Jaccard is EXACTLY preserved (near-dup structure replicates) while
  cross-replica Jaccard collapses to 0 (no C(amp,2) pair blow-up).
  n_chars is recomputed from the tagged text.
- embeddings: dense vec_id offsets; per-replica SIGNED PERMUTATION of
  the 64 dims (same trick as tools/bench_llm_scaling.py rotate mode):
  intra-replica cosines are exactly invariant, cross-replica copies
  decorrelate (cos ~ 0), so near-dup output grows linearly in AMP.
- events: dense event_id offsets; user_id -> user_id*AMP + rep (user
  cardinality scales, per-user event volume stays constant — one
  replica's sessions per user, like a bigger day of traffic).
- lineitem/orders/customer/part/supplier: consistent dense key offsets
  (orderkey/custkey/partkey/suppkey strides), value columns unchanged —
  referential integrity and join fan-outs are preserved, and the
  hash-scattered label fixtures see AMP x the label density.
- nation/region: copied unchanged (dimension tables).

Output is one parquet FILE per table (the driver's layout — keeps the
compact-input/spread code paths honest). NOT driver data; use for
relative A/Bs only, never for oracle checks.

Usage: python tools/make_sflike.py OUT_DIR [AMP=10] [SRC=/root/testdata/sf0.1]
"""

from __future__ import annotations

import os
import sys

import duckdb


def main() -> None:
    out = sys.argv[1]
    amp = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE reps AS SELECT unnest(range({amp})) AS rep")

    def copy(sql: str, name: str) -> None:
        dst = f"{out}/{name}.parquet"
        con.execute(f"COPY ({sql}) TO '{dst}' (FORMAT parquet)")
        n = con.execute(f"SELECT count(*) FROM '{dst}'").fetchone()[0]
        print(f"{name}: {n} rows -> {dst}", flush=True)

    t = lambda name: f"'{src}/{name}.parquet'"  # noqa: E731

    n_docs = con.execute(f"SELECT count(*) FROM {t('documents')}").fetchone()[0]
    copy(
        f"""
        SELECT d.doc_id + r.rep * {n_docs} AS doc_id,
               CASE WHEN r.rep = 0 THEN d.text
                    ELSE array_to_string(
                        list_transform(string_split(d.text, ' '),
                                       w -> concat(w, chr(31), r.rep)), ' ')
               END AS text,
               d.lang, d.source,
               CASE WHEN r.rep = 0 THEN d.n_chars
                    ELSE length(array_to_string(
                        list_transform(string_split(d.text, ' '),
                                       w -> concat(w, chr(31), r.rep)), ' '))
               END AS n_chars
        FROM {t('documents')} d CROSS JOIN reps r
        """,
        "documents",
    )

    n_vec = con.execute(f"SELECT count(*) FROM {t('embeddings')}").fetchone()[0]
    # signed permutation: index map i -> (i*a + b) mod 64 with odd a
    # (bijection), sign from a per-(i, rep) hash. rep 0 = identity.
    copy(
        f"""
        SELECT e.vec_id + r.rep * {n_vec} AS vec_id,
               CASE WHEN r.rep = 0 THEN e.embedding
                    ELSE list_transform(range(64), i ->
                        e.embedding[((i * ((r.rep * 7919) % 32 * 2 + 1)
                                      + (r.rep * 104729) % 64) % 64) + 1]
                        * (CASE WHEN hash(i, r.rep) % 2 = 0
                                THEN 1.0 ELSE -1.0 END))
               END AS embedding,
               e.label
        FROM {t('embeddings')} e CROSS JOIN reps r
        """,
        "embeddings",
    )

    n_ev = con.execute(f"SELECT count(*) FROM {t('events')}").fetchone()[0]
    copy(
        f"""
        SELECT e.event_id + r.rep * {n_ev} AS event_id, e.ts,
               e.user_id * {amp} + r.rep AS user_id,
               e.event_type, e.value, e.props
        FROM {t('events')} e CROSS JOIN reps r
        """,
        "events",
    )

    strides = {
        "orderkey": con.execute(f"SELECT count(*) FROM {t('orders')}").fetchone()[0],
        "custkey": con.execute(f"SELECT count(*) FROM {t('customer')}").fetchone()[0],
        "partkey": con.execute(f"SELECT count(*) FROM {t('part')}").fetchone()[0],
        "suppkey": con.execute(f"SELECT count(*) FROM {t('supplier')}").fetchone()[0],
    }
    copy(
        f"""
        SELECT l.l_orderkey + r.rep * {strides['orderkey']} AS l_orderkey,
               l.l_partkey + r.rep * {strides['partkey']} AS l_partkey,
               l.l_suppkey + r.rep * {strides['suppkey']} AS l_suppkey,
               l.l_linenumber, l.l_quantity, l.l_extendedprice, l.l_discount,
               l.l_tax, l.l_returnflag, l.l_linestatus, l.l_shipdate
        FROM {t('lineitem')} l CROSS JOIN reps r
        """,
        "lineitem",
    )
    copy(
        f"""
        SELECT o.o_orderkey + r.rep * {strides['orderkey']} AS o_orderkey,
               o.o_custkey + r.rep * {strides['custkey']} AS o_custkey,
               o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority
        FROM {t('orders')} o CROSS JOIN reps r
        """,
        "orders",
    )
    copy(
        f"""
        SELECT c.c_custkey + r.rep * {strides['custkey']} AS c_custkey,
               c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
        FROM {t('customer')} c CROSS JOIN reps r
        """,
        "customer",
    )
    copy(
        f"""
        SELECT p.p_partkey + r.rep * {strides['partkey']} AS p_partkey,
               p.p_name, p.p_brand, p.p_type, p.p_size, p.p_retailprice
        FROM {t('part')} p CROSS JOIN reps r
        """,
        "part",
    )
    copy(
        f"""
        SELECT s.s_suppkey + r.rep * {strides['suppkey']} AS s_suppkey,
               s.s_name, s.s_nationkey, s.s_acctbal
        FROM {t('supplier')} s CROSS JOIN reps r
        """,
        "supplier",
    )
    copy(f"SELECT * FROM {t('nation')}", "nation")
    copy(f"SELECT * FROM {t('region')}", "region")


if __name__ == "__main__":
    main()
