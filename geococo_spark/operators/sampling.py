"""Dataset splitting / sampling / sequence-packing operators for
large-scale training-data pipelines (driver brief: "the operations a
large-scale training-data pipeline would need").

Four operators, each chosen for a specific 100 TB plan shape:

- :func:`hash_split` — train/val/test assignment as a PURE PROJECTION
  (zero exchanges): the split is a deterministic function of the row id,
  so it is stable across runs, engines, re-partitions, and corpus
  appends (a doc never migrates between splits when new data arrives).
  This is the only split that is safe at web scale.
- :func:`stratified_split` — EXACT per-stratum proportions via
  rank-within-stratum. One exchange on the stratum key; the window sort
  concentrates each stratum on one task, so this is for
  bounded-cardinality strata (languages, sources), not arbitrary keys —
  the docstring spells out when to fall back to :func:`hash_split`.
- :func:`balanced_sample` — at-most-N-per-group downsampling in
  deterministic hash order; the same bounded window-cap pattern as
  ``similarity._cap_hot_buckets``.
- :func:`pack_chunks` — concat-and-chunk sequence packing (the standard
  LLM pretraining layout: concatenate docs in id order, cut every
  ``target`` tokens, record which chunk each doc starts in). The running
  token total is a DISTRIBUTED prefix sum — range-partition, one tiny
  per-partition-sums collect (#partitions rows), broadcast the exclusive
  offsets back — never a global single-partition window.

All hot-path expressions are Spark built-ins (JVM-side, whole-stage
codegen); no Python UDFs. Outputs are integers/strings so the DuckDB
oracles reproduce them hash-exactly.

Reference parity: the reference (jaspersiebring/GeoCOCO) has no
sampling layer — these extend the engine for training-data pipelines
per the driver brief.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geococo_spark.operators.dedup import portable_hash60
from geococo_spark.operators.partitioning import spread

# default 90/5/5 split, expressed in basis points so every threshold
# comparison is exact integer arithmetic in BOTH engines (no float
# rounding at stratum-count boundaries)
DEFAULT_WEIGHTS_BP: Sequence[tuple[str, int]] = (
    ("train", 9000),
    ("val", 500),
    ("test", 500),
)
BP_TOTAL = 10_000


def _check_weights(weights_bp: Sequence[tuple[str, int]]) -> None:
    total = sum(bp for _, bp in weights_bp)
    if total != BP_TOTAL:
        raise ValueError(f"split weights must sum to {BP_TOTAL} bp, got {total}")
    if any(bp <= 0 for _, bp in weights_bp):
        raise ValueError("split weights must be positive")


def _split_key(id_col: str, seed: str) -> F.Column:
    """Engine-portable per-row key: md5 of ``'<seed>:<id>'``. Seed
    namespacing means two different splits of the same corpus are
    independent."""
    return F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights_bp: Sequence[tuple[str, int]] = DEFAULT_WEIGHTS_BP,
    seed: str = "split",
) -> DataFrame:
    """Assign each row to a named split by deterministic hash bucket.

    ``bucket = portable_hash60('<seed>:<id>') % 10000`` and the splits
    own contiguous basis-point ranges in declaration order. Plan shape:
    a single ``Project`` — NO exchange, no action, no sampled state.
    Properties that matter at 100 TB:

    - append-stable: new rows never move existing rows between splits
      (``df.sample`` and ``randomSplit`` both reshuffle assignments when
      the input changes);
    - engine-portable: DuckDB reproduces the bucket with
      ``CAST('0x' || substr(md5(s),1,15) AS BIGINT) % 10000``;
    - proportions are exact in expectation only (binomial error
      ~1/sqrt(n) — negligible at corpus scale; for small strata use
      :func:`stratified_split`).
    """
    _check_weights(weights_bp)
    bucket = portable_hash60(_split_key(id_col, seed)) % BP_TOTAL
    expr = F.lit(weights_bp[-1][0])
    hi = 0
    conds = []
    for name, bp in weights_bp[:-1]:
        hi += bp
        conds.append((hi, name))
    for hi, name in reversed(conds):
        expr = F.when(bucket < F.lit(hi), F.lit(name)).otherwise(expr)
    return df.withColumn("bucket", bucket.cast("long")).withColumn("split", expr)


def stratified_split(
    df: DataFrame,
    id_col: str = "doc_id",
    strata_col: str = "lang",
    weights_bp: Sequence[tuple[str, int]] = DEFAULT_WEIGHTS_BP,
    seed: str = "split",
) -> DataFrame:
    """EXACT per-stratum split proportions: rank rows within each
    stratum in deterministic hash order, then cut at integer
    thresholds. A stratum of n rows sends exactly
    ``floor(cum_bp*n/10000) - floor(prev_bp*n/10000)`` rows to each
    split — no binomial error, still fully deterministic.

    The threshold test is ``rank * 10000 <= cum_bp * n`` — pure int64
    arithmetic, so Spark and the DuckDB oracle agree on every boundary
    row (a float ``rank <= 0.9*n`` comparison would not).

    Scale shape: ONE exchange on the stratum key; the rank is a window
    sort, so each stratum must fit one task's sort budget (spills to
    disk past memory). Right for bounded-cardinality strata — languages,
    sources, domains. For high-cardinality or pathologically skewed
    strata use :func:`hash_split`, whose per-stratum error is already
    negligible at the sizes that would break this window.
    """
    _check_weights(weights_bp)
    hk = F.md5(_split_key(id_col, seed))
    w_rank = Window.partitionBy(strata_col).orderBy(hk, F.col(id_col))
    w_all = Window.partitionBy(strata_col)
    base = (
        df.withColumn("__ss_rn", F.row_number().over(w_rank).cast("long"))
        .withColumn("__ss_n", F.count(F.lit(1)).over(w_all).cast("long"))
    )
    expr = F.lit(weights_bp[-1][0])
    hi = 0
    conds = []
    for name, bp in weights_bp[:-1]:
        hi += bp
        conds.append((hi, name))
    for hi, name in reversed(conds):
        expr = F.when(
            F.col("__ss_rn") * BP_TOTAL <= F.lit(hi) * F.col("__ss_n"),
            F.lit(name),
        ).otherwise(expr)
    return base.withColumn("split", expr).drop("__ss_rn", "__ss_n")


def balanced_sample(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    n_per_group: int = 100,
    seed: str = "bal",
) -> DataFrame:
    """Keep at most ``n_per_group`` rows per group, chosen in
    deterministic hash order (so the sample is stable across runs and
    unbiased by the physical row order). The canonical "balance a
    scraped corpus across domains" operator.

    Same bounded-window pattern as ``similarity._cap_hot_buckets``: one
    exchange on the group key, per-group top-N sort. A group's rows must
    fit a task's sort spill budget — fine for domain/source groups; for
    adversarial cardinality apply :func:`hash_split`-style thresholding
    (``portable_hash60 % K < K*n/est_count``) first to pre-thin.
    """
    if n_per_group <= 0:
        raise ValueError("n_per_group must be positive")
    hk = F.md5(_split_key(id_col, seed))
    w = Window.partitionBy(group_col).orderBy(hk, F.col(id_col))
    return (
        df.withColumn("__bs_rn", F.row_number().over(w))
        .filter(F.col("__bs_rn") <= n_per_group)
        .drop("__bs_rn")
    )


def _with_running_total(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """INCLUSIVE running total of ``value_col`` in global ``order_col``
    order, as a distributed prefix sum (shared by :func:`pack_chunks`
    and :func:`take_token_budget`):

    1. ``repartitionByRange(order_col)`` + sort within partitions —
       partition p's keys all precede partition p+1's (RangePartitioner
       contract);
    2. per-partition sums: a tiny aggregate (#partitions rows) collected
       to the driver and turned into EXCLUSIVE prefix offsets;
    3. broadcast-join the offsets back, then a PER-PARTITION running sum
       (window keyed on the captured ``spark_partition_id`` — uniform,
       bounded groups).

    The naive ``SUM OVER (ORDER BY order_col)`` window would move the
    whole corpus into ONE task; every stage here is bounded at any
    corpus size, and the result depends only on the global order, not
    the sampled range boundaries.
    """
    spark = df.sparkSession
    nparts = num_partitions or spark.sparkContext.defaultParallelism
    # a compact input would evaluate the upstream projection
    # (tokenization, usually) on 1-2 cores TWICE — once for the range
    # sampler, once for the real pass. One keyed exchange of the thin
    # projected rows spreads both (round 8).
    df = spread(df, order_col)
    ranged = (
        df.repartitionByRange(nparts, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("__rt_pid", F.spark_partition_id())
    )
    # cache so the per-partition sums and the main pass see identical
    # (sampled) range boundaries
    ranged = ranged.persist()
    sums = (
        ranged.groupBy("__rt_pid")
        .agg(F.sum(F.col(value_col).cast("long")).alias("s"))
        .collect()
    )
    by_pid = {r["__rt_pid"]: r["s"] or 0 for r in sums}
    offsets, acc = [], 0
    for pid in sorted(by_pid):
        offsets.append((pid, acc))
        acc += by_pid[pid]
    if offsets:
        off_df = spark.createDataFrame(offsets, ["__rt_pid", "__rt_off"])
    else:
        off_df = spark.createDataFrame([], "`__rt_pid` int, `__rt_off` long")
    w = (
        Window.partitionBy("__rt_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.join(F.broadcast(off_df), "__rt_pid")
        .withColumn(
            out_col,
            (F.col("__rt_off") + F.sum(F.col(value_col).cast("long")).over(w)).cast(
                "long"
            ),
        )
        .drop("__rt_pid", "__rt_off")
    )


def pack_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    target: int = 512,
    num_partitions: int | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    ``id_col`` order and cut every ``target`` tokens; each doc is
    labeled with the chunk its FIRST token lands in (``chunk_id``) and
    its token offset within that chunk (``chunk_offset``). This is the
    standard fixed-context LLM pretraining layout (docs -> one token
    stream -> equal chunks); downstream, ``groupBy(chunk_id)`` +
    ``sort(chunk_offset)`` materializes training rows.

    The running token total is the distributed prefix sum of
    :func:`_with_running_total` — one range exchange + one pid exchange
    + a #partitions-row collect; every stage bounded at any corpus
    size, deterministic and engine-portable (the DuckDB oracle is the
    plain single-node window).
    """
    if target <= 0:
        raise ValueError("target must be positive")
    run = _with_running_total(df, id_col, tokens_col, "__pc_run", num_partitions)
    toks = F.col(tokens_col).cast("long")
    return (
        run.withColumn("start_tok", (F.col("__pc_run") - toks).cast("long"))
        .withColumn("chunk_id", F.expr(f"start_tok div {int(target)}"))
        .withColumn("chunk_offset", F.expr(f"start_tok % {int(target)}"))
        .drop("__pc_run")
    )


def take_token_budget(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 1_000_000,
    seed: str = "budget",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic corpus subsample to a TOKEN budget (the "give me a
    ~1B-token slice of this 100 TB corpus" operator): rank documents in
    portable md5 hash order (an unbiased, append-stable shuffle of the
    corpus — physical row order never leaks into the sample), take the
    prefix of that order while the INCLUSIVE running token total stays
    within ``budget``. A document is kept iff ALL its tokens fit —
    partially-fitting docs are excluded, so the kept total is the
    largest prefix sum <= budget.

    Same distributed prefix sum as :func:`pack_chunks`
    (:func:`_with_running_total` over the hash-order key); the filter
    then prunes everything past the budget. Adds ``sample_rank`` (the
    hash-order key, for reproducibility audits) and ``tokens_before``
    (the exclusive running total) to the kept rows.
    """
    if budget < 0:
        raise ValueError("budget must be non-negative")
    hk = F.md5(_split_key(id_col, seed))
    with_key = df.withColumn("sample_rank", hk)
    run = _with_running_total(
        with_key, "sample_rank", tokens_col, "__tb_run", num_partitions
    )
    return (
        run.filter(F.col("__tb_run") <= budget)
        .withColumn(
            "tokens_before",
            (F.col("__tb_run") - F.col(tokens_col).cast("long")).cast("long"),
        )
        .drop("__tb_run")
    )
