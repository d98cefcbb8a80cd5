"""The benchmark workloads.

Each workload stages fresh inputs for a seed (untimed), makes one timed
call through the engine's public functions, and then digests and checks
that call's outputs (untimed).
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from geococo_spark import pipeline, sinks
from geococo_spark.checkpoint import EngineMetrics
from geococo_spark.coco import CocoState
from geococo_spark.operators import dedup, similarity, spatial_join
from geococo_spark.streaming.annotate import StreamingAnnotator

import gen
from spans import KERNEL_COUNTERS, Tracer

WINDOWS = [(128, 128), (256, 256)]
COCO_TABLES = ("images", "annotations", "categories", "sources")


@dataclass
class Result:
    items: int  # work units of the call: images or input rows
    seconds: float  # timed duration of the call
    digest: str  # order-independent digest of every output
    counters: dict = field(default_factory=dict)


def frame_digest(df) -> str:
    """Order-independent digest of a DataFrame: rows, hash sum, hash xor."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("s"),
        F.bit_xor(h).alias("x"),
    ).first()
    return f"{row['n']}:{row['s']}:{row['x']}"


def rows_digest(rows) -> str:
    return repr(sorted(tuple(r) for r in rows))


def combine(parts: list[str]) -> str:
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def dense(ids: list[int], lo: int, hi: int) -> bool:
    """True when ``ids`` are exactly lo..hi, each once."""
    return sorted(ids) == list(range(lo, hi + 1))


class Workload:
    """``prepare`` stages inputs, ``run`` is the timed work, ``finish``
    digests the outputs and ``check`` validates them."""

    name = ""
    rate_name = ""  # how the run log names ``Result.items`` per second

    def __init__(self, spark, work: str, tracer: Tracer | None):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self._n = 0

    def fresh_dir(self) -> str:
        self._n += 1
        d = os.path.join(self.work, f"{self.name}_{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def span(self, name: str, traced: bool):
        return self.tracer.span(name) if traced else contextlib.nullcontext()

    def call(self, inp: dict, traced: bool) -> Result:
        counters = self.probe(inp) if traced else {}
        t0 = time.perf_counter()
        with self.span("call", traced):
            items = self.run(inp, traced)
        seconds = time.perf_counter() - t0
        digest, more = self.finish(inp)
        counters.update(more)
        return Result(items, seconds, digest, counters)

    def probe(self, inp: dict) -> dict:
        """Untimed extra work of a traced call, outside its span."""
        return {}

    def prepare(self, seed: int, scale: float) -> dict:
        """Stage inputs of ``scale`` times the workload's size."""
        raise NotImplementedError

    def run(self, inp: dict, traced: bool) -> int:
        raise NotImplementedError

    def finish(self, inp: dict) -> tuple[str, dict]:
        raise NotImplementedError

    def check(self, inp: dict, res: Result) -> list[str]:
        raise NotImplementedError


# -- tiles_dense ---------------------------------------------------------


@contextlib.contextmanager
def traced_internals(tracer: Tracer, timings: dict):
    """Record spans for the pipeline phases and the state snapshot that
    ``StreamingAnnotator.process_batch`` runs internally."""
    orig_append, orig_save = pipeline.append_dataset, CocoState.save_tables

    def append_dataset(*args, **kwargs):
        w0 = time.time()
        out = orig_append(*args, **kwargs)
        tracer.add_timings(w0, time.time(), timings)
        return out

    def save_tables(self, path):
        with tracer.span("coco.snapshot"):
            orig_save(self, path)

    pipeline.append_dataset, CocoState.save_tables = append_dataset, save_tables
    try:
        yield
    finally:
        pipeline.append_dataset, CocoState.save_tables = orig_append, orig_save


class TilesDense(Workload):
    """A dense batch of staged images appended to a durable dataset
    (``StreamingAnnotator`` with stage checkpoints and the in-stage tile
    sink), then the four COCO tables exported with ``write_table``."""

    name, rate_name = "tiles_dense", "images_per_s"
    N_IMAGES = 24
    N_LABELS = 2000

    def prepare(self, seed: int, scale: float) -> dict:
        d = self.fresh_dir()
        n = max(1, round(self.N_IMAGES * scale))
        gen.stage_images(f"{d}/images", n, seed)
        gen.stage_labels(f"{d}/labels", self.N_LABELS, seed)
        return {"dir": d, "items": n}

    def run(self, inp: dict, traced: bool) -> int:
        d = inp["dir"]
        read = self.spark.read.parquet
        # accumulators as in jobs/annotate.py; the phase split only traced
        inp["metrics"] = EngineMetrics(self.spark, phases=traced)
        timings: dict = {}
        kwargs = dict(
            window_bounds=WINDOWS,
            id_attribute="category_id",
            name_attribute="class_names",
            checkpoint_dir=f"{d}/ckpt",
            tile_sink_dir=f"{d}/sink",
            metrics=inp["metrics"],
        )
        if traced:
            kwargs["timings"] = timings
        internals = (
            traced_internals(self.tracer, timings) if traced else contextlib.nullcontext()
        )
        with internals:
            ann = StreamingAnnotator(self.spark, read(f"{d}/labels"), f"{d}/state", **kwargs)
            ann.process_batch(read(f"{d}/images"), 0)
            for t in COCO_TABLES:
                with self.span("sinks.write_table", traced):
                    sinks.write_table(getattr(ann.state, t), f"{d}/out/{t}")
        inp["counts"] = dict(ann.state.cached_counts)
        return inp["items"]

    def finish(self, inp: dict) -> tuple[str, dict]:
        d = inp["dir"]
        read = self.spark.read.parquet
        parts = [frame_digest(read(f"{d}/out/{t}")) for t in COCO_TABLES]
        parts.append(frame_digest(read(f"{d}/sink/data")))
        snap = inp["metrics"].snapshot()
        counters = {out: snap[k] for k, out in KERNEL_COUNTERS.items() if k in snap}
        counters["checkpoint.bytes_written"] = du(f"{d}/ckpt")
        counters["coco.snapshot_bytes"] = du(f"{d}/state/epoch_0")
        return combine(parts), counters

    def check(self, inp: dict, res: Result) -> list[str]:
        errs = []
        d = inp["dir"]
        read = self.spark.read.parquet
        img_ids = [r[0] for r in read(f"{d}/out/images").select("id").collect()]
        anns = read(f"{d}/out/annotations").select("id", "image_id").collect()
        if not img_ids or not dense(img_ids, 1, len(img_ids)):
            errs.append("image ids are not dense from 1")
        if not anns or not dense([r[0] for r in anns], 1, len(anns)):
            errs.append("annotation ids are not dense from 1")
        if not {r[1] for r in anns} <= set(img_ids):
            errs.append("annotation refers to a missing image")
        counts = inp["counts"]
        if (counts["images"], counts["annotations"]) != (len(img_ids), len(anns)):
            errs.append("snapshot counts disagree with the exported tables")
        if read(f"{d}/sink/data").count() != len(img_ids):
            errs.append("tile sink rows != COCO images")
        if res.counters.get("tile_kernel.decode_cache_hits", 0) != 0:
            errs.append("decode cache served a timed call (stale image content)")
        return errs


# -- leaf_operators ------------------------------------------------------


class LeafOperators(Workload):
    """The engine's leaf operators on generated tables:

    - the exact polygon join of a tile grid against concave stars, where
      the exact residual, not bbox containment, decides many pairs;
    - MinHash pairs into connected components, SimHash pairs and
      embedding near-duplicates over a corpus with planted clusters.
    """

    name, rate_name = "leaf_operators", "rows_per_s"
    GRID, PITCH = 200, 64.0
    N_STARS = 24_000
    SMALL_GRID, SMALL_STARS = 8, 200  # checked against the nested-loop join
    N_DOCS = 6000
    N_VECS = 3000
    DIM = 64
    JACCARD = 0.5
    HAMMING = 3
    COSINE = 0.9

    def prepare(self, seed: int, scale: float) -> dict:
        d = self.fresh_dir()
        n_stars, n_docs, n_vecs = (
            max(1, round(n * scale)) for n in (self.N_STARS, self.N_DOCS, self.N_VECS)
        )
        gen.stage_stars(f"{d}/stars", n_stars, self.GRID, self.PITCH, seed)
        corpus = gen.Corpus(n_docs, n_vecs, self.DIM, seed)
        corpus.stage(f"{d}/docs", f"{d}/vecs")
        return {"dir": d, "seed": seed, "corpus": corpus, "items": n_stars + n_docs + n_vecs}

    def _join(self, tiles, labels, exact: bool):
        return spatial_join.spatial_join(
            tiles, labels, cell_size=self.PITCH, label_id="label_id",
            broadcast_side="tiles", exact=exact,
        ).select("tile_id", "label_id")

    def probe(self, inp: dict) -> dict:
        # bbox-only candidates: the denominator of the residual share
        with self.span("probe", True), self.span("spatial_join.bbox", True):
            tiles = gen.tile_grid(self.spark, self.GRID, self.PITCH)
            inp["bbox_pairs"] = self._join(
                tiles, self.spark.read.parquet(f"{inp['dir']}/stars"), exact=False
            ).count()
        return {}

    def run(self, inp: dict, traced: bool) -> int:
        read = self.spark.read.parquet
        d = inp["dir"]
        docs, vecs = read(f"{d}/docs"), read(f"{d}/vecs")
        out = inp["out"] = {}
        with self.span("spatial_join.exact", traced):
            tiles = gen.tile_grid(self.spark, self.GRID, self.PITCH)
            inp["star_digest"] = frame_digest(self._join(tiles, read(f"{d}/stars"), exact=True))
        with self.span("dedup.minhash_lsh_pairs", traced):
            pairs = dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", threshold=self.JACCARD, max_bucket_size=64
            ).persist()
            out["minhash"] = pairs.collect()
        with self.span("dedup.duplicate_clusters", traced):
            out["clusters"] = dedup.duplicate_clusters(pairs).collect()
        pairs.unpersist()
        with self.span("dedup.simhash_pairs", traced):
            out["simhash"] = dedup.simhash_pairs(
                docs, "doc_id", "text", max_hamming=self.HAMMING, max_bucket_size=64
            ).collect()
        with self.span("similarity.embedding_near_duplicates", traced):
            out["embedding"] = similarity.embedding_near_duplicates(
                vecs, dim=self.DIM, threshold=self.COSINE, n_planes=8, n_tables=6
            ).collect()
        return inp["items"]

    def finish(self, inp: dict) -> tuple[str, dict]:
        out = inp["out"]
        counters = {}
        if "bbox_pairs" in inp:
            n_exact = int(inp["star_digest"].split(":")[0])
            counters["spatial_join.exact_residual_share"] = 1.0 - n_exact / inp["bbox_pairs"]
        parts = [inp["star_digest"]] + [rows_digest(out[k]) for k in sorted(out)]
        return combine(parts), counters

    def check(self, inp: dict, res: Result) -> list[str]:
        return self._check_join(inp) + self._check_corpus(inp)

    def _check_join(self, inp: dict) -> list[str]:
        path = gen.stage_stars(
            f"{inp['dir']}/small", self.SMALL_STARS, self.SMALL_GRID, self.PITCH, inp["seed"]
        )
        labels = self.spark.read.parquet(path)
        tiles = gen.tile_grid(self.spark, self.SMALL_GRID, self.PITCH)
        got = {tuple(r) for r in self._join(tiles, labels, exact=True).collect()}
        ref = {
            tuple(r)
            for r in spatial_join.spatial_join_brute_force(tiles, labels, label_id="label_id")
            .select("tile_id", "label_id")
            .collect()
        }
        errs = [] if got == ref and ref else ["spatial_join differs from brute force"]
        if inp["star_digest"].startswith("0:"):
            errs.append("star join returned no pairs")
        return errs

    def _check_corpus(self, inp: dict) -> list[str]:
        errs = []
        c, out = inp["corpus"], inp["out"]
        mh = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out["minhash"]}
        if any(a >= b or abs(c.jaccard(a, b) - j) > 1e-6 or j < self.JACCARD
               for (a, b), j in mh.items()):
            errs.append("minhash pair with a wrong or sub-threshold Jaccard")
        if len(c.planted_pairs & set(mh)) < 0.99 * len(c.planted_pairs):
            errs.append("minhash recall of planted near-duplicates < 0.99")
        # connected components of the returned pairs, minimum id per component
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in mh:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in parent}
        got = {r["doc_id"]: r["cluster_id"] for r in out["clusters"]}
        if got != want:
            errs.append("duplicate_clusters differs from union-find over its pairs")
        sh = {(r["id_a"], r["id_b"]) for r in out["simhash"]}
        if not c.exact_pairs <= sh or any(r["hamming"] > self.HAMMING for r in out["simhash"]):
            errs.append("simhash missed a verbatim copy or exceeded the distance")
        v = c.vectors / np.linalg.norm(c.vectors, axis=1, keepdims=True)
        cos = v @ v.T
        truth = {(int(a), int(b)) for a, b in zip(*np.nonzero(np.triu(cos, 1) >= self.COSINE))}
        emb = {(r["id_a"], r["id_b"]) for r in out["embedding"]}
        if any(a >= b or cos[a, b] < self.COSINE - 1e-5 for a, b in emb):
            errs.append("embedding pair below the cosine threshold")
        if len(truth & emb) < 0.99 * len(truth):
            errs.append("embedding recall < 0.99")
        return errs


WORKLOADS = {w.name: w for w in (TilesDense, LeafOperators)}
