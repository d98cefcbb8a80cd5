"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes. Inputs are
written as parquet under the run's work directory and read back, because
the engine's real input is a table scan, not a driver-side relation.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from geococo_spark.geometry import wkb
from geococo_spark.sources import datagen


def derive_seed(*parts: int) -> int:
    """Mix integers into one 31-bit seed (stable across processes)."""
    h = 0x345678
    for p in parts:
        h = (h * 1_000_003 ^ (int(p) & 0xFFFFFFFF)) & 0xFFFFFFFFFFFF
    return h % (2**31 - 1)


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return path


# -- imagery: images + polygon labels (tiles_dense) ---------------------

IMAGE_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
        ("transform", pa.struct([(c, pa.float64()) for c in "abcdef"])),
        ("crs", pa.string()),
        ("nodata", pa.int32()),
        ("bands", pa.int32()),
    ]
)
LABEL_SCHEMA = pa.schema(
    [
        ("label_idx", pa.int64()),
        ("geometry", pa.binary()),
        ("category_id", pa.int32()),
        ("class_names", pa.string()),
        ("super_names", pa.string()),
        ("crs", pa.string()),
        ("label_minx", pa.float64()),
        ("label_miny", pa.float64()),
        ("label_maxx", pa.float64()),
        ("label_maxy", pa.float64()),
        ("geom_type", pa.string()),
    ]
)


def stage_images(path: str, n_images: int, seed: int, files: int = 8) -> str:
    """``n_images`` 256x256x3 raw rasters (``datagen.make_image_rows``)
    whose pixels depend on ``seed``, so a new seed never hits the
    kernel's content-keyed decode cache."""
    rows = datagen.make_image_rows(n_images, seed=seed)
    cols = list(zip(*rows))
    cols[1] = [bytes(b) for b in cols[1]]
    cols[7] = [dict(zip("abcdef", t)) for t in cols[7]]
    table = pa.table(dict(zip(IMAGE_SCHEMA.names, cols)), schema=IMAGE_SCHEMA)
    os.makedirs(path, exist_ok=True)
    step = -(-n_images // files)
    for i, lo in enumerate(range(0, n_images, step)):
        pq.write_table(table.slice(lo, step), os.path.join(path, f"part-{i}.parquet"))
    return path


def stage_labels(path: str, n_labels: int, seed: int, extent: float = 1000.0) -> str:
    """Octagon labels with radius in [0.5, 5) over ``extent`` units, ten
    categories (the shape of ``datagen.random_labels_df``)."""
    rng = np.random.default_rng(seed)
    cx = rng.uniform(0.0, extent, n_labels)
    cy = -rng.uniform(0.0, extent, n_labels)
    b = rng.uniform(0.5, 5.0, n_labels)
    cat = 1 + np.arange(n_labels) % 10
    geoms = [
        wkb.encode_polygon([wkb.buffer_point(x, y, r)]) for x, y, r in zip(cx, cy, b)
    ]
    table = pa.table(
        {
            "label_idx": np.arange(n_labels, dtype=np.int64),
            "geometry": pa.array(geoms, type=pa.binary()),
            "category_id": cat.astype(np.int32),
            "class_names": [f"cat_{c}" for c in cat],
            "super_names": pa.nulls(n_labels, type=pa.string()),
            "crs": [datagen.CRS] * n_labels,
            "label_minx": cx - b,
            "label_miny": cy - b,
            "label_maxx": cx + b,
            "label_maxy": cy + b,
            "geom_type": ["Polygon"] * n_labels,
        },
        schema=LABEL_SCHEMA,
    )
    return _write(table, path)


# -- stars over a tile grid (leaf_operators) -----------------------------

STAR_T = 0.35  # inner-vertex ratio: concave 8-point stars


def star_wkb(px: np.ndarray, py: np.ndarray, s: np.ndarray) -> list[bytes]:
    """WKB polygons for 8-point stars centred at (px, py) with radius s."""
    n = len(px)
    t = STAR_T
    dx = np.array([1, t, 0, -t, -1, -t, 0, t, 1], dtype=np.float64)
    dy = np.array([0, t, 1, t, 0, -t, -1, -t, 0], dtype=np.float64)
    coords = np.empty((n, 9, 2), dtype="<f8")
    coords[:, :, 0] = px[:, None] + s[:, None] * dx
    coords[:, :, 1] = py[:, None] + s[:, None] * dy
    header = np.frombuffer(struct.pack("<BIII", 1, 3, 1, 9), dtype=np.uint8)
    buf = np.empty((n, 13 + 144), dtype=np.uint8)
    buf[:, :13] = header
    buf[:, 13:] = coords.view(np.uint8).reshape(n, 144)
    return [row.tobytes() for row in buf]


def stage_stars(path: str, n_stars: int, grid: int, pitch: float, seed: int) -> str:
    """``n_stars`` stars with radius in [8, 64) over a ``grid`` x
    ``grid`` tile extent of ``pitch`` units (y grows downwards)."""
    rng = np.random.default_rng(seed)
    extent = grid * pitch
    px = rng.uniform(0.0, extent, n_stars)
    py = -rng.uniform(0.0, extent, n_stars)
    s = rng.uniform(8.0, 64.0, n_stars)
    table = pa.table(
        {
            "label_id": pa.array(np.arange(n_stars, dtype=np.int64)),
            "label_minx": px - s,
            "label_miny": py - s,
            "label_maxx": px + s,
            "label_maxy": py + s,
            "geometry": pa.array(star_wkb(px, py, s), type=pa.binary()),
        }
    )
    return _write(table, path)


def tile_grid(spark, grid: int, pitch: float):
    """``grid`` x ``grid`` tiles of ``pitch`` units, the shape of
    ``grid.with_window_bounds`` output."""
    return spark.range(grid * grid).selectExpr(
        "id AS tile_id",
        f"CAST((id DIV {grid}) * {pitch} AS DOUBLE) AS tile_minx",
        f"CAST(-(id % {grid} + 1) * {pitch} AS DOUBLE) AS tile_miny",
        f"CAST((id DIV {grid} + 1) * {pitch} AS DOUBLE) AS tile_maxx",
        f"CAST(-(id % {grid}) * {pitch} AS DOUBLE) AS tile_maxy",
    )


# -- corpus: documents + embeddings (leaf_operators) --------------------

VOCAB = 4000


class Corpus:
    """Documents with planted near-duplicates and 64-d vectors with
    planted near-duplicate pairs.

    - ``variants``: copies of a base document with one token replaced
      (3-shingle Jaccard about 0.85 to the base);
    - ``chains``: sequences where each document replaces one token of
      the previous one, so the ends fall below the Jaccard threshold and
      connected components need several rounds;
    - ``exact``: verbatim copies (SimHash distance 0).
    """

    def __init__(self, n_docs: int, n_vecs: int, dim: int, seed: int):
        rng = np.random.default_rng(seed)
        docs: list[np.ndarray] = []
        self.planted_pairs: set[tuple[int, int]] = set()
        self.exact_pairs: set[tuple[int, int]] = set()

        def fresh() -> np.ndarray:
            return rng.integers(0, VOCAB, int(rng.integers(30, 61)))

        def mutate(tokens: np.ndarray) -> np.ndarray:
            out = tokens.copy()
            out[int(rng.integers(0, len(out)))] = int(rng.integers(0, VOCAB))
            return out

        while len(docs) < n_docs:
            kind = rng.random()
            base = fresh()
            start = len(docs)
            docs.append(base)
            if kind < 0.10:  # star of variants around a base
                for _ in range(int(rng.integers(2, 5))):
                    docs.append(mutate(base))
                    self.planted_pairs.add((start, len(docs) - 1))
            elif kind < 0.14:  # chain of single-token edits
                cur = base
                for _ in range(int(rng.integers(8, 14))):
                    cur = mutate(cur)
                    docs.append(cur)
                    self.planted_pairs.add((len(docs) - 2, len(docs) - 1))
            elif kind < 0.17:  # verbatim copy
                docs.append(base.copy())
                self.exact_pairs.add((start, len(docs) - 1))
        docs = docs[:n_docs]
        self.planted_pairs = {p for p in self.planted_pairs if p[1] < n_docs}
        self.exact_pairs = {p for p in self.exact_pairs if p[1] < n_docs}
        self.tokens = docs
        self.texts = [" ".join(f"w{t}" for t in d) for d in docs]

        vecs = rng.standard_normal((n_vecs, dim)).astype(np.float32)
        n_dup = n_vecs // 10
        src = rng.choice(n_vecs // 2, n_dup, replace=False)
        dst = n_vecs // 2 + np.arange(n_dup)
        vecs[dst] = vecs[src] + 0.03 * rng.standard_normal((n_dup, dim)).astype(np.float32)
        self.vectors = vecs

    def stage(self, docs_path: str, vecs_path: str) -> None:
        _write(
            pa.table(
                {
                    "doc_id": pa.array(np.arange(len(self.texts), dtype=np.int64)),
                    "text": pa.array(self.texts, type=pa.string()),
                }
            ),
            docs_path,
        )
        n, dim = self.vectors.shape
        emb = pa.FixedSizeListArray.from_arrays(
            pa.array(self.vectors.reshape(-1)), dim
        ).cast(pa.list_(pa.float32()))
        _write(
            pa.table(
                {"vec_id": pa.array(np.arange(n, dtype=np.int64)), "embedding": emb}
            ),
            vecs_path,
        )

    def shingles(self, doc: int, k: int = 3) -> set[tuple[int, ...]]:
        t = self.tokens[doc].tolist()
        return {tuple(t[i : i + k]) for i in range(len(t) - k + 1)}

    def jaccard(self, a: int, b: int) -> float:
        """Exact word-3-shingle Jaccard similarity of two documents."""
        sa, sb = self.shingles(a), self.shingles(b)
        return len(sa & sb) / len(sa | sb)
