"""Seeded synthetic inputs for the benchmark workloads, with index-free
reference answers for every operator the benchmark checks.

The points are generated inside Spark from hashes of the row id and the
seed; the small inputs (queries, documents, embeddings) with numpy from the
seed. The same seed gives the same inputs, and the engine only ever
receives the resulting DataFrames. The benchmark reads no files: the
skewed point set re-derives the legacy lineitem point formula
(``entry.POINTS_SQL``) over lineitem-style composite keys.

The constants below are copied from the legacy ``bench.py`` suite on
purpose, not imported, so that deleting legacy code cannot change the
benchmark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

AMP = 8  # replicas per base point, as in bench.py
JITTER = 1000  # replica jitter in units of 1e-7 degrees, as in bench.py
KNN_K = 5
RADIUS = 0.5
TILE_DEPTH = 8
N_POLYGONS = 25
ANN_QUERIES = 20
ANN_K = 3
MINHASH_PERM = 8
MINHASH_BANDS = 4
VOCAB = 1000  # large enough that distinct documents share no 3-word shingle


def build_params(n_points: int) -> dict:
    """The legacy bench.py build configuration (depth 24, mean splits,
    leaf 512, hand-off threshold max(2e5, min(n/8, 4e6)))."""
    return {
        "max_depth": 24,
        "strategy": "mean",
        "leaf_size": 512,
        "local_threshold": max(200_000, min(n_points // 8, 4_000_000)),
    }


def points(spark, seed: int, n_base: int, layout: str, partitions: int):
    """(key, x, y) with n_base * AMP rows, generated inside Spark from
    hashes of the row id and the seed (so the partitioning does not
    change the values).

    Base keys are lineitem-style composite keys l_orderkey * 8 +
    l_linenumber with seeded order keys and line numbers. ``skewed``
    places each base key by the POINTS_SQL formula (70 % in 24 clusters of
    +-1 degree, 30 % uniform) and replicates it AMP times with a seeded
    jitter of at most 1e-4 degrees, which keeps the cluster structure.
    ``uniform`` places the same keys uniformly over the same extent."""
    from pyspark.sql import functions as F

    def h(*cols, salt):
        return F.xxhash64(*cols, F.lit(seed), F.lit(salt))

    def unit(col, salt):  # uniform in [0, 1)
        return F.pmod(h(col, salt=salt), F.lit(1 << 52)).cast("double") / float(1 << 52)

    b = F.expr(f"id div {AMP}")
    order = b * 4 + F.pmod(h(b, salt=1), F.lit(4))
    base = order * 8 + 1 + F.pmod(h(b, salt=2), F.lit(7))
    df = spark.range(0, n_base * AMP, numPartitions=partitions).select(
        base.alias("base"), (base * AMP + F.col("id") % AMP).alias("key"))
    if layout == "skewed":
        hk = F.col("base") * 2654435761
        clustered = hk % 100 < 70
        c = hk % 24
        kx = F.col("base") * 40503 + 12345
        ky = F.col("base") * 69069 + 1013904223

        def jitter(salt):
            return (F.pmod(h(F.col("key"), salt=salt), F.lit(2 * JITTER + 1))
                    - JITTER) / 1.0e7

        x = F.when(
            clustered,
            ((c * 137) % 340).cast("double") - 169.5
            + ((kx % 20001).cast("double") - 10000.0) / 10000.0,
        ).otherwise((kx % 3600000).cast("double") / 10000.0 - 180.0) + jitter(3)
        y = F.when(
            clustered,
            ((c * 61) % 160).cast("double") - 79.5
            + ((ky % 20001).cast("double") - 10000.0) / 10000.0,
        ).otherwise((ky % 1700000).cast("double") / 10000.0 - 85.0) + jitter(4)
    elif layout == "uniform":
        x = unit(F.col("key"), 5) * 360.0 - 180.0
        y = unit(F.col("key"), 6) * 170.0 - 85.0
    else:
        raise ValueError(f"unknown layout {layout!r}")
    return df.select("key", x.alias("x"), y.alias("y"))


def radius_sample_filter(key: str = "key") -> str:
    """One replica of every 31st-ish base key: the legacy radius-join
    input (bench.py joins ``key % 31 < 2`` of the unamplified base; the
    amplified replicas sit 1e-4 degrees apart and would measure pair
    explosion instead of join throughput)."""
    return f"{key} % {AMP} = 0 AND ({key} div {AMP}) % 31 < 2"


def radius_sample(k: np.ndarray) -> np.ndarray:
    """Mask of :func:`radius_sample_filter` over a key array."""
    return (k % AMP == 0) & ((k // AMP) % 31 < 2)


def queries(rng: np.random.Generator, grid: tuple[int, int],
            first_id: int = 0) -> pd.DataFrame:
    """kNN query points over the data extent of KNN_QUERIES_SQL, one
    uniform point in each cell of a ``grid`` = (columns, rows) grid. The
    stratification keeps the batch's cost from depending on how many
    queries a seed happens to drop next to a cluster."""
    gx, gy = grid
    ix, iy = np.meshgrid(np.arange(gx), np.arange(gy), indexing="ij")
    n = gx * gy
    u = (ix.ravel() + rng.random(n)) / gx
    v = (iy.ravel() + rng.random(n)) / gy
    return pd.DataFrame(
        {
            "query_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "qx": u * 340.0 - 170.0,
            "qy": v * 160.0 - 80.0,
        }
    )


def rect_params(nk: int) -> tuple[float, float, float, float]:
    cx = float((nk * 97) % 300) - 149.5
    cy = float((nk * 53) % 140) - 69.5
    return cx, cy, float(5 + nk % 7), float(4 + nk % 5)


def rectangles() -> list[tuple[int, list[tuple[float, float]]]]:
    """The 25 legacy PIP rectangles, CCW."""
    out = []
    for nk in range(N_POLYGONS):
        cx, cy, hw, hh = rect_params(nk)
        out.append((nk, [(cx - hw, cy - hh), (cx + hw, cy - hh),
                         (cx + hw, cy + hh), (cx - hw, cy + hh)]))
    return out


def stars() -> list[tuple[int, list[tuple[float, float]]]]:
    """25 concave 4-pointed stars at the rectangle centres, CCW."""
    out = []
    for nk in range(N_POLYGONS):
        cx, cy, _, _ = rect_params(nk)
        a = float(4 + nk % 5)
        b = float(2 + nk % 3)
        out.append((nk, [
            (cx + a, cy), (cx + b / 2, cy + b / 2), (cx, cy + a),
            (cx - b / 2, cy + b / 2), (cx - a, cy), (cx - b / 2, cy - b / 2),
            (cx, cy - a), (cx + b / 2, cy - b / 2),
        ]))
    return out


def documents(rng: np.random.Generator, n_docs: int, n_dup: int) -> pd.DataFrame:
    """(doc_id, text): n_docs random word documents plus n_dup exact copies
    of distinct originals under new ids, so MinHash-LSH finds exactly n_dup
    candidate pairs."""
    lens = rng.integers(30, 61, n_docs)
    words = rng.integers(0, VOCAB, int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(f"w{w}" for w in doc) for doc in np.split(words, cuts)]
    orig = rng.choice(n_docs, n_dup, replace=False)
    texts += [texts[i] for i in orig]
    return pd.DataFrame(
        {"doc_id": np.arange(n_docs + n_dup, dtype=np.int64), "text": texts}
    )


def embeddings(rng: np.random.Generator, n_vec: int, dim: int = 64) -> pd.DataFrame:
    v = rng.standard_normal((n_vec, dim)).astype(np.float32)
    return pd.DataFrame(
        {"vec_id": np.arange(n_vec, dtype=np.int64), "embedding": list(v)}
    )


# ---------------------------------------------------------------------------
# index-free reference answers (numpy brute force over the generated inputs)
# ---------------------------------------------------------------------------

def as_float32(v: np.ndarray) -> np.ndarray:
    """Coordinates as the index stores them (float32), widened back."""
    return v.astype(np.float32).astype(np.float64)


def count_in_convex(x: np.ndarray, y: np.ndarray, polys) -> int:
    """Points strictly left of every CCW edge, summed over polygons."""
    total = 0
    for _, vs in polys:
        inside = np.ones(len(x), dtype=bool)
        m = len(vs)
        for i in range(m):
            x1, y1 = vs[i]
            x2, y2 = vs[(i + 1) % m]
            inside &= (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1) > 0.0
        total += int(inside.sum())
    return total


def count_in_raycast(x: np.ndarray, y: np.ndarray, polys) -> int:
    """Even-odd rule, summed over polygons."""
    total = 0
    for _, vs in polys:
        inside = np.zeros(len(x), dtype=bool)
        m = len(vs)
        for i in range(m):
            x1, y1 = vs[i]
            x2, y2 = vs[(i + 1) % m]
            crosses = (y1 > y) != (y2 > y)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
            inside ^= crosses & (x < xint)
        total += int(inside.sum())
    return total


def count_tiles(x: np.ndarray, y: np.ndarray, depth: int = TILE_DEPTH) -> int:
    """Distinct non-empty Morton tiles over the world extent."""
    top = (1 << depth) - 1
    ix = np.clip(np.floor((x - -180.0) * float((1 << depth) / 360.0)), 0, top)
    iy = np.clip(np.floor((y - -90.0) * float((1 << depth) / 180.0)), 0, top)
    return int(np.unique(ix.astype(np.int64) * (top + 1) + iy.astype(np.int64)).size)


def count_radius_pairs(x: np.ndarray, y: np.ndarray, radius: float = RADIUS) -> int:
    """Unordered pairs closer than ``radius`` (keys are unique)."""
    r2 = radius * radius
    total = 0
    step = 1024
    for s in range(0, len(x), step):
        dx = x[s:s + step, None] - x[None, s:]
        dy = y[s:s + step, None] - y[None, s:]
        close = dx * dx + dy * dy < r2
        # keep j > i only: row t of the chunk is point s + t, column j is s + j
        close &= np.arange(close.shape[1])[None, :] > np.arange(close.shape[0])[:, None]
        total += int(close.sum())
    return total
