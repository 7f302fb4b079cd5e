"""One benchmark run of one workload; started and supervised by run.py.

The workload runs in this one process on local[n] (n = half the CPUs this
process may use, see ``task_slots``) as a closed loop with one client:
each engine call starts when the previous one has finished. Set-up ends
with the session's first build and a warm-up of the queries; the timed
loop then cycles the index queries (small and large kNN batch, convex
PIP) and a rebuild of the index. Every call's output row count is checked
against an answer computed without the index (inputs.py). A call that
raises or returns a wrong count is counted as failed; the run goes on.

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` is a separate run for the per-layer metrics: it alternates
plain and traced passes over the index queries and the side suite
(ray-cast PIP, tile raster, radius join, MinHash-LSH, brute-force ANN;
the ratio of the two is the tracing overhead), wraps public engine functions in spans, tags each
operator call's Spark jobs with a job group, joins the Spark event log to
the spans, and makes direct calls into single layers. It writes the
per-layer file.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

import inputs
from spans import Tracer, group_totals, read_event_log

# input sizes; ``sf0.001`` is the self-test scale: 6,000 base points, the
# row count of the sf0.001 lineitem table the legacy points come from
# (kNN batches are query grids: 8 x 5 = 40 and 20 x 10 = 200 queries)
SCALES = {
    "full": {"n_base": 50_000, "knn_small": (8, 5), "knn_large": (20, 10),
             "docs": 2_000, "dups": 50, "vecs": 2_000},
    "sf0.001": {"n_base": 6_000, "knn_small": (8, 5), "knn_large": (10, 10),
                "docs": 200, "dups": 10, "vecs": 200},
}
SETUP_REPS = 3
QUERY_POOL = 16  # distinct 40-query sets the small kNN calls cycle through

QUERIES = ["knn_small", "knn_large", "pip_convex"]
# one round of the timed loop. The session's first build runs about twice
# as long as later ones (JIT, Python worker start), so it is set-up, and
# build_s is the median rebuild: samples spread over the whole run, which
# a single build cannot be, ride out the host's slow stretches. The
# rebuild opens the round, so that the second one fits; the short calls
# run twice a round: their per-call jitter is the widest
TIMED = ["build", "knn_small", "pip_convex", "knn_large", "knn_small", "pip_convex"]
# after the first build: the first query calls of a fresh JVM run up to
# twice as slow as later ones, the second ones still 20-40 % slow (the
# large kNN batch runs the small one's code, and its first call is not
# slower)
WARMUP = ["knn_small", "pip_convex", "knn_small", "pip_convex"]
# traced run only: sub-second calls whose per-call jitter on a shared
# 4-core host (20-50 %) is wider than any useful regression bound
SIDE_SUITE = ["pip_raycast", "tile_raster", "radius_join", "minhash_lsh",
              "ann_brute"]
# why each workload exists: BASELINE.md
WORKLOADS = {"build_skewed": "skewed", "build_uniform": "uniform"}


def task_slots(cores: int) -> int:
    """Spark task slots: half the CPUs. Each task keeps a JVM thread and a
    Python worker busy, and the driver JVM and Python need CPU too; with
    one slot per CPU a task that loses its CPU to another tenant stalls
    its whole stage (measured on a shared 4-CPU host with two busy
    neighbour processes: rebuilds 10-40 % slower at local[4], unchanged
    at local[2])."""
    return max(1, cores // 2)


def host_facts(seed: int) -> dict:
    import pyspark

    cores = len(os.sched_getaffinity(0))
    return {
        "cores": cores,
        "task_slots": task_slots(cores),
        "mem_total_mb": meminfo_mb("MemTotal"),
        "mem_available_mb": meminfo_mb("MemAvailable"),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": np.__version__,
        "seed": seed,
    }


def meminfo_mb(field: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"{field} missing from /proc/meminfo")


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM (the gateway process pyspark started;
    spark-submit execs into java, so it is that process)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing for the JVM")


def median(v: list[float]) -> float:
    return float(statistics.median(v))


class Run:
    """Inputs, expected answers and engine handles of one run; one method
    per benchmarked operator call, each returning its output row count."""

    def __init__(self, args, spark, slots: int):
        from linear_kdtree_spark.operators.pip import Polygon

        self.args = args
        self.spark = spark
        self.slots = slots
        self.scale = SCALES[args.scale]
        self.layout = WORKLOADS[args.workload]
        # independent streams per input kind, so resizing one input does
        # not change the others
        rng_q, rng_docs, rng_vecs = (
            np.random.default_rng(s)
            for s in np.random.SeedSequence(args.seed).spawn(3))
        self.small_pdfs = [
            inputs.queries(rng_q, self.scale["knn_small"], i * 1000)
            for i in range(QUERY_POOL)
        ]
        self.large_pdf = inputs.queries(rng_q, self.scale["knn_large"])
        self.n_small, self.n_large = len(self.small_pdfs[0]), len(self.large_pdf)
        self.docs_pdf = inputs.documents(rng_docs, self.scale["docs"], self.scale["dups"])
        self.vecs_pdf = inputs.embeddings(rng_vecs, self.scale["vecs"])
        self.rects = [Polygon(i, v) for i, v in inputs.rectangles()]
        self.stars = [Polygon(i, v) for i, v in inputs.stars()]
        self.pts = None
        self.idx = None
        self.small_i = 0

    # -------------------------------------------------------------- set-up
    def scan(self) -> float:
        """Generate the points in Spark and cache them: the benchmark's
        stand-in for scan + amplify + persist. Returns its seconds; the
        points are the same on every call."""
        if self.pts is not None:
            self.pts.unpersist(blocking=True)
        t0 = time.perf_counter()
        self.pts = inputs.points(
            self.spark, self.args.seed, self.scale["n_base"], self.layout,
            2 * self.slots,
        ).persist()
        self.n = self.pts.count()
        dt = time.perf_counter() - t0
        self.params = inputs.build_params(self.n)
        return dt

    def query_frames(self) -> None:
        self.small_dfs = [self.spark.createDataFrame(p) for p in self.small_pdfs]
        self.large_df = self.spark.createDataFrame(self.large_pdf)

    def side_inputs(self) -> None:
        """The radius-join sample, documents and embeddings."""
        from pyspark.sql import functions as F

        spark = self.spark
        self.sub = self.pts.filter(inputs.radius_sample_filter()).persist()
        self.sub.count()
        self.docs = spark.createDataFrame(self.docs_pdf).persist()
        self.docs.count()
        self.vecs = spark.createDataFrame(self.vecs_pdf).persist()
        self.vecs.count()
        self.qv = self.vecs.filter(F.col("vec_id") < inputs.ANN_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding"))

    def expected_counts(self) -> dict[str, int]:
        """Row counts every call must return, from index-free references
        over the generated points."""
        self.pdf = self.pts.toPandas()
        x, y = self.pdf["x"].to_numpy(), self.pdf["y"].to_numpy()
        x32, y32 = inputs.as_float32(x), inputs.as_float32(y)
        sub = inputs.radius_sample(self.pdf["key"].to_numpy())
        k = inputs.KNN_K
        return {
            "build": self.n,
            "knn_small": self.n_small * k,
            "knn_large": self.n_large * k,
            "pip_convex": inputs.count_in_convex(x32, y32, inputs.rectangles()),
            "pip_raycast": inputs.count_in_raycast(x32, y32, inputs.stars()),
            "tile_raster": inputs.count_tiles(x, y),
            "radius_join": inputs.count_radius_pairs(x[sub], y[sub]),
            "minhash_lsh": self.scale["dups"],
            "ann_brute": inputs.ANN_QUERIES * inputs.ANN_K,
        }

    # ----------------------------------------------------------- operators
    def build(self) -> int:
        """(Re)build the index; the previous one leaves the cache first."""
        from linear_kdtree_spark.operators.build import lkt_build

        if self.idx is not None:
            self.idx.points.unpersist(blocking=True)
        self.idx = lkt_build(self.pts, num_partitions=self.slots, **self.params)
        self.idx.points = self.idx.points.persist()
        return self.idx.points.count()

    def knn_small(self) -> int:
        from linear_kdtree_spark.operators.knn import knn

        q = self.small_dfs[self.small_i % QUERY_POOL]
        self.small_i += 1
        return knn(self.idx, q, inputs.KNN_K).count()

    def knn_large(self) -> int:
        from linear_kdtree_spark.operators.knn import knn

        return knn(self.idx, self.large_df, inputs.KNN_K).count()

    def pip_convex(self) -> int:
        from linear_kdtree_spark.operators.pip import point_in_polygons

        return point_in_polygons(self.idx, self.rects, exact="convex").count()

    def pip_raycast(self) -> int:
        from linear_kdtree_spark.operators.pip import point_in_polygons

        return point_in_polygons(self.idx, self.stars, exact="raycast").count()

    def tile_raster(self) -> int:
        from linear_kdtree_spark.operators.raster import rasterize

        return rasterize(self.pts, inputs.TILE_DEPTH).count()

    def radius_join(self) -> int:
        from linear_kdtree_spark.operators.spatial_join import radius_join

        return radius_join(self.sub, self.sub, inputs.RADIUS, dedup_pairs=True).count()

    def minhash_lsh(self) -> int:
        from linear_kdtree_spark.operators.dedup import lsh_candidate_pairs

        return lsh_candidate_pairs(
            self.docs, inputs.MINHASH_PERM, inputs.MINHASH_BANDS).count()

    def ann_brute(self) -> int:
        from linear_kdtree_spark.operators.similarity import brute_topk_cosine

        return brute_topk_cosine(self.vecs, self.qv, inputs.ANN_K).count()


class Loop:
    """Runs and checks calls; keeps per-operator samples and failures."""

    def __init__(self, run: Run, expected: dict[str, int]):
        self.run = run
        self.expected = expected
        self.tracer: Tracer | None = None
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0

    def call(self, op: str, record: bool = True) -> None:
        """One checked call. Its wall time is a sample even when it fails
        (the run is then reported incorrect), so every metric exists."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                got = getattr(self.run, op)()
            else:
                with self.tracer.span(op, group=True):
                    got = getattr(self.run, op)()
        except Exception:  # a failed call is counted, the run goes on
            got = None
            print(f"call {op} raised:\n{traceback.format_exc()}", file=sys.stderr)
        dt = time.perf_counter() - t0
        if got != self.expected[op]:
            self.failed += 1
            print(f"call {op} returned {got} rows, expected {self.expected[op]}",
                  file=sys.stderr)
        if record:
            self.samples.setdefault(op, []).append(dt)

    def run_pass(self, ops, record: bool = True) -> float:
        """One call of each of ``ops``; returns the pass's seconds."""
        t0 = time.perf_counter()
        for op in ops:
            self.call(op, record)
        return time.perf_counter() - t0

    def timed_loop(self, seconds: float) -> None:
        """Rounds of TIMED for ``seconds``: the first round runs whole;
        after it a call starts only if its fastest earlier time still fits
        before the deadline."""
        t_end = time.perf_counter() + seconds
        self.run_pass(TIMED)
        while True:
            for op in TIMED:
                if time.perf_counter() + min(self.samples[op]) > t_end:
                    return
                self.call(op)

    def medians(self, ops) -> dict[str, float]:
        return {op: median(self.samples[op]) for op in ops}


# ---------------------------------------------------------------------------
# end-to-end metrics (tracing off)
# ---------------------------------------------------------------------------

def end_to_end(loop: Loop, run: Run, setup_s: float) -> dict:
    med = loop.medians(["build", "knn_small", "knn_large", "pip_convex"])
    m = {f"{op}_s": (med[op], "s") for op in ("build", "knn_small", "pip_convex")}
    m["setup_s"] = (setup_s, "s")
    m["knn_large_qps"] = (run.n_large / med["knn_large"], "1/s")
    # the legacy bench.py headline: n * 3 / (build + knn + pip)
    core = med["build"] + med["knn_small"] + med["pip_convex"]
    m["build_knn_pip_pts_per_s"] = (run.n * 3 / core, "1/s")
    return m


# ---------------------------------------------------------------------------
# per-layer metrics (the traced run)
# ---------------------------------------------------------------------------

SPAN_OPS = ["knn_small", "knn_large", "pip_convex", "tile_raster",
            "radius_join", "minhash_lsh", "ann_brute"]
TREE_KNN = ("tree.knn_seed_node", "tree.knn_r2_bound", "tree.ranges_for_circle")


def wrap_layers(tracer: Tracer) -> None:
    """Spans around the public functions of the layers the operators call
    into (the engine looks these names up at call time)."""
    from linear_kdtree_spark.operators import build, dedup, interval_join, tree

    tracer.wrap(build, "lkt_build", "build.lkt_build")
    for m in ("knn_seed_node", "knn_r2_bound", "ranges_for_circle", "ranges_for_bbox"):
        tracer.wrap(tree.SplitTree, m, f"tree.{m}")
    tracer.wrap(interval_join, "interval_join", "interval_join")
    tracer.wrap(dedup, "widen_partitions", "dedup.widen_partitions")


def knn_cover(tree, qpdf) -> list[tuple]:
    """The planning loop of ``knn()`` through the public tree methods: per
    query, seed node, radius bound and circle cover."""
    k = min(inputs.KNN_K, tree.total_points)
    full = (0, 1 << tree.max_depth)
    cover = []
    for qid, qx, qy in qpdf.itertuples(index=False):
        node = tree.knn_seed_node(qx, qy, k)
        r2 = tree.knn_r2_bound(qx, qy, node)
        ranges = [full] if np.isinf(r2) else tree.ranges_for_circle(qx, qy, np.sqrt(r2))
        cover.extend((int(qid), float(qx), float(qy), float(r2), lo, hi)
                     for lo, hi in ranges)
    return cover


def bbox_cover(tree, polys) -> list[tuple]:
    return [(p.poly_id, lo, hi) for p in polys
            for lo, hi in tree.ranges_for_bbox(*p.bbox())]


def timed_median(fn, reps: int = 3):
    out, times = None, []
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return out, median(times)


def direct_layer_calls(run: Run, expected: dict) -> dict:
    """Calls into single layers, made in the traced run only."""
    from linear_kdtree_spark.operators.dedup import widen_partitions
    from linear_kdtree_spark.operators.interval_join import interval_join
    from linear_kdtree_spark.oracle import build_local_fast

    idx, p, k = run.idx, run.params, inputs.KNN_K
    d = {}
    # the fused-finish kernel on one subtree's worth of the workload's rows
    rows = min(p["local_threshold"], run.n)
    x = run.pdf["x"].to_numpy()[:rows].astype(np.float32)
    y = run.pdf["y"].to_numpy()[:rows].astype(np.float32)
    _, t = timed_median(lambda: build_local_fast(
        x, y, max_depth=p["max_depth"], strategy=p["strategy"],
        min_split=p["leaf_size"] + 1, coord_dtype=np.float32))
    d["oracle.build_local_fast_rows_per_s"] = rows / t
    _, d["tree.to_query_arrays_s"] = timed_median(idx.tree.to_query_arrays)

    pts = idx.points.select("key", "x", "y", "sort_key")
    knn_schema = "query_id long, qx double, qy double, r2 double, lo long, hi long"
    poly_schema = "poly_id long, lo long, hi long"

    def join_count(cover, schema):
        return timed_median(
            lambda: interval_join(pts, cover, schema, max_depth=idx.max_depth).count(),
            reps=2)

    q = run.small_pdfs[0]
    small = knn_cover(idx.tree, q)
    d["tree.cover_intervals"] = len(small)
    d["tree.cover_key_frac"] = (
        sum(hi - lo for *_, lo, hi in small) / (1 << idx.max_depth) / len(q))
    d["interval_join.rows_out"], d["interval_join.s"] = join_count(small, knn_schema)
    d["knn.small_cand_per_result"] = d["interval_join.rows_out"] / (len(q) * k)
    rows_large, d["interval_join.knn_large_s"] = join_count(
        knn_cover(idx.tree, run.large_pdf), knn_schema)
    d["knn.large_cand_per_result"] = rows_large / (len(run.large_pdf) * k)
    rows_rect, d["interval_join.pip_convex_s"] = join_count(
        bbox_cover(idx.tree, run.rects), poly_schema)
    d["pip.convex_cand_per_hit"] = rows_rect / expected["pip_convex"]
    rows_star, d["interval_join.pip_raycast_s"] = join_count(
        bbox_cover(idx.tree, run.stars), poly_schema)
    d["pip.raycast_cand_per_hit"] = rows_star / expected["pip_raycast"]
    _, d["dedup.widen_partitions_s"] = timed_median(
        lambda: widen_partitions(run.docs), reps=5)
    return d


def span_breakdown(tracer: Tracer) -> dict:
    """Per operator, over all its traced calls: wall time, the self time
    of every span name below it, and the residual (the operator span's own
    self time: Spark execution and glue under no layer span). The parts
    sum to the wall time."""
    out = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            continue
        rec = out.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "self_s": {}})
        rec["calls"] += 1
        rec["wall_s"] += s["end"] - s["start"]
        for name, v in tracer.self_times(s).items():
            key = "residual" if name == s["name"] else name
            rec["self_s"][key] = rec["self_s"].get(key, 0.0) + v
    return out


def child_time(tracer: Tracer, op: str, names) -> float:
    """Median over the calls of ``op`` of the summed duration of its
    direct child spans named in ``names``."""
    per_call = [
        sum(s["end"] - s["start"] for s in tracer.spans
            if s["parent"] == root["id"] and s["name"] in names)
        for root in tracer.spans
        if root["parent"] is None and root["name"] == op
    ]
    return median(per_call)


def event_log_layers(tracer: Tracer, log: dict) -> dict:
    """Per operator, the median over its traced calls of the jobs, tasks,
    task seconds, shuffle MB and spill MB of the call's job group. Build
    task time is split by job call site: the stats levels are the jobs
    that collect in build.py; the rest is the fused finish (its shuffle,
    kernel and materialize run as adaptive-execution jobs that carry no
    call site) plus the benchmark's count of the cached index."""
    def stats_site(site):
        return site.startswith("collect at") and "build.py:" in site

    per_op: dict[str, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is None and s["group"]:
            tot = group_totals(log, s["group"])
            if s["name"] == "build":
                tot["stats_task_s"] = group_totals(log, s["group"], stats_site)["task_s"]
                tot["finish_task_s"] = tot["task_s"] - tot["stats_task_s"]
            per_op.setdefault(s["name"], []).append(tot)
    return {op: {k: median([c[k] for c in calls]) for k in calls[0]}
            for op, calls in per_op.items()}


def traced_calls(loop: Loop, tracer: Tracer, fn):
    """Run ``fn`` with the layer spans in place and every call in a span."""
    wrap_layers(tracer)
    loop.tracer = tracer
    try:
        return fn()
    finally:
        tracer.unwrap()
        loop.tracer = None


def traced(args, run: Run, loop: Loop, tracer: Tracer, setup: dict) -> tuple[dict, dict]:
    # one traced rebuild, then alternate plain and traced passes; their
    # ratio is the overhead
    traced_calls(loop, tracer, lambda: loop.call("build"))
    ops = QUERIES + SIDE_SUITE
    plain, traced_w = [], []
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end or not traced_w:
        plain.append(loop.run_pass(ops, record=False))
        traced_w.append(traced_calls(loop, tracer, lambda: loop.run_pass(ops)))
    direct = direct_layer_calls(run, loop.expected)
    levels, splits = len(run.idx.lineage), len(run.idx.tree.nodes)
    rss_mb = jvm_peak_rss_mb(run.spark)

    run.spark.stop()  # completes the event log
    log_dir = os.path.join(args.out_dir, "eventlog")
    ev = event_log_layers(tracer, read_event_log(log_dir))
    shutil.rmtree(log_dir, ignore_errors=True)

    med = loop.medians(["build"] + QUERIES + SIDE_SUITE)
    knn_large_cover = child_time(tracer, "knn_large", TREE_KNN)
    b = ev["build"]
    m = {
        "session.get_spark_s": (setup["session_s"], "s"),
        "entry.scan_s": (median(setup["scan_s"]), "s"),
        "entry.scan_rows": (run.n, "count"),
        "build.lkt_build_s": (child_time(tracer, "build", ("build.lkt_build",)), "s"),
        "build.levels": (levels, "count"),
        "build.splits": (splits, "count"),
        "build.jobs": (b["jobs"], "count"),
        "build.tasks": (b["tasks"], "count"),
        "build.task_s": (b["task_s"], "s"),
        "build.stats_task_s": (b["stats_task_s"], "s"),
        "build.finish_task_s": (b["finish_task_s"], "s"),
        "build.shuffle_write_mb": (b["shuffle_mb"], "MB"),
        "build.spill_mb": (b["spill_mb"], "MB"),
        "oracle.build_local_fast_rows_per_s": (direct["oracle.build_local_fast_rows_per_s"], "1/s"),
        "tree.knn_cover_s": (child_time(tracer, "knn_small", TREE_KNN), "s"),
        "tree.knn_large_cover_s": (knn_large_cover, "s"),
        "tree.bbox_cover_s": (child_time(tracer, "pip_convex", ("tree.ranges_for_bbox",)), "s"),
        "tree.to_query_arrays_s": (direct["tree.to_query_arrays_s"], "s"),
        "tree.cover_intervals": (direct["tree.cover_intervals"], "count"),
        "tree.cover_key_frac": (direct["tree.cover_key_frac"], "ratio"),
        "interval_join.s": (direct["interval_join.s"], "s"),
        "interval_join.rows_out": (direct["interval_join.rows_out"], "count"),
        "interval_join.knn_large_s": (direct["interval_join.knn_large_s"], "s"),
        "interval_join.pip_convex_s": (direct["interval_join.pip_convex_s"], "s"),
        "interval_join.pip_raycast_s": (direct["interval_join.pip_raycast_s"], "s"),
        "pip.convex_cand_per_hit": (direct["pip.convex_cand_per_hit"], "ratio"),
        "pip.raycast_cand_per_hit": (direct["pip.raycast_cand_per_hit"], "ratio"),
        "pip.convex_refine_s": (med["pip_convex"] - direct["interval_join.pip_convex_s"], "s"),
        "pip.raycast_refine_s": (med["pip_raycast"] - direct["interval_join.pip_raycast_s"], "s"),
        "knn.small_cand_per_result": (direct["knn.small_cand_per_result"], "ratio"),
        "knn.large_cand_per_result": (direct["knn.large_cand_per_result"], "ratio"),
        "knn.rank_s": (med["knn_large"] - direct["interval_join.knn_large_s"]
                       - knn_large_cover, "s"),
        "dedup.widen_partitions_s": (direct["dedup.widen_partitions_s"], "s"),
        "trace.overhead_frac": (median(traced_w) / median(plain) - 1.0, "ratio"),
        "jvm.peak_rss_mb": (rss_mb, "MB"),
    }
    for op in ("tile_raster", "radius_join", "minhash_lsh", "ann_brute"):
        m[f"{op}.call_s"] = (med[op], "s")
    for op in SPAN_OPS:
        e = ev[op]
        m[f"{op}.jobs"] = (e["jobs"], "count")
        m[f"{op}.tasks"] = (e["tasks"], "count")
        m[f"{op}.task_s"] = (e["task_s"], "s")
        m[f"{op}.shuffle_mb"] = (e["shuffle_mb"], "MB")
    breakdown = span_breakdown(tracer)
    print("per-layer self time over all traced calls (s); the parts sum to the wall:")
    for op, rec in breakdown.items():
        parts = ", ".join(f"{k} {v:.3f}" for k, v in
                          sorted(rec["self_s"].items(), key=lambda kv: -kv[1]))
        print(f"  {op:12s} calls {rec['calls']:2d} wall {rec['wall_s']:8.3f}: {parts}")
    detail = {"span_breakdown": breakdown, "event_log": ev, "direct": direct,
              "overhead": {"plain_s": plain, "traced_s": traced_w}}
    return m, detail


# ---------------------------------------------------------------------------

def measure(args, spark, slots: int, session_s: float, facts: dict) -> int:
    run = Run(args, spark, slots)
    tracer = Tracer(spark.sparkContext) if args.trace else None
    # set-up: the scan SETUP_REPS times, the other inputs, the first build
    # and the warm-up calls; the expected answers are the benchmark's own
    # checks and not part of set-up
    scans = [run.scan() for _ in range(SETUP_REPS)]
    t0 = time.perf_counter()
    run.query_frames()
    if tracer is not None:
        run.side_inputs()
    inputs_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    expected = run.expected_counts()
    check_s = time.perf_counter() - t0
    if args.wrong_pin:
        expected[args.wrong_pin] += 1
    loop = Loop(run, expected)
    first_build_s = loop.run_pass(["build"], record=False)
    warm = loop.run_pass(WARMUP + (SIDE_SUITE if tracer else []), record=False)
    setup = {"session_s": session_s, "scan_s": scans, "inputs_s": inputs_s,
             "first_build_s": first_build_s, "warmup_s": warm, "check_s": check_s}
    setup_s = session_s + median(scans) + inputs_s + first_build_s + warm

    detail = {}
    if tracer is not None:
        m, detail = traced(args, run, loop, tracer, setup)
    else:
        loop.timed_loop(args.seconds)
        m = end_to_end(loop, run, setup_s)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    for k, v in sorted(metrics.items()):
        print(f"{k:36s} {v['value']:16.4f} {v['unit']}")
    print(f"samples per call: {json.dumps({k: len(v) for k, v in loop.samples.items()})}")
    print(f"calls attempted {loop.attempted}, failed {loop.failed}, "
          f"failed_frac {loop.failed / loop.attempted:.4f}", flush=True)
    report = {"host": facts, "setup": setup, "expected": expected,
              "samples": loop.samples, "metrics": metrics,
              "attempted": loop.attempted, "failed": loop.failed, **detail}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(args.out_dir, name), "w") as f:
        json.dump(report, f, indent=1)
    with open(args.result, "w") as f:
        json.dump({"correct": loop.failed == 0, "attempted": loop.attempted,
                   "failed": loop.failed, "metrics": metrics}, f)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", default="full", choices=sorted(SCALES))
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--wrong-pin", default=None, choices=["build"] + QUERIES + SIDE_SUITE,
                    help="self-test: expect one more row from this call")
    args = ap.parse_args(argv)

    from linear_kdtree_spark.session import get_spark

    slots = task_slots(len(os.sched_getaffinity(0)))
    facts = host_facts(args.seed)
    print("host: " + json.dumps(facts), flush=True)
    conf = {
        "spark.local.dir": os.path.join(args.out_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(args.out_dir, "warehouse"),
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(args.out_dir, "tmp"),
    }
    if args.trace:
        log_dir = os.path.join(args.out_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{slots}]", shuffle_partitions=slots,
                      extra_conf=conf)
    session_s = time.perf_counter() - t0
    jvm = spark.sparkContext._gateway.proc
    try:
        return measure(args, spark, slots, session_s, facts)
    finally:
        spark.stop()
        jvm.stdin.close()  # the gateway JVM exits at end of its input
        jvm.wait(timeout=60)


if __name__ == "__main__":
    raise SystemExit(main())
