"""Distributed linear kd-tree build — the Spark re-expression of the
reference's recursive in-place build (``lkt_create_mimd_codeless`` +
``lkt_sort_mimd``, nocuda.cpp:70-138).

Architecture (SURVEY.md §2.1-B4): instead of the reference's fork-join
recursion over an in-place array (``tbb::parallel_invoke`` +
``parallel_quicksort_partition``, nocuda.cpp:102-107 / quicksort.hh:480-534),
the build runs in two phases:

- **Level-synchronous distributed phase** (the top of the tree): one
  aggregation per level (groupBy('node') with map-side partial
  aggregation) computes every active node's split value, count and exact
  data bbox at once. A projection then routes each row of a splitting node
  to its child heap id through a literal CASE chain over the level's split
  table (a broadcast join above ``SPLIT_MAP_MAX`` splits) — pure JVM column
  expressions, no Python in the loop. A node leaves this phase as soon as
  it holds at most ``local_threshold`` points.
- **Fused local finish**: one driver-planned shuffle co-locates every
  deferred subtree, and one ``mapInPandas`` pass builds each with
  ``oracle.build_local_fast`` from its own depth and emits the rows already
  in kd order; split rows and every node's data bbox return through an
  accumulator (:func:`_local_finish_fused`).

With ``local_threshold=0`` (and for resumable checkpointed builds) the
distributed phase runs to the leaves and the physical kd order is realized
once at the end by ``repartitionByRange('sort_key') +
sortWithinPartitions``.

Scale design (100 TB / 10^12 rows):
- the split-table size is bounded by ``leaf_size`` (a node splits only while
  it holds > leaf_size points), NOT by depth — with leaf_size = 1e6 a
  10^12-point build yields ~1e6 split nodes (~50 MB collected/broadcast);
- the loop carries only ``(key, x, y, node)``; ``path_len`` / ``code`` /
  ``sort_key`` are pure bit transforms of the final heap node id, derived
  once at the end (functions/morton.fast_derived_cols); payload columns
  are projected out by the caller and joined back by key;
- the exact ``median`` strategy adds a window sort per level and targets
  fixture-exact small builds;
- levels optionally checkpoint to parquet + JSON manifest → resumable
  builds with per-level lineage metrics (north_rule).

``code`` follows the reference's semantics (bit = 1 ⇔ went left,
LSB-first — lkt.cpp:140-157); ``sort_key`` is the monotone transform that
linearizes the tree (bit = 0 ⇔ left, MSB-first, left-padded to max_depth
bits — SURVEY.md §1.3).

Nondeterminism fixes vs the reference are deliberate canonical semantics
(SURVEY.md §4.4): heap node ids instead of allocation order
(fixlentree.hh:42,53), exact split values instead of physical-order-dependent
systematic samples (nocuda.cpp:30-34), order-independent assignment.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linear_kdtree_spark.oracle import MAX_DEPTH
from linear_kdtree_spark.operators.tree import SplitTree

# levels with at most this many split nodes inline the node→split-value
# table as a literal map expression instead of a broadcast join (see the
# loop body); above it the map's per-row linear scan would beat the hash
# probe no longer and codegen size grows, so the join path takes over.
SPLIT_MAP_MAX = 64


def _literal_lookup(col, pairs):
    """node → value lookup as a chained CASE WHEN over literals (NULL on
    missing key, same semantics as the broadcast-join/`try_element_at`
    alternatives). Unlike ``try_element_at(create_map(...))`` this
    allocates NOTHING per row — CreateMap of literals is not constant-
    folded, so the map form rebuilds the map object per row per level;
    with mid-loop persists stretched out that compounded to a measured
    6× build regression (r6 persist-every experiment), while the CASE
    chain is pure codegen comparisons."""
    expr = None
    for k, v in pairs:
        w = (col == F.lit(k), F.lit(v))
        expr = F.when(*w) if expr is None else expr.when(*w)
    return expr

SPLITS_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("axis", T.IntegerType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("n_left", T.LongType(), False),
        T.StructField("n_right", T.LongType(), False),
        T.StructField("left_child", T.LongType(), False),
        T.StructField("right_child", T.LongType(), False),
    ]
)


@dataclass
class LktIndex:
    """The complete index — Spark analogue of ``linear_kdtree`` (lkt.h:25-32):
    the kd-ordered point DataFrame (``code`` + ``sort_key`` columns in place
    of the reference's parallel ``morton_codes`` array, lkt.h:31), the flat
    heap-ordered split DataFrame (analogue of ``fixlentree``,
    fixlentree.hh:20-81), and the broadcastable driver-side tree."""

    points: DataFrame  # key, x, y, node, path_len, code, sort_key
    splits: DataFrame
    tree: SplitTree
    lineage: list = field(default_factory=list)
    max_depth: int = MAX_DEPTH
    coord_type: str = "float"


def _apply_level(spark, df: DataFrame, axis: str, splittable: list) -> DataFrame:
    """One level's node transform: route each row of a splitting node to
    its child heap id, leave every other row untouched. Factored out so
    the stats scan can REBUILD the un-persisted transform chain from the
    last cached level (see the chain-aware stats source in
    :func:`lkt_build`)."""
    if len(splittable) <= SPLIT_MAP_MAX:
        # the distributed phase is the TOP of the tree: ≤ n/threshold
        # active nodes per level, so the split table is tiny. A literal
        # CASE-chain lookup keeps the level transform inside ONE whole-
        # stage-codegen projection — no broadcast exchange, no join
        # node, no per-level createDataFrame round-trip — which is
        # precisely the per-level fixed cost that caps the high-
        # parallelism leg (BENCH/SCALING.md r4: 5 sequential stats
        # jobs × ~1 s fixed scale 1.4× vs the 0.988 substrate
        # control). Lookup is a linear scan of ≤ SPLIT_MAP_MAX
        # comparisons — cheaper per row than a hash-join probe at
        # this size, and allocation-free (see _literal_lookup; NULL
        # on missing key, same semantics as the left join).
        joined = df.withColumn("sv", _literal_lookup(F.col("node"), splittable))
    else:  # deep distributed builds (leaf_size-bounded, e.g. resume)
        sdf = spark.createDataFrame(splittable, "node long, sv double")
        joined = df.join(F.broadcast(sdf), "node", "left")
    has = F.col("sv").isNotNull()
    left = F.col(axis).cast("double") < F.col("sv")
    right_bit = F.when(left, F.lit(0)).otherwise(F.lit(1))
    # only the heap node id is carried through the loop; code / sk /
    # path_len / sort_key are pure bit transforms of it, derived once
    # at finalize (functions/morton.py — equality is unit-tested)
    return joined.select(
        "key",
        "x",
        "y",
        F.when(has, F.col("node") * 2 + 1 + right_bit)
        .otherwise(F.col("node"))
        .alias("node"),
    )


def _split_stats(active: DataFrame, axis: str, strategy: str) -> DataFrame:
    """Per-node (split value, count, min/max on BOTH axes) for one level —
    the distributed replacement of the reference's systematic-sample split
    heuristic (``lkt_find_splitpoint_x/_y``, nocuda.cpp:27-48). The
    off-axis min/max (mn2/mx2) ride along in the same map-side-combined
    shuffle and give every node an exact data bbox, which the kNN planner
    uses to bound the k-th distance without any data scan."""
    other = "y" if axis == "x" else "x"
    if strategy == "mean":
        # float32 builds quantize the mean to the coordinate type
        # (reference ord_t splits, lkt.h:13) — kills last-ulp
        # summation-order divergence across engines (oracle.split_value)
        sv = F.avg(axis)
        if active.schema[axis].dataType.simpleString() == "float":
            sv = sv.cast("float").cast("double")
        return active.groupBy("node").agg(
            sv.alias("sv"),
            F.count(F.lit(1)).alias("cnt"),
            F.min(axis).alias("mn"),
            F.max(axis).alias("mx"),
            F.min(other).alias("mn2"),
            F.max(other).alias("mx2"),
        )
    if strategy == "median":
        # canonical discrete upper median sorted[n // 2] — an actual data
        # value, bit-exact vs the serial oracle. One ordered window for the
        # rank + one plain aggregate for the per-node stats (joined back on
        # node — tiny side), instead of five window functions over the same
        # sort (measured 161 s → below at gate scale)
        w = Window.partitionBy("node").orderBy(F.col(axis), "key")
        stats = active.groupBy("node").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(axis).alias("mn"),
            F.max(axis).alias("mx"),
            F.min(other).alias("mn2"),
            F.max(other).alias("mx2"),
        )
        ranked = (
            active.select("node", "key", axis)
            .withColumn("rn", F.row_number().over(w))
        )
        return (
            ranked.join(stats, "node")
            .filter(F.col("rn") == (F.col("cnt") / 2).cast("long") + 1)
            .select(
                "node", F.col(axis).cast("double").alias("sv"), "cnt",
                "mn", "mx", "mn2", "mx2",
            )
        )
    if strategy == "median_approx":
        # scale path: one groupBy, mergeable Greenwald-Khanna sketch
        return active.groupBy("node").agg(
            F.percentile_approx(axis, 0.5, 10000).cast("double").alias("sv"),
            F.count(F.lit(1)).alias("cnt"),
            F.min(axis).alias("mn"),
            F.max(axis).alias("mx"),
            F.min(other).alias("mn2"),
            F.max(other).alias("mx2"),
        )
    raise ValueError(f"unknown split strategy: {strategy}")


def lkt_build(
    points: DataFrame,
    max_depth: int = MAX_DEPTH,
    strategy: str = "mean",
    leaf_size: int = 1,
    num_partitions: Optional[int] = None,
    checkpoint_dir: Optional[str] = None,
    checkpoint_every: int = 4,
    key_col: str = "key",
    x_col: str = "x",
    y_col: str = "y",
    coord_type: str = "float",
    local_threshold: int = 200_000,
    materialize: bool = True,
) -> LktIndex:
    """Build the index over a points DataFrame.

    ``coord_type``: 'float' is the canonical reference type (``ord_t``,
    lkt.h:13, compared bit-exactly in fixture tests); 'double' keeps full
    input precision (used where results must match a float64 oracle).

    **Hybrid two-phase build**: the per-level AGGREGATION is distributed
    (one map-side-combined shuffle each) only for nodes still holding
    more than ``local_threshold`` points — a node is WITHDRAWN from the
    distributed phase the moment it fits a task (so under skew each
    level's stats scan shrinks to the heavy spine instead of re-scanning
    all mass until the global max fits). When no node exceeds the
    threshold, ONE range shuffle keyed on each subtree's
    sort_key-interval start both co-locates whole subtrees and places
    partitions in global kd order, and a ``mapInPandas`` pass finishes
    every deferred subtree locally — from its own depth — with the numpy
    implementation of the identical canonical semantics
    (oracle.build_oracle with depth/axis offset); the terminal kd order
    then costs only a partition-local sort — no second full-data shuffle
    (see :func:`_local_finish_fused`). At 10^12 points with a 2e5
    threshold that is ~22 distributed levels + one local pass.
    Set ``local_threshold=0`` to force the pure level-synchronous path
    (resumable/checkpointed builds use it; they need durable per-level
    state).

    ``points`` must carry (key_col, x_col, y_col); other columns are dropped
    (join them back by ``key``). Returns an :class:`LktIndex` whose
    ``points`` are range-partitioned and sorted by ``sort_key`` — the
    physical kd order of the reference's in-place array.

    ``materialize=False`` defers persist()+count() of the output only on
    the pure level-synchronous path; when the fused local finish triggers
    (the default whenever nodes shrink under ``local_threshold``) the build
    is ALWAYS materialized — the finish pass must run to deliver its split
    rows through the accumulator, so laziness has nothing left to save.
    """
    spark = points.sparkSession
    if checkpoint_dir:
        # resumable builds run the pure level-synchronous path: every level
        # is a durable parquet checkpoint candidate; the local-finish
        # shortcut would leave nothing to resume from
        local_threshold = 0

    state = _load_manifest(checkpoint_dir) if checkpoint_dir else None
    split_rows: list[dict] = []
    lineage: list[dict] = []
    node_counts: dict[int, int] = {}
    node_bounds: dict[int, tuple] = {}  # node → (xmin, xmax, ymin, ymax)
    start_depth = 0
    if state:
        split_rows = state["split_rows"]
        lineage = state["lineage"]
        node_counts = {int(k): v for k, v in state["node_counts"].items()}
        node_bounds = {
            int(k): tuple(v) for k, v in state.get("node_bounds", {}).items()
        }
        start_depth = state["next_depth"]
        pts = spark.read.parquet(state["points_path"])
    else:
        pts = points.select(
            F.col(key_col).cast("long").alias("key"),
            F.col(x_col).cast(coord_type).alias("x"),
            F.col(y_col).cast(coord_type).alias("y"),
            F.lit(0).cast("long").alias("node"),
        )

    pts = pts.persist()
    last_cached = pts
    persist_every = int(os.environ.get("SPARK_GRAFT_PERSIST_EVERY", "3"))
    min_split = max(2, leaf_size + 1)
    fused_out = None  # set by the fused local finish (final, materialized)
    # nodes withdrawn from the distributed phase the moment they fit a
    # task (cnt ≤ local_threshold): they go INACTIVE immediately and the
    # fused finish builds their whole subtree from their own depth. Under
    # skew this shrinks every later per-level stats scan to the heavy
    # spine instead of re-scanning all mass until the GLOBAL max fits
    # (VERDICT r4 next-#1: the sequential stats phase was the measured
    # non-scaling cost). Exactness: the local kernel applies the identical
    # canonical split semantics from the node's own depth, so the result
    # is the one the distributed loop would have produced
    # (tests/test_differential.py pins fused ≡ level-sync).
    deferred: set[int] = set()
    # the transform chain since the last persisted/checkpointed level:
    # (depth, axis, splittable) triples applied on top of ``chain_base``.
    # The stats scan REBUILDS this chain from the cache with a plain-
    # attribute prefilter instead of filtering the chained ``pts``: the
    # exact ``node >= level_lo`` filter on a ≥2-level CASE-projection
    # chain is substituted through every projection by predicate
    # pushdown (it pushes through the aggregate's grouping key too), and
    # the multiplicatively nested condition falls out of codegen into
    # interpreted evaluation — measured r6: a 2-chain stats scan at 20 M
    # rows ran 68.5 s vs 0.41 s for the 1-chain control (16 KB filter
    # condition in the plan), and the lc4@76.8 M build spent 187 s in
    # ONE such level. The rebuilt source keeps every CASE level a
    # separate whole-stage-codegen projection; the exact active filter
    # moves driver-side onto the collected per-node group rows.
    chain_base = pts
    chain: list[tuple[int, str, list]] = []

    def _stats_rows(cur_axis: str, level_lo: int) -> list:
        if chain:
            # rows frozen before the first un-persisted level can never
            # be active now (heap ids only grow): plain-attribute
            # prefilter against the CACHED node column, then the chain's
            # projections, then the exact group filter driver-side
            pre_lo = (1 << chain[0][0]) - 1
            src = chain_base.filter(F.col("node") >= pre_lo)
            for _, ax2, sp2 in chain:
                src = _apply_level(spark, src, ax2, sp2)
            rows = _split_stats(src, cur_axis, strategy).collect()
            return [r for r in rows if r["node"] >= level_lo]
        return _split_stats(
            pts.filter(F.col("node") >= level_lo), cur_axis, strategy
        ).collect()

    for depth in range(start_depth, max_depth):
        t_level = time.time()
        axis = "x" if depth % 2 == 0 else "y"
        level_lo = (1 << depth) - 1
        stats = _stats_rows(axis, level_lo)
        t_stats = time.time() - t_level
        for r in stats:
            node_counts[int(r["node"])] = int(r["cnt"])
            xb = ("mn", "mx") if axis == "x" else ("mn2", "mx2")
            yb = ("mn2", "mx2") if axis == "x" else ("mn", "mx")
            node_bounds[int(r["node"])] = (
                float(r[xb[0]]), float(r[xb[1]]),
                float(r[yb[0]]), float(r[yb[1]]),
            )

        defer_ok = bool(local_threshold) and depth < max_depth - 1
        splittable = []
        n_deferred_here = 0
        for r in stats:
            degenerate = (
                r["sv"] is None
                or not (r["sv"] > r["mn"])  # left side would be empty
                or not (r["sv"] <= r["mx"])  # right side would be empty
            )
            if r["cnt"] < min_split or degenerate:
                continue  # a decided leaf — the fused pass must NOT retry
            if defer_ok and r["cnt"] <= local_threshold:
                deferred.add(int(r["node"]))
                n_deferred_here += 1
                continue
            splittable.append((int(r["node"]), float(r["sv"])))
            split_rows.append(
                {
                    "node_id": int(r["node"]),
                    "depth": depth,
                    "axis": depth % 2,
                    "value": float(r["sv"]),
                }
            )
        lineage.append(
            {
                "depth": depth,
                "n_active_nodes": len(stats),
                "n_split_nodes": len(splittable),
                "n_deferred_nodes": n_deferred_here,
                "n_active_points": int(sum(r["cnt"] for r in stats)),
                "max_node_points": int(max((r["cnt"] for r in stats), default=0)),
                "min_node_points": int(min((r["cnt"] for r in stats), default=0)),
                "stats_sec": round(t_stats, 3),
            }
        )
        if not splittable:
            break

        new_pts = _apply_level(spark, pts, axis, splittable)
        if checkpoint_dir and (depth + 1) % checkpoint_every == 0:
            prev_cached = last_cached
            pts = _checkpoint_level(
                spark, new_pts, checkpoint_dir, depth, split_rows, lineage,
                node_counts, node_bounds,
            )
            last_cached = pts
            chain_base, chain = pts, []
            if prev_cached is not None:
                prev_cached.unpersist()
        elif (depth + 1) % persist_every == 0:
            # Caching policy, from measurement at 19.2 M points:
            # - localCheckpoint every level: ~7× slower than persist
            #   (per-row copy + serialization per level);
            # - persist every level: rewriting the full cache costs
            #   5-20 s/level — it dominated the loop;
            # - persist every `persist_every` levels: the skipped levels
            #   recompute ≤ persist_every-1 broadcast-hash joins from the
            #   last cache — far cheaper than rewriting the cache.
            prev_cached = last_cached
            pts = new_pts.persist()
            last_cached = pts
            chain_base, chain = pts, []
            if prev_cached is not None:
                prev_cached.unpersist()
        else:
            pts = new_pts
            chain.append((depth, axis, splittable))

    # child counts for distributed split nodes at the deepest level (loop
    # may have ended at max_depth before their children were aggregated);
    # local-phase rows already carry exact counts. MUST run before the
    # fused finish: uncounted final-level children are leaves the fused
    # routing would otherwise silently drop (its route table is built from
    # node_counts).
    unpatched = [r for r in split_rows if "n_left" not in r]
    missing = [
        r["node_id"]
        for r in unpatched
        if 2 * r["node_id"] + 1 not in node_counts
    ]
    if missing:
        lo = min((1 << (node_depth_py(m) + 1)) - 1 for m in missing)
        if chain:
            # same chain-aware source as the stats scan: the exact filter
            # on a chained CASE projection would be pushdown-substituted
            # into an interpreted monster (see _stats_rows)
            src = chain_base.filter(
                F.col("node") >= (1 << chain[0][0]) - 1
            )
            for _, ax2, sp2 in chain:
                src = _apply_level(spark, src, ax2, sp2)
            extra = [
                r for r in src.groupBy("node").count().collect()
                if r["node"] >= lo
            ]
        else:
            extra = (
                pts.filter(F.col("node") >= lo)
                .groupBy("node").count().collect()
            )
        for r in extra:
            node_counts[int(r["node"])] = int(r["count"])

    if deferred:
        t_fused = time.time()
        fused_out, local_split_rows, local_bounds = _local_finish_fused(
            spark, pts, max_depth, strategy, min_split, coord_type,
            num_partitions, node_counts,
            {r["node_id"] for r in split_rows}, deferred,
        )
        node_bounds.update(local_bounds)
        split_rows.extend(local_split_rows)
        lineage.append(
            {
                "depth": -1,  # the fused local-finish pass (all subtrees)
                "n_active_nodes": len(deferred),
                "n_split_nodes": -1,
                "n_deferred_nodes": len(deferred),
                "n_active_points": int(
                    sum(node_counts.get(g, 0) for g in deferred)
                ),
                "max_node_points": int(
                    max((node_counts.get(g, 0) for g in deferred), default=0)
                ),
                "min_node_points": int(
                    min((node_counts.get(g, 0) for g in deferred), default=0)
                ),
                "local_finish": True,
                "stats_sec": 0.0,
                "level_sec": round(time.time() - t_fused, 3),
            }
        )

    for r in unpatched:
        r["n_left"] = node_counts.get(2 * r["node_id"] + 1, 0)
        r["n_right"] = node_counts.get(2 * r["node_id"] + 2, 0)

    tree = SplitTree.from_rows(split_rows, max_depth=max_depth)
    if not tree.total_points:
        tree.total_points = node_counts.get(0, 0)
    tree.node_bounds = node_bounds
    splits_df = spark.createDataFrame(
        [
            (
                r["node_id"], r["depth"], r["axis"], r["value"],
                r["n_left"], r["n_right"], r["left_child"], r["right_child"],
            )
            for r in tree.to_rows()
        ],
        SPLITS_SCHEMA,
    )

    if fused_out is not None:
        # the fused finish already emitted, materialized, and cached the
        # FINAL kd-ordered 7-column table in one pass; the loop cache is
        # dead — free it now so repeated builds don't pile up dead cache
        # copies (measured 86 s → 236 s degradation before this)
        out = fused_out
        if last_cached is not None:
            last_cached.unpersist()
    else:
        from linear_kdtree_spark.functions.morton import fast_derived_cols

        plen, code, sort_key = fast_derived_cols(F.col("node"), max_depth)
        derived = [
            "key",
            "x",
            "y",
            "node",
            plen.alias("path_len"),
            code.alias("code"),
            sort_key.alias("sort_key"),
        ]
        n_parts = num_partitions or spark.sparkContext.defaultParallelism
        out = (
            pts.select(*derived)
            .repartitionByRange(n_parts, "sort_key", "key")
            .sortWithinPartitions("sort_key", "key")
        )
        if materialize:
            out = out.persist()
            out.count()
            if last_cached is not None:
                last_cached.unpersist()
    return LktIndex(
        points=out,
        splits=splits_df,
        tree=tree,
        lineage=lineage,
        max_depth=max_depth,
        coord_type=coord_type,
    )


def node_depth_py(node_id: int) -> int:
    return (node_id + 1).bit_length() - 1


def _node_prefix(g: int, max_depth: int) -> tuple[int, int, int, int]:
    """(path_len, code, sk, sort_key) of heap node ``g`` — the pure-int
    prefix constants of its subtree (same bit semantics as
    functions/morton.fast_derived_cols, unit-tested equal)."""
    p = g + 1
    plen = p.bit_length() - 1
    sk = p - (1 << plen)
    code = 0
    for i in range(plen):
        b = (p >> (plen - 1 - i)) & 1  # 1 ⇔ went right at depth i
        code |= (1 - b) << i
    return plen, code, sk, sk << (max_depth - plen)


class _ListAccum:
    """AccumulatorParam concatenating lists (the fused finish's node rows)."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


_TOKEN_CACHE: dict = {}


def _verified_tokens(spark, n_parts: int):
    """Partition tokens for exact driver-planned hash partitioning, or
    None if this Spark's partitioning expression doesn't match (→ caller
    falls back to repartitionByRange). Verified once per session."""
    from linear_kdtree_spark.functions.murmur import (
        partition_tokens,
        verify_tokens,
    )

    # applicationId is stable for the session's lifetime and never reused
    # by a successor session in-process (id(spark) can be — ADVICE r3)
    key = (spark.sparkContext.applicationId, n_parts)
    if key not in _TOKEN_CACHE:
        try:
            toks = partition_tokens(n_parts)
            _TOKEN_CACHE[key] = toks if verify_tokens(spark, toks) else None
        except Exception:
            _TOKEN_CACHE[key] = None
    return _TOKEN_CACHE[key]


def _local_finish_fused(
    spark, pts, max_depth, strategy, min_split, coord_type,
    num_partitions, node_counts, split_ids, deferred,
) -> tuple[DataFrame, list[dict]]:
    """Phase 2 of the hybrid build, fused with the terminal kd ordering —
    ONE shuffle and ONE pass from the loop state to the final, materialized,
    kd-ordered index table:

    1. **Driver-planned shuffle, no sampling pass.** The per-level stats
       already give every live subtree's exact row count, so the driver
       packs subtrees (in sort_key order) into ``n_parts`` bins of
       ~equal rows and routes each subtree to its chosen partition INDEX
       with a murmur3 token tag (functions/murmur.py; verified against
       the JVM, falling back to repartitionByRange(_subtree_lo) which
       needs an extra full sampling scan). Exact packing by known counts
       also beats sampled quantiles under skew — the straggler bound is
       max(subtree) instead of a sampling artifact.
    2. **One mapInPandas pass emits the FINAL table.** Each partition
       pre-sorts its rows by (node, key), finishes every ``deferred``
       subtree with the serial canonical algorithm from that subtree's
       OWN depth (oracle.build_local_fast — bit-identical to
       build_oracle, O(n·depth); deferred subtrees root at different
       depths because each withdrew from the distributed phase the
       moment it fit a task), remaps local heap ids into the global
       numbering (global_node + 1 = (g + 1)·2^p + local_path_bits), and
       composes path_len/code/sort_key from the subtree's integer prefix
       constants — emitting rows already in exact kd order (subtrees by
       sort_key-interval start, rows by (sort_key, key)). Groups NOT in
       ``deferred`` are leaves the distributed phase already decided
       (< min_split or a degenerate split) and are emitted verbatim. No
       staging cache, no derived-column pass, no terminal sort.
    3. **Split rows and node bboxes return via an accumulator** (one
       entry per local node: its exact data bbox, plus its split row if it
       split), deduped by node_id so a cache-eviction recompute cannot
       double-add. The count action that materializes the output is the
       same action that delivers them.

    Returns ``(out, local_split_rows, local_bounds)``.
    """
    import numpy as np
    import pandas as pd

    from linear_kdtree_spark.functions.morton import fast_derived_cols
    from linear_kdtree_spark.oracle import build_local_fast

    local_strategy = "median" if strategy == "median_approx" else strategy
    dtype = np.float32 if coord_type == "float" else np.float64
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    # the python kernel ships ONLY (key, x, y, node): path_len / code /
    # sort_key are pure integer bit transforms of the heap node id, so
    # they are derived JVM-side right after the mapInPandas (
    # functions/morton.fast_derived_cols — equality vs the per-bit
    # definition is unit-tested, and every lkt_build_nodes* gate pins the
    # values cross-engine). This cuts the python->JVM Arrow traffic from
    # 7 to 4 columns (56 -> 32 bytes/row) and drops three O(n) numpy
    # compositions from the task hot path — measured at 38.4 M/local[8]:
    # fused phase 24.6 -> 20.5 s (with 500k-row Arrow batches; r5).
    out_schema = f"key long, x {coord_type}, y {coord_type}, node long"

    # live subtrees = counted nodes that never split; pack by exact size
    live = {
        int(g): int(c) for g, c in node_counts.items() if g not in split_ids
    }
    total = sum(live.values())
    ordered = sorted(live, key=lambda g: _node_prefix(g, max_depth)[3])
    # optimal CONTIGUOUS packing (bins stay sort_key ranges — parquet
    # min-max pruning on sort_key survives): binary-search the smallest
    # max-bin-sum B admitting <= n_parts greedy chunks. The round-3
    # greedy (close bin when next would exceed total/n_parts, dump the
    # tail into the last bin) packed 8 subtrees into one task at
    # 16-subtree/8-part shapes — a measured 79.6s straggler vs 30s peers.
    sizes = [live[g] for g in ordered]

    def n_chunks(bound: int) -> int:
        chunks, cur = 1, 0
        for s in sizes:
            if cur and cur + s > bound:
                chunks += 1
                cur = 0
            cur += s
        return chunks

    lo_b, hi_b = max(sizes, default=1), max(total, 1)
    while lo_b < hi_b:
        mid = (lo_b + hi_b) // 2
        if n_chunks(mid) <= n_parts:
            hi_b = mid
        else:
            lo_b = mid + 1
    bins: list[list[int]] = [[]]
    size = 0
    for g in ordered:
        if size and size + live[g] > lo_b:
            bins.append([])
            size = 0
        bins[-1].append(g)
        size += live[g]

    debug = os.environ.get("SPARK_GRAFT_BUILD_DEBUG")
    t0 = time.time()
    tokens = _verified_tokens(spark, n_parts)
    if debug:
        print(f"[fused] token verify: {time.time() - t0:.1f}s")
    base = pts.select("key", "x", "y", "node")
    if tokens is not None:
        route = [
            (g, tokens[b]) for b, members in enumerate(bins) for g in members
        ]
        if len(route) <= SPLIT_MAP_MAX:
            # same literal CASE-chain trick as the level loop: the
            # node→token routing stays inside one whole-stage-codegen
            # projection — no broadcast exchange, no join node feeding
            # the shuffle (every base row's node is a live subtree, so
            # the lookup never misses; the n_out == total guard below
            # would catch a violation either way)
            src = (
                base.withColumn(
                    "_tok", _literal_lookup(F.col("node"), route)
                )
                .repartition(n_parts, "_tok")
                .drop("_tok")
            )
        else:
            rdf = spark.createDataFrame(route, "node long, _tok long")
            src = (
                base.join(F.broadcast(rdf), "node")
                .repartition(n_parts, "_tok")
                .drop("_tok")
            )
    else:  # pragma: no cover - JVM partitioning changed; keep correctness
        _, _, lo_expr = fast_derived_cols(F.col("node"), max_depth)
        src = (
            base.withColumn("_subtree_lo", lo_expr)
            .repartitionByRange(n_parts, "_subtree_lo")
            .drop("_subtree_lo")
        )

    acc = spark.sparkContext.accumulator([], _ListAccum())

    def finish(batches):
        t_start = time.time()
        chunks = list(batches)
        if not chunks:
            return
        t_drain = time.time() - t_start
        # numpy-direct column concat (no pandas block consolidation) and
        # copy=False frames below: fresh-page allocation on this host
        # costs ~100 ms/MB under memory churn (measured: a 7-column
        # 1.5M-row pd.DataFrame(dict) = 9 s, copy=False = 0.00 s), so the
        # kernel allocates each output array exactly once
        keys = np.concatenate([c["key"].to_numpy() for c in chunks])
        nodes = np.concatenate([c["node"].to_numpy() for c in chunks])
        xs0 = np.concatenate([c["x"].to_numpy() for c in chunks])
        ys0 = np.concatenate([c["y"].to_numpy() for c in chunks])
        del chunks
        # (node, key) pre-sort: groups become contiguous AND each leaf's
        # rows end up key-ordered (stable local build preserves it)
        order = np.lexsort((keys, nodes))
        keys = keys[order]
        nodes = nodes[order]
        xs = xs0[order]
        ys = ys0[order]
        del xs0, ys0, order
        uniq, starts = np.unique(nodes, return_index=True)
        edges = np.append(starts, len(keys))
        groups = sorted(
            range(len(uniq)),
            key=lambda i: _node_prefix(int(uniq[i]), max_depth)[3],
        )
        n_rows_total = len(keys)
        n_groups = len(uniq)
        node_rows = []
        for gi in groups:
            g = int(uniq[gi])
            s, e = edges[gi], edges[gi + 1]
            plen_g, code_g, sk_g, _ = _node_prefix(g, max_depth)
            if g not in deferred:
                # a leaf the distributed phase already DECIDED (too small
                # or a degenerate split there) — honoring that decision
                # keeps the fused path consistent with level-sync even in
                # the last-ulp case where a locally recomputed mean would
                # flip the degeneracy verdict
                nrows = e - s
                yield pd.DataFrame(
                    {
                        "key": keys[s:e],
                        "x": xs[s:e],
                        "y": ys[s:e],
                        "node": np.full(nrows, g, dtype=np.int64),
                    },
                    copy=False,
                )
                continue
            # deferred subtrees root at different depths (each withdrew
            # the moment it fit a task) — build each from its OWN depth
            res = build_local_fast(
                xs[s:e],
                ys[s:e],
                max_depth=max_depth - plen_g,
                strategy=local_strategy,
                depth_offset=plen_g,
                min_split=min_split,
                coord_dtype=dtype,
            )
            kd = res.kd_perm
            two_p = np.int64(1) << res.path_len[kd]
            yield pd.DataFrame(
                {
                    "key": keys[s:e][kd],
                    "x": xs[s:e][kd],
                    "y": ys[s:e][kd],
                    "node": (g + 1) * two_p + (res.node[kd] + 1 - two_p) - 1,
                },
                copy=False,
            )
            # every local node's exact data bbox (leaves included) keeps
            # SplitTree.node_bounds leaf-granular on the fused path, so kNN
            # radius bounds do not degrade to ~threshold-size regions
            for nid, bb in res.bounds.items():
                ps = (nid + 1).bit_length() - 1
                sp = res.splits.get(nid)
                node_rows.append((
                    ((g + 1) << ps) + (nid + 1 - (1 << ps)) - 1,
                    bb,
                    None if sp is None else {
                        "depth": plen_g + sp.depth,
                        "axis": sp.axis,
                        "value": float(sp.value),
                        "n_left": sp.n_left,
                        "n_right": sp.n_right,
                    },
                ))
        if node_rows:
            acc.add(node_rows)
        if os.environ.get("SPARK_GRAFT_BUILD_DEBUG"):
            print(
                f"[finish] rows={n_rows_total} groups={n_groups} "
                f"drain={t_drain:.1f}s total={time.time() - t_start:.1f}s",
                flush=True,
            )

    debug = os.environ.get("SPARK_GRAFT_BUILD_DEBUG")
    t0 = time.time()
    plen_c, code_c, sk_c = fast_derived_cols(F.col("node"), max_depth)
    out = (
        src.mapInPandas(finish, out_schema)
        .select(
            "key", "x", "y", "node",
            plen_c.alias("path_len"), code_c.alias("code"),
            sk_c.alias("sort_key"),
        )
        .persist()
    )
    # 500k-row Arrow batches for THIS job only (session default 65k is
    # sized for wide/binary rows; these are 4 fixed-width columns =
    # 16 MB/batch): fewer per-batch JVM->python round-trips cut the
    # per-task drain 12 -> 7.5 s at 38.4 M/local[8] (measured r5).
    # Session conf, so set/restore around the one materializing action;
    # a later cache-eviction recompute under the session default is only
    # a perf difference, never a semantic one.
    arrow_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev_batch = spark.conf.get(arrow_key, None)
    spark.conf.set(
        arrow_key, os.environ.get("SPARK_GRAFT_FUSED_BATCH", "500000")
    )
    try:
        n_out = out.count()
    finally:
        if prev_batch is None:
            spark.conf.unset(arrow_key)
        else:
            spark.conf.set(arrow_key, prev_batch)
    if debug:
        print(f"[fused] shuffle+finish+materialize: {time.time() - t0:.1f}s")
    if total and n_out != total:  # pragma: no cover - invariant guard
        raise AssertionError(
            f"fused finish row count {n_out} != expected {total}"
        )
    local_bounds: dict[int, tuple] = {}
    local_split_rows = []
    for nid, bb, split in acc.value:
        if nid not in local_bounds:
            local_bounds[nid] = bb
            if split is not None:
                local_split_rows.append({"node_id": nid, **split})
    return out, local_split_rows, local_bounds


def _checkpoint_level(
    spark, new_pts, checkpoint_dir, depth, split_rows, lineage, node_counts,
    node_bounds,
):
    path = os.path.join(checkpoint_dir, f"level_{depth:02d}")
    new_pts.write.mode("overwrite").parquet(path)
    manifest = {
        "next_depth": depth + 1,
        "points_path": path,
        "split_rows": split_rows,
        "lineage": lineage,
        "node_counts": {str(k): v for k, v in node_counts.items()},
        "node_bounds": {str(k): list(v) for k, v in node_bounds.items()},
    }
    tmp = os.path.join(checkpoint_dir, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(checkpoint_dir, "manifest.json"))
    return spark.read.parquet(path).persist()


def _load_manifest(checkpoint_dir):
    p = os.path.join(checkpoint_dir, "manifest.json")
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return None
