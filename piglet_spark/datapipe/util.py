"""Shared datapipe helpers."""

from __future__ import annotations

import os
import weakref

from pyspark.sql import Column, DataFrame

# ------------------------------------------------------------------
# Parquet HANDLE cache (r10, guide §1.2 "per-task work" applied to the
# driver): every `spark.read.parquet(path)` costs ~60-90 ms of py4j
# round-trips + footer schema resolution, and a query suite re-reads
# the same handful of paths constantly (measured: 8 LOADs = 0.74 s of
# a TPC-H query's 1.7 s plan build). The DataFrame handle is a LAZY
# plan — caching it shares zero DATA across queries or runs (every
# action re-scans the files); it only skips re-deriving the identical
# plan metadata. Keyed per SparkSession (weakly — a stopped session's
# handles die with it) and per (path, fingerprint); the fingerprint
# folds in the file's (or directory's one-level entries') size+mtime,
# so an overwritten table or an appended index directory misses the
# cache and is re-resolved.
_PARQUET_HANDLES: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

# Row count at or under which :func:`prefix_rank` computes a global
# prefix with one window instead of the TeraSort two-phase rank.
SMALL_ROWS = 2_000_000

# On-disk input size under which the size-gated :func:`spread` sites
# skip their repartition: the sf0.1 A/B showed the added exchange
# costing more than the parallelism buys on tiny inputs (r11).
SPREAD_MIN_BYTES = 2 * 1024 * 1024


def _path_fingerprint(path: str) -> tuple:
    try:
        st = os.stat(path)
    except OSError:
        return ("missing",)
    if not os.path.isdir(path):
        return (st.st_size, st.st_mtime_ns)
    parts: list[tuple] = [(st.st_mtime_ns,)]
    try:
        for name in sorted(os.listdir(path)):
            try:
                s = os.stat(os.path.join(path, name))
                parts.append((name, s.st_size, s.st_mtime_ns))
            except OSError:
                parts.append((name, -1, -1))
    except OSError:
        pass
    return tuple(parts)


def cached_parquet(spark, path: str) -> DataFrame:
    """`spark.read.parquet(path)` with the resolved handle memoized
    per (session, path, file fingerprint). Returns the SAME lazy plan
    a fresh read would produce; never caches data."""
    per_session = _PARQUET_HANDLES.get(spark)
    if per_session is None:
        per_session = {}
        try:
            _PARQUET_HANDLES[spark] = per_session
        except TypeError:  # unexpectedly un-weakref-able session
            return spark.read.parquet(path)
    key = (path, _path_fingerprint(path))
    df = per_session.get(key)
    if df is None:
        df = spark.read.parquet(path)
        # drop stale fingerprints of the same path, then memoize
        for k in [k for k in per_session if k[0] == path]:
            del per_session[k]
        per_session[key] = df
    return df

def memo_on_df(df: DataFrame, key: str, fn):
    """Memoize a small plan-derived statistic (a probed dimension, a
    row count) ON the DataFrame handle object. DataFrames are
    immutable plans, so the statistic is a pure function of the
    handle; for `cached_parquet` handles the memo's lifetime and
    invalidation are exactly the handle cache's (a changed file is a
    new fingerprint → a new handle → a fresh probe). Never stores
    query RESULTS — only scalar metadata the next plan build would
    re-derive with an identical job (r10: probe_dim + the LSH corpus
    count were one fixed-latency job each, per query, on the same
    memoized corpus handle)."""
    memo = df.__dict__.setdefault("_piglet_stat_memo", {})
    if key not in memo:
        memo[key] = fn()
    return memo[key]


def input_bytes(df: DataFrame) -> int:
    """Total on-disk bytes of the DataFrame's input files (local
    paths; unknown schemes/errors conservatively count 0 — size-gated
    optimizations then stay on their lazy/small side). Metadata only,
    no job. The datapipe twin of the engine's ``_paths_bytes`` gate
    helper (r11)."""
    import os
    from urllib.parse import urlparse
    total = 0
    try:
        for f in df.inputFiles():
            p = urlparse(f)
            if p.scheme in ("", "file"):
                try:
                    total += os.path.getsize(p.path)
                except OSError:
                    pass
    except Exception:
        return 0
    return total


# logical nodes that imply an exchange downstream of the scan — if one
# is present, the data is already redistributed across
# spark.sql.shuffle.partitions and spread() has nothing to fix
_WIDE_NODES = ("Join", "Aggregate", "Repartition", "Sort", "Window",
               "Deduplicate", "Intersect", "Except",
               "RepartitionByExpression")
# narrow but expensive-to-recompute nodes (Python/Arrow stages) —
# pin_if_wide also pins these: the range-bounds sampler re-executing a
# JPEG decode is exactly the double-execution it guards against
_EXPENSIVE_NODES = _WIDE_NODES + (
    "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython",
    "ArrowEvalPython", "MapPartitions")


def _plan_has(plan: str, nodes) -> bool:
    """Anchored node-name match: a node name must start a plan tree
    line (after the `:+- ` prefixes) — a COLUMN named 'JoinKey' or
    'Window' printed inside `Relation [JoinKey#0,…]` must not count
    (r05 review: the old substring match false-positived on it)."""
    import re
    pat = re.compile(
        r"(?m)^[\s:+\-*()\d]*(?:" + "|".join(nodes) + r")\b")
    return pat.search(plan) is not None


def spread(df: DataFrame, *key_cols: str,
           min_bytes: int = 0) -> DataFrame:
    """Repartition up to the cluster's parallelism when the scan
    produced too few splits (small local files → 1 partition → any
    CPU-heavy map stage runs on one core). A no-op at scale, where
    scans already have ≥ defaultParallelism splits.

    ``min_bytes`` (r11): also a no-op below this many ON-DISK input
    bytes — for map passes where the sf0.1 A/B showed the added
    exchange costing more than the parallelism buys on tiny inputs
    (the r11 call sites pass :data:`SPREAD_MIN_BYTES`; the 29 pre-r11
    sites keep the unconditional probe their rounds measured).

    With ``key_cols``, hash-partition on those columns so a downstream
    groupBy/join on the same keys reuses this exchange instead of
    shuffling a second time.

    Only narrow scan/project/filter plans are probed: for them
    ``df.rdd`` is metadata-only. A plan that already contains a
    shuffle is returned unchanged — probing it via ``.rdd`` under AQE
    would EXECUTE the upstream stages at plan-build time (the probe's
    jobs are then thrown away and re-run by the real action), and its
    parallelism is already spark.sql.shuffle.partitions."""
    from pyspark.sql import functions as F
    if min_bytes and input_bytes(df) < min_bytes:
        return df
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return df
    if _plan_has(plan, _WIDE_NODES):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    n_parts = df.rdd.getNumPartitions()
    if n_parts >= target and _parquet_row_groups(df, target) < target:
        # The split COUNT can lie: Spark byte-range-splits a parquet
        # file to ≥ defaultParallelism, but a split with no ROW GROUP
        # START in it yields zero rows — a file written with huge row
        # groups (pyarrow's default is 1M ROWS ≈ 550 MB for a wide
        # table) reports 32 splits of which 30 are empty, and every
        # map stage serializes on the 2 real ones while the
        # partition-count probe says "fine" (r08: the whole sf100
        # decade ran documents on 5 cores and embeddings on 2 before
        # this footer probe; similarity_ivf sat 20+ min on 2 tasks).
        # One pyarrow footer read per input file — metadata-only.
        n_parts = 0
    if n_parts < target:
        if key_cols:
            return df.repartition(target, *[F.col(c) for c in key_cols])
        return df.repartition(target)
    return df


def _parquet_row_groups(df: DataFrame, stop_at: int) -> int:
    """Total row groups across the scan's parquet input files
    (footer metadata only), stopping early once ``stop_at`` is
    reached. Non-parquet or unreadable inputs return ``stop_at``
    (treated as splittable — no behavior change)."""
    try:
        files = df.inputFiles()
    except Exception:
        return stop_at
    if not files or not all(f.endswith(".parquet") for f in files):
        return stop_at
    if len(files) >= stop_at:
        return stop_at
    try:
        import pyarrow.parquet as pq
        total = 0
        for f in files:
            total += pq.ParquetFile(
                f.removeprefix("file:")).metadata.num_row_groups
            if total >= stop_at:
                return stop_at
        return total
    except Exception:
        return stop_at


def pin_if_wide(df: DataFrame) -> DataFrame:
    """``localCheckpoint()`` a DataFrame whose plan contains a shuffle
    (or other wide node), pass narrow scan/project/filter plans
    through untouched. Use before ``repartitionByRange``: the range
    partitioner runs a range-bounds SAMPLING job over its input, so an
    expensive un-materialized upstream executes twice — once for the
    sampler, once for the real shuffle (measured 2.6× the whole query
    for dsir_resample at sf10, SCALE.md r05). For a plain scan the
    double read is cheaper than materializing, so narrow plans are
    left alone."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return df
    if _plan_has(plan, _EXPENSIVE_NODES):
        return df.localCheckpoint()
    return df


def cum_offsets(stats: DataFrame, count_col: str = "__cnt",
                groups: "tuple[str, ...] | list[str]" = ()) -> DataFrame:
    """(__pid, *groups, __off): exclusive prefix sum of ``count_col``
    over a per-range-partition stats table keyed by ``__pid`` (and
    ``groups``) — the shared second phase of the TeraSort two-phase
    rank used by RANK / ZIP WITH INDEX (executor) and
    :func:`prefix_rank`. With ``groups`` the prefix restarts per
    group: range partitioning on (groups, order) puts each group on a
    contiguous run of partition ids.

    Computed DRIVER-side from the collected stats rows: the table is
    ≤ partitions × groups rows by construction (never the data), and
    the driver loop replaces a global ``Window.orderBy`` over it —
    same result, but no single-partition WindowExec and no
    "No Partition Defined" warning to alarm operators at scale
    (r06, VERDICT item 4).

    Callers must pass stats derived from a PINNED (checkpointed)
    base so this eager collect doesn't recompute the upstream."""
    from pyspark.sql import types as T
    rows = stats.select("__pid", *groups,
                        stats[count_col].alias("__c")).collect()
    cum: dict = {}
    data = []
    for r in sorted(rows, key=lambda r: r["__pid"]):
        g = tuple(r[c] for c in groups)
        data.append((int(r["__pid"]), *g, cum.get(g, 0)))
        cum[g] = cum.get(g, 0) + int(r["__c"] or 0)
    schema = T.StructType(
        [T.StructField("__pid", T.IntegerType())]
        + [stats.schema[c] for c in groups]
        + [T.StructField("__off", T.LongType(), nullable=False)])
    return stats.sparkSession.createDataFrame(data, schema)


def prefix_rank(rel: DataFrame, order: list, weight: Column,
                out_col: str,
                groups: "tuple[str, ...] | list[str]" = ()
                ) -> "tuple[DataFrame, int]":
    """(``rel`` + ``out_col``, row count): ``out_col`` is the
    EXCLUSIVE running sum of ``weight`` in ``order``, restarting per
    ``groups`` — BIGINT, never null; with ``F.lit(1)`` it is the
    0-based row rank. The global prefix behind chunk_pack,
    global_shuffle, take_top_frac/dsir_resample and
    token_budget_sample (pack.py).

    ``rel`` must be PINNED (checkpointed) and narrow: the exact
    ``count()`` that picks the regime, the range sampler and both
    branches of the scale path all re-read it. This is the one place
    that decides "small or scale" for these operators:

    - at most :data:`SMALL_ROWS` rows: one window keyed by the groups
      (or a constant key, fed straight from the pinned input to its
      single task) — the two-phase plan's extra eager
      checkpoint and offsets collect are pure driver latency there
      (r10/r11 A/B);
    - above it: the TeraSort two-phase rank — range partition on
      (groups, order), pin ``__pid``, per-(partition, group) totals
      through :func:`cum_offsets` (≤ partitions × groups rows
      collected, never data), broadcast back, then a window bounded
      by one partition. A 100 TB prefix never lands on one reducer.

    Both regimes return the identical schema and values."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    total = rel.count()
    before = (Window.unboundedPreceding, -1)
    if total <= SMALL_ROWS:
        if not groups:
            # the constant-key window is one task either way: reading
            # the pinned input into it directly skips a shuffle stage
            rel = rel.coalesce(1)
        keys = [F.col(g) for g in groups] or [F.lit(0)]
        w = Window.partitionBy(*keys).orderBy(*order).rowsBetween(*before)
        run = F.coalesce(F.sum(weight).over(w), F.lit(0))
        return rel.withColumn(out_col, run.cast("long")), total
    nparts = int(rel.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # pin the partition ids: the stats and window branches must see the
    # SAME ids, and AQE may coalesce two copies of the exchange apart
    base = (rel.repartitionByRange(nparts, *[F.col(g) for g in groups],
                                   *order)
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint())
    stats = base.groupBy("__pid", *groups).agg(F.sum(weight).alias("__cnt"))
    off = F.broadcast(cum_offsets(stats, groups=groups))
    w = (Window.partitionBy("__pid", *groups).orderBy(*order)
         .rowsBetween(*before))
    ranked = base.withColumn(
        "__run", F.coalesce(F.sum(weight).over(w), F.lit(0)))
    # null-safe on the groups: a null group is a group of its own, as
    # in the small regime's window
    on = [ranked["__pid"] == off["__pid"]] + [
        ranked[g].eqNullSafe(off[g]) for g in groups]
    out = ranked.join(off, on).select(
        *[ranked[c] for c in rel.columns],
        (ranked["__run"] + off["__off"]).cast("long").alias(out_col))
    return out, total


def salted_join(big: DataFrame, dim: DataFrame, on: str | list[str],
                how: str = "inner", salt: int = 16) -> DataFrame:
    """Skew-resistant equi-join: salt the BIG side's key with a
    deterministic hash-derived suffix (0..salt-1) and replicate the
    dim side ``salt``× so each hot key's rows spread over ``salt``
    reducer partitions instead of one straggler task.

    Use when one join key carries a disproportionate share of the big
    side (the classic web-corpus 'null/empty/default key' skew) and
    AQE's skew-join splitting isn't available or isn't enough. The
    salt is POSITIONAL — ``pmod(monotonically_increasing_id(), salt)``
    cycles 0,1,2,… within each partition — so it spreads uniformly
    even when the hot rows are bit-for-bit identical (a value-hash
    salt sends all identical rows to ONE reducer, exactly the skew it
    was meant to fix — r02 advice), and it never touches column
    values, so map-typed columns that ``F.hash`` rejects are fine.
    Output correctness does not depend on salt stability: the dim
    side carries every salt value, so any salt assignment joins each
    big row exactly once. Replicating the dim side costs salt× its
    size — keep it for genuinely small dims (the broadcast-join
    regime, when broadcast alone can't fix the reducer skew of a
    shuffle join downstream).

    Result equals ``big.join(dim, on, how)`` column-for-column; only
    inner and left joins are supported (a right/full join would need
    dim-side dedup of the replicated unmatched rows).

    Also reachable from the language: ``J = JOIN big BY k, dim BY k
    USING 'salted(16)';`` (executor._salted_join)."""
    from pyspark.sql import functions as F

    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if "__salt" in big.columns or "__salt" in dim.columns:
        # withColumn would silently REPLACE (and drop() then delete)
        # the user's column, breaking the column-for-column contract
        raise ValueError(
            "salted_join: input already has a '__salt' column — "
            "rename it before joining")
    keys = [on] if isinstance(on, str) else list(on)
    big_salted = big.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(),
                         F.lit(salt)).cast("int"))
    dim_rep = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    dim_rep = dim_rep.withColumn("__salt", F.col("__salt").cast("int"))
    out = big_salted.join(dim_rep, on=keys + ["__salt"], how=how)
    return out.drop("__salt")
