"""Graph centrality over relational edge lists: fixed-iteration
PageRank.

Why this lives in a training-data engine: link-graph centrality is a
standard corpus-quality prior — Common Crawl curation ranks hosts by
centrality (harmonic/PageRank over the domain graph) to pick what to
keep, and citation/interaction graphs serve the same role for
code/paper corpora. The operator is generic: any (src, dst[, weight])
DataFrame.

Reference parity note: the reference engine (dbis-ilm/piglet) has no
graph operators; its nearest shape is the iterative-script idiom
(MATERIALIZE between runs). Here the iteration is a driver loop that
BUILDS the plan — k is small and fixed, rows never iterate through
Python.

Scale shape: each iteration is one join edge⋈rank on the source key +
one partial-aggregated sum on the destination key — the classic
two-shuffle PageRank step. Ranks checkpoint per iteration (bounded:
one row per node), so the lineage never grows; edges are re-scanned
per step, which at 100 TB is the known cost of iterative PageRank on
a non-caching engine — `edges.persist()` upstream is the standard
mitigation and the operator leaves that choice to the caller.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import util
from .util import half_up


def pagerank(edges: DataFrame, iters: int = 3, damping: float = 0.85,
             src_col: str = "src", dst_col: str = "dst",
             persist_edges: "bool | None" = None) -> DataFrame:
    """Fixed-``iters`` PageRank on a directed edge list (duplicate
    edges act as weight — the natural semantics when edges come from
    an interaction log). Returns ``(node, pagerank)`` for every node
    appearing as source or destination.

    Semantics (the textbook formulation, uniform teleport):
    ``pr_0 = 1/N``;
    ``pr_{t+1}(v) = (1−d)/N + d·(Σ_{u→v} pr_t(u)/outdeg(u)
    + dangling_t/N)`` where ``dangling_t`` is the rank mass of
    nodes with no outgoing edge (redistributed uniformly, so total
    mass stays 1 — checked in pytest).

    Determinism/oracle story: ranks round to 12 decimals after every
    iteration, so each step's input is a short exact decimal and the
    per-node incoming sum (a float aggregation whose fold order
    Spark does not fix) sits ~1e-16 relative away from any rounding
    boundary; the final output rounds to 9. The whole iteration
    unrolls into generated SQL CTE layers (one per step — the MMR
    precedent), giving an iterative graph algorithm a full value-hash
    DuckDB oracle.

    Each iteration: one src-keyed join + one dst-keyed
    partial-aggregated sum + a 1-row dangling aggregate; the rank
    relation (one row per node) localCheckpoints per step so the
    driver loop never replays earlier iterations. At ``iters > 2``
    the edge list and out-degree table persist (MEMORY_AND_DISK)
    for the loop's duration — every iteration re-scans both, so a
    3+-iteration run otherwise pays the edge scan ``iters`` times
    (r09, VERDICT item; unpersisted before return — safe because
    the final rank is an eager checkpoint).

    Three physical regimes, decided from EXACT counts (never
    estimates), all value-identical (pytest cross-regime pin +
    DuckDB oracle): edge lists at most
    :data:`~piglet_spark.datapipe.util.PAGERANK_KERNEL_EDGES` run the
    whole loop as ONE single-task Arrow pass
    (:func:`_pagerank_kernel` — small graphs are dominated by
    driver job latency, not data); node counts at most
    :data:`~piglet_spark.datapipe.util.PAGERANK_BROADCAST_NODES`
    broadcast the rank relation into the
    per-iteration joins (no rank exchange); larger graphs keep the
    shuffle plan with edges pre-partitioned on the join key."""
    iters = int(iters)
    if iters < 1:
        raise ValueError("pagerank: iters must be >= 1")
    d = float(damping)
    if not 0.0 < d < 1.0:
        raise ValueError(f"pagerank: damping must be in (0,1), got {d}")
    e = edges.select(F.col(src_col).alias("_s"),
                     F.col(dst_col).alias("_t"))
    same_type = e.schema["_s"].dataType == e.schema["_t"].dataType
    max_kernel = util.PAGERANK_KERNEL_EDGES
    kernel_probe = same_type and max_kernel > 0
    persisted = []
    do_persist = (persist_edges if persist_edges is not None
                  else iters > 2)
    if do_persist:
        # persist BEFORE node discovery (r10): discovery's
        # union+distinct+outdeg join evaluates the edge subtree three
        # times, and the loop once more per iteration — with an
        # upstream join producing the edges (the registry query joins
        # two TPC-H tables) that was 3 full joins before the first
        # iteration ran (measured: the node-discovery count job was
        # ~60% of the query).
        # r10c: NOT pre-partitioned on _s any more — the kernel and
        # broadcast regimes never reshuffle the edge list, so the
        # repartition exchange was pure cost for them (~0.3-0.5 s of
        # the sf0.1 query); the big-graph shuffle regime re-adds it
        # after discovery decides the regime.
        e = e.persist()
        persisted = [e]
    if kernel_probe:
        # cheap regime probe (r10c): ONE partially-aggregated row
        # over the edge list — no explode, no groupBy shuffle. In
        # the kernel regime the full node/out-degree discovery is
        # skipped outright (the kernel derives both from the edges
        # it already holds); discovery only runs for graphs that
        # stay on the Spark loop plans.
        st = e.agg(
            F.count(F.lit(1)).alias("m"),
            F.sum((F.col("_s").isNull() | F.col("_t").isNull())
                  .cast("bigint")).alias("nulls")).collect()[0]
        if (int(st["nulls"] or 0) == 0
                and 0 < int(st["m"]) <= max_kernel):
            # eager checkpoint (bounded: one row per node) so the
            # edge cache can be dropped before returning
            out = _pagerank_kernel(e, iters, d).localCheckpoint()
            for p in persisted:
                p.unpersist()
            return out.select("node", half_up(F.col("_pr"), 1e9)
                              .alias("pagerank"))
    # r10 restructure (same values, fewer exchanges and jobs/iter):
    # the out-degree rides ON the rank relation — so each iteration
    # needs neither a per-step outdeg join nor the dangling ANTI-join
    # (dangling mass is a filter over the already-materialized rank:
    # _deg IS NULL exactly on the anti-join's rows).
    # Node discovery fused to ONE pass (r10b): each edge explodes to
    # (src, 1) and (dst, 0) and a single aggregation yields the node
    # set AND its out-degree — nullif(sum, 0) reproduces the former
    # union→distinct→left-join-outdeg nulls exactly (a node summing
    # to 0 is precisely one that never appears as a source). That
    # plan cost two scans of e and three exchanges; this is one scan
    # and one exchange (A/B: discovery 1.4→0.7 s at 600k edges,
    # hash-identical final ranks).
    if same_type:
        nodes = (e.selectExpr(
                    "explode(array(named_struct('node', _s, 'o', 1L), "
                    "named_struct('node', _t, 'o', 0L))) as x")
                 .groupBy(F.col("x.node").alias("node"))
                 .agg(F.expr("nullif(sum(x.o), 0L)").alias("_deg"))
                 .localCheckpoint(eager=False))
    else:  # mixed src/dst types can't share one exploded array —
        # keep the coercing union plan for that (rare) shape
        outdeg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
        nodes = (e.select(F.col("_s").alias("node"))
                 .unionByName(e.select(F.col("_t").alias("node")))
                 .distinct()
                 .join(outdeg.withColumnRenamed("_s", "node"),
                       on="node", how="left")
                 .localCheckpoint(eager=False))
    n_nodes = nodes.count()
    if n_nodes == 0:
        for p in persisted:
            p.unpersist()
        return nodes.select("node").withColumn("pagerank", F.lit(0.0))
    # contribution fraction per edge: pr(u)/outdeg(u) sums over
    # DUPLICATE edges too (each parallel edge carries 1/deg of u)
    base = 1.0 / float(n_nodes)
    # the same floor-formulation HALF_UP the kernel and the SQL
    # oracle evaluate (Python doubles are the same IEEE ops)
    rank = nodes.withColumn(
        "_pr", F.lit(math.floor(base * 1e12 + 0.5) / 1e12))
    teleport = (1.0 - d) * base
    # broadcast regime (r10b, guide §3.1): n_nodes is an EXACT count
    # already in hand, so the choice is deterministic, not an
    # estimate. Below the threshold the rank relation (~50 B/node →
    # ~100 MB at the 2M default) broadcasts into the contribution
    # join and the update join — the edge list is never reshuffled
    # and the rank exchange disappears, cutting the per-iteration
    # stage chain roughly in half (A/B at 600k edges/2k nodes:
    # 3.7→2.8 s, hash-identical ranks; per-step round(…,12) absorbs
    # the join-order change in the float sums, re-proven by the
    # DuckDB value-hash oracle at two SFs). Graphs beyond the
    # threshold keep the shuffle plan unchanged.
    bcast = 0 < n_nodes <= util.PAGERANK_BROADCAST_NODES
    if not bcast and do_persist:
        # big-graph shuffle regime: re-establish the _s partitioning
        # the per-iteration rank joins reuse (r10c moved it out of
        # the shared persist — kernel/broadcast regimes never
        # reshuffle the edges, so they skip this exchange entirely)
        e2 = e.repartition("_s").persist()
        persisted.append(e2)
        e = e2
    for it in range(iters):
        r_out = (rank.filter(F.col("_deg").isNotNull())
                 .select(F.col("node").alias("_s"), "_pr", "_deg"))
        ranked_out = e.join(F.broadcast(r_out) if bcast else r_out,
                            on="_s")
        contrib = (ranked_out
                   .groupBy(F.col("_t").alias("node"))
                   .agg(F.sum(F.col("_pr") / F.col("_deg"))
                        .alias("_in")))
        # dangling mass: rank held by nodes with no outgoing edge —
        # a filter over the checkpointed rank (rows identical to the
        # previous anti-join against outdeg), no join
        dang = (rank.filter(F.col("_deg").isNull())
                .agg(F.coalesce(F.sum("_pr"), F.lit(0.0))
                     .alias("_dm")))
        # intermediate iterations checkpoint NON-eagerly: the RDD is
        # marked (lineage truncates, and both consumers of rank in
        # iteration t+1 — the contribution join and the dangling
        # filter — share ONE computation), but no job runs until
        # the LAST iteration's eager checkpoint materializes the
        # whole loop in a single action (was one eager job per
        # iteration, each paying full job-scheduling latency).
        # The last one stays eager so the persisted edge table is
        # still cached while the loop computes and can be
        # unpersisted safely below.
        last = it == iters - 1
        # update join: in the broadcast regime the checkpointed rank
        # itself is the node source (same node set, carries _deg) and
        # the aggregated contributions broadcast — a map-only update
        # over |nodes| rows. The big-graph path keeps the original
        # nodes⋈contrib shuffle join.
        upd_src = rank.select("node", "_deg") if bcast else nodes
        rank = (upd_src.join(F.broadcast(contrib) if bcast else contrib,
                             on="node", how="left")
                .crossJoin(F.broadcast(dang))
                .select("node", "_deg",
                        half_up(
                            F.lit(teleport)
                            + F.lit(d)
                            * (F.coalesce(F.col("_in"), F.lit(0.0))
                               + F.col("_dm") * F.lit(base)),
                            1e12).alias("_pr"))
                .localCheckpoint(eager=last))
    for p in persisted:  # final rank is an eager checkpoint
        p.unpersist()
    return rank.select("node",
                       half_up(F.col("_pr"), 1e9).alias("pagerank"))


def _pagerank_kernel(e: DataFrame, iters: int, d: float) -> DataFrame:
    """Small-graph regime (r10, guide §1.2 step 1): the whole
    ``iters``-step loop as ONE single-task Arrow pass over the edge
    list, instead of ~3 driver-scheduled jobs per iteration (broadcast
    builds + checkpoint) whose fixed latency dominates small graphs
    (measured: 3.4 → 1.9 s at 600k edges / 16k nodes, sf0.1).

    Gated by the caller on an EXACT edge count
    (``util.PAGERANK_KERNEL_EDGES``, 2M ≈ tens of MB in one task),
    same-typed null-free node ids. Arithmetic is step-for-step
    identical to the loop plan:
    same node/out-degree derivation (bincount ≡ the explode+sum
    discovery), same IEEE update expression
    ``teleport + d·(contrib + dm·base)``, and the same per-step
    round-12. Per-step rounding uses ``floor(x·1e12 + 0.5)/1e12`` —
    HALF_UP for positive doubles, the exact formulation DuckDB's
    ``round(double, 12)`` evaluates, which the value-hash oracle
    already proves equal to Spark's BigDecimal HALF_UP on every
    dataset (the round-12 design keeps sums ≥ several ulps away from
    rounding boundaries; see the main docstring). The float-sum fold
    order differs from Spark's partial aggregation, absorbed by the
    same per-step rounding (the property the DuckDB oracle already
    relies on). Cross-regime equality is pinned by pytest on random
    graphs and by the collect-compare in the registry oracle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as _T

    n_iters = int(iters)
    schema = _T.StructType([
        _T.StructField("node", e.schema["_s"].dataType),
        _T.StructField("_pr", _T.DoubleType())])

    def run(batches):
        import math as _math
        parts = list(batches)
        if not parts:
            return
        s = pd.concat([p["_s"] for p in parts], ignore_index=True)
        t = pd.concat([p["_t"] for p in parts], ignore_index=True)
        codes, uniq = pd.factorize(pd.concat([s, t],
                                             ignore_index=True))
        n = len(uniq)
        # same scalar derivation (and the same Python IEEE ops) the
        # loop plan runs on the driver; the initial rank is the same
        # floor-formulation HALF_UP every regime and the SQL oracle
        # evaluate (r11)
        base = 1.0 / float(n)
        teleport = (1.0 - d) * base
        pr0 = _math.floor(base * 1e12 + 0.5) / 1e12
        src, dst = codes[:len(s)], codes[len(s):]
        deg = np.bincount(src, minlength=n).astype(np.float64)
        nz = deg > 0
        pr = np.full(n, pr0)
        for _ in range(n_iters):
            w = np.zeros(n)
            w[nz] = pr[nz] / deg[nz]
            contrib = np.bincount(dst, weights=w[src], minlength=n)
            dm = pr[~nz].sum()
            x = teleport + d * (contrib + dm * base)
            pr = np.floor(x * 1e12 + 0.5) / 1e12
        yield pd.DataFrame({"node": uniq, "_pr": pr})

    # persisted edges: coalesce(1) reads the cached blocks into the
    # one kernel task with no exchange. Unpersisted edges: coalesce
    # would collapse the UPSTREAM (e.g. an edge-producing join) to a
    # single thread — pay a repartition(1) exchange instead so the
    # upstream keeps its parallelism.
    sl = e.storageLevel
    one = e.coalesce(1) if (sl.useMemory or sl.useDisk) \
        else e.repartition(1)
    return one.mapInPandas(run, schema=schema)
