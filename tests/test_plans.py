"""Physical-plan regression guards: the 100 TB design properties that
must survive refactors — filter pushdown into parquet scans, column
pruning, TakeOrderedAndProject for top-k (no global sort shuffle),
no collect_list in fused group-aggregates, and whole-stage codegen on
the hot dedup path. These assert plan SHAPE, not timings, so they are
stable on any machine."""

import importlib.util
import os

import pytest


@pytest.fixture(scope="module")
def entry():
    spec = importlib.util.spec_from_file_location(
        "entrymod", os.path.join(os.path.dirname(__file__), "..",
                                 "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_pushes_segment_filter_and_prunes_columns(spark, entry):
    plan = _plan(entry.queries()["q3_top_revenue"](spark, SF))
    # the literal filter reaches the parquet reader, not a post-scan
    # Filter only
    assert "PushedFilters" in plan or "EqualTo(c_mktsegment,BUILDING)" \
        in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    # column pruning: the 16-column lineitem scan reads only 3
    assert "l_comment" not in plan and "l_shipmode" not in plan


def test_q3_topk_avoids_global_sort(spark, entry):
    plan = _plan(entry.queries()["q3_top_revenue"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_cosine_topk_avoids_global_sort(spark, entry):
    plan = _plan(entry.queries()["similarity_cosine_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    # r10 split formulation: the LITERAL-side dot (query vector) is
    # the unrolled codegen form (element_at × literal multiply-adds —
    # measured faster than the interpreted lambda when one side is a
    # constant), while the self-norm v·v is the HOF aggregate fold
    # (smaller tree, faster for column-column — see similarity.py's
    # generated-SQL block). Pin both halves of that contract.
    assert "element_at" in plan
    assert "aggregate(" in plan and "zip_with" in plan


def test_q1_group_foreach_fuses_without_bags(spark, entry):
    plan = _plan(entry.queries()["q1_pricing_summary"](spark, SF))
    assert "collect_list" not in plan
    assert "partial_sum" in plan  # map-side combine happened


def test_minhash_signature_aggregates_map_side(spark, entry):
    # r10: dedup_minhash_lsh's bucket relation is localCheckpointed
    # (its plan shows an ExistingRDD), so the signature invariant is
    # pinned on the signature relation itself
    from pyspark.sql import functions as F
    from piglet_spark.datapipe import dedup as dp_dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = dp_dedup.minhash_signatures(docs)
    plan = _plan(sigs)
    # partial min() aggregation before the shuffle: the signature
    # shuffle carries 32 longs/doc, not shingle sets
    assert "partial_min" in plan
    assert "collect_list" not in plan
    # and the full query must still never collect shingle bags
    full = _plan(entry.queries()["dedup_minhash_lsh"](spark, SF))
    assert "collect_list" not in full


def test_events_hourly_pushes_column_pruning(spark, entry):
    plan = _plan(entry.queries()["events_hourly"](spark, SF))
    # events has payload-ish wide columns; the hourly rollup must not
    # read them
    assert "ReadSchema" in plan or "Scan parquet" in plan
    assert "partial_" in plan  # partial aggregation present


def test_no_cartesian_product_in_dedup_family(spark, entry):
    """The pair-generation joins are all equi-joins on bucket/shingle
    keys (plus the id inequality as a post-condition) — a
    CartesianProduct in any of these plans means the bucketing
    broke and the operator went all-pairs."""
    qs = entry.queries()
    for name in ("dedup_minhash_lsh", "dedup_simhash",
                 "ngram_jaccard_pairs", "embedding_neardup_exact",
                 "contamination_scores", "dedup_exact"):
        plan = _plan(qs[name](spark, SF))
        assert "CartesianProduct" not in plan, name


def test_ivf_crossjoin_is_broadcast(spark, entry):
    """IVF's deliberate crossJoin against ≤ n_cells centroids must be
    a BroadcastNestedLoopJoin (tiny side shipped to executors), never
    a CartesianProduct shuffle."""
    plan = _plan(entry.queries()["similarity_ivf"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_correlated_sum_preserves_integral_type(spark, data_dir):
    """r02 advice (SUM's array fold in builtins.AGGREGATES): SUM over
    a correlated bag expression of ints returns LONG like the fused
    F.sum path (it used to promote to double, so the same script
    changed result type with compilation mode), and SUM of an empty
    bag stays 0 (reference parity, CommonPigFuncs.scala:38)."""
    import piglet_spark as pg
    from pyspark.sql import types as T
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{data_dir}/t.csv' USING PigStorage(',') AS (a:int, b:int, c:int);
G = GROUP A BY a;
K = FOREACH G GENERATE group, A;
X = FOREACH K GENERATE group AS k, SUM((A.b + 1)) AS s_corr,
    SUM((A.b > 100 ? A.c : 0)) AS s_none;
""")
    df = eng.df("X")
    sch = {f.name: f.dataType for f in df.schema.fields}
    assert isinstance(sch["s_corr"], T.LongType), sch
    assert isinstance(sch["s_none"], T.LongType), sch
    rows = {r["k"]: (r["s_corr"], r["s_none"]) for r in df.collect()}
    # t.csv: (1,2,3),(4,5,6),(7,8,9),(1,2,4) -> group 1 has b=2,2
    assert rows[1] == (6, 0)   # (2+1)+(2+1); no b>100 -> 0 not null
    assert rows[4] == (6, 0)
    assert rows[7] == (9, 0)


def test_tpch_star_joins_broadcast_no_cartesian(spark):
    """Plan guards for the headline join queries: dims broadcast, no
    cartesian product, no single-partition sort anywhere (regression
    net for the 100 TB join strategy)."""
    import sys
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as em
    qs = em.queries()
    for name in ("q3_top_revenue", "q5_region_revenue",
                 "q7_volume_shipping", "q8_market_share"):
        df = qs[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_lm_perplexity_stays_jvm_side_no_data_window(spark, entry):
    """The LM never leaves codegen: no Python eval nodes, no global
    window over the token stream (the per-doc average is a hash
    aggregate), and the 1-row totals fold in as a broadcast."""
    plan = _plan(entry.queries()["lm_perplexity"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "Window" not in plan            # no window over data
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" \
        in plan                            # the 1-row T/V cross join
    assert "CartesianProduct" not in plan  # never a real cartesian


def test_duplicate_spans_partial_aggregates_map_side(spark, entry):
    """(doc,hash) counts partially aggregate before the shuffle and
    gram strings never ride the exchange (only the 32-bit hash)."""
    plan = _plan(entry.queries()["duplicate_spans"](spark, SF))
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_q21_self_aggregation_chain_no_cartesian(spark, entry):
    """The four-phase exists/not-exists chain stays hash/broadcast
    joins — a cartesian anywhere here explodes at scale."""
    plan = _plan(entry.queries()["q21_waiting_suppliers"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_order_before_group_bypassed(spark, sf_dir):
    """SparkRuleset parity: a sort whose only consumer is a GROUP BY
    is bypassed — no range-partition Sort in the grouped plan — while
    a sort that also feeds an order-sensitive consumer stays."""
    import piglet_spark as pg
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{sf_dir}/lineitem.parquet' USING ParquetStorage();
O = ORDER A BY l_extendedprice DESC;
G = GROUP O BY l_returnflag;
C = FOREACH G GENERATE group AS flag, COUNT(O) AS n;
""")
    plan = eng.df("C")._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, plan
    # values unchanged by the bypass
    got = {r["flag"]: r["n"] for r in eng.df("C").collect()}
    want = {r["l_returnflag"]: r["n"] for r in
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .groupBy("l_returnflag").count()
            .withColumnRenamed("count", "n").collect()}
    assert got == want
    # the ORDER alias is still resolvable (lazy, never executed)
    assert eng.df("O") is not None

    eng2 = pg.PigEngine(spark)
    eng2.run(f"""
A = LOAD '{sf_dir}/lineitem.parquet' USING ParquetStorage();
O = ORDER A BY l_extendedprice DESC;
L = LIMIT O 5;
G = GROUP O BY l_returnflag;
""")
    # two consumers, one order-sensitive: the sort must stay wired
    plan2 = eng2.df("L")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan2 or "Sort" in plan2
    prices = [r["l_extendedprice"] for r in eng2.df("L").collect()]
    assert prices == sorted(prices, reverse=True)


def test_ngram_big_plan_broadcasts_and_slices(spark, sf_dir):
    """The r09 known-big ngram plan (forced via the n_docs hint):
    the per-doc size table reaches the pair stream as a BROADCAST
    hash join (never a sort-merge of the candidate stream), and the
    id-slice predicate (pmod(xxhash64(id))) is present in the sliced
    plan. Values are invariance-pinned elsewhere
    (test_ngram_jaccard_slices_and_big_plan_invariant)."""
    from piglet_spark.datapipe import dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.2,
                                    n_docs=2_000_000, n_slices=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    sliced = dedup.ngram_jaccard_pairs(docs, threshold=0.2,
                                       n_docs=2_000_000, n_slices=2)
    # sliced plan: union of per-slice checkpoints — the heavy lifting
    # already ran eagerly; the final plan is a cheap union scan
    splan = sliced._jdf.queryExecution().executedPlan().toString()
    assert "Union" in splan, splan
    assert sliced.count() == out.count()
