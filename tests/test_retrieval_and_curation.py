"""Tests for the r08 retrieval/curation additions: RRF fusion,
hybrid search, funnel conversion, CDC latest-by-key, vocabulary
coverage, int8 quantization audit, stratified sampling.

Each operator is pinned against an independent driver-side
brute-force (python/numpy) reference on small data; the registry
queries add DuckDB value-hash oracles on top."""

import hashlib
import math
import os
import re

import pytest
from pyspark.sql import functions as F

from piglet_spark.datapipe import events as dpe
from piglet_spark.datapipe import pack as dpp
from piglet_spark.datapipe import retrieval as dpr
from piglet_spark.datapipe import similarity as dps
from piglet_spark.datapipe import text as dpt

from .conftest import SF_DIR


def _docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def _emb(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


# ---------------------------------------------------------------- RRF

def test_rrf_fusion_brute_force(spark):
    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2)],
        "query_id int, doc_id long, rank int")
    dense = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2),
         (2, 21, 1), (2, 20, 2), (2, 22, 3)],
        "query_id int, doc_id long, rank int")
    out = dpr.rrf_fusion({"lex": lex, "dense": dense},
                         k_rrf=60, topk=10).collect()
    got = {(r.query_id, r.doc_id): (r.rrf_score, r.n_lists, r.rank)
           for r in out}
    # python reference
    ranks = {}
    for qid, d, rk in [(1, 10, 1), (1, 11, 2), (1, 12, 3),
                       (2, 20, 1), (2, 21, 2)]:
        ranks.setdefault((qid, d), []).append(rk)
    for qid, d, rk in [(1, 11, 1), (1, 13, 2), (2, 21, 1),
                       (2, 20, 2), (2, 22, 3)]:
        ranks.setdefault((qid, d), []).append(rk)
    exp_scores = {k: round(sum(1.0 / (60 + r) for r in v), 6)
                  for k, v in ranks.items()}
    assert {k: v[0] for k, v in got.items()} == exp_scores
    assert {k: v[1] for k, v in got.items()} == \
        {k: len(v) for k, v in ranks.items()}
    # doc 11 in both lists must outrank single-list docs for q1
    assert got[(1, 11)][2] == 1
    assert got[(2, 21)][2] == 1 or got[(2, 20)][2] == 1


def test_rrf_fusion_validates(spark):
    import pytest
    with pytest.raises(ValueError):
        dpr.rrf_fusion({})


def test_hybrid_search_shape(spark):
    docs = _docs(spark)
    emb = _emb(spark)
    queries = [(1, "spark window agg"), (2, "customer query filter")]
    qv = (emb.filter(F.col("vec_id").isin([1, 2]))
          .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = dpr.hybrid_search(docs, emb, queries, qv, k=5)
    rows = out.collect()
    assert out.columns == ["query_id", "doc_id", "rrf_score",
                           "n_lists", "rank"]
    assert {r.query_id for r in rows} == {1, 2}
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        assert sorted(r.rank for r in rs) == list(range(1, len(rs) + 1))
        assert len(rs) == 5
        # the query's own embedding (cos 1.0, dense rank 1) must
        # appear, doc/vec id spaces being aligned in the fixture
        assert any(r.doc_id == q for r in rs)


# ------------------------------------------------------------- funnel

def test_funnel_conversion_brute_force(spark):
    rows = [
        # u1 completes in order
        (1, 100, "2024-01-01 00:00:00", "view"),
        (2, 100, "2024-01-01 00:01:00", "click"),
        (3, 100, "2024-01-01 00:02:00", "purchase"),
        # u2: click BEFORE view -> stops at view
        (4, 200, "2024-01-01 00:00:30", "click"),
        (5, 200, "2024-01-01 00:01:30", "view"),
        # u3: view+click same ts, click id larger -> converts;
        # purchase at the same ts as click but SMALLER id -> no
        (6, 300, "2024-01-01 00:00:00", "view"),
        (8, 300, "2024-01-01 00:00:00", "click"),
        (7, 300, "2024-01-01 00:00:00", "purchase"),
        # u4 never starts (no view)
        (9, 400, "2024-01-01 00:00:00", "purchase"),
        # noise types are ignored
        (10, 100, "2024-01-01 00:00:10", "error"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = dpe.funnel_conversion(df, ["view", "click", "purchase"])
    got = {r.step: (r.event_type, r.users, r.conv_overall, r.conv_step)
           for r in out.collect()}
    assert got[1] == ("view", 3, 1.0, 1.0)       # u1, u2, u3
    assert got[2] == ("click", 2, round(2 / 3, 6), round(2 / 3, 6))
    assert got[3] == ("purchase", 1, round(1 / 3, 6), 0.5)


def test_funnel_validates(spark):
    import pytest
    df = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:00", "view")],
        "event_id long, user_id long, ts string, event_type string")
    with pytest.raises(ValueError):
        dpe.funnel_conversion(df, ["view"])


# ------------------------------------------------------- latest_by_key

def test_latest_by_key_brute_force(spark):
    rows = [
        (1, 100, "2024-01-01 00:00:00", "view", 1.0),
        (3, 100, "2024-01-01 00:02:00", "click", 3.0),   # latest u100
        (2, 100, "2024-01-01 00:01:00", "view", 2.0),
        (4, 200, "2024-01-01 00:00:00", "view", 4.0),
        (5, 200, "2024-01-01 00:00:00", "click", 5.0),   # ts tie -> id 5
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts string, event_type string,"
        " value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = dpe.latest_by_key(df, key_col="user_id", ts_col="ts",
                            tiebreak_col="event_id")
    assert out.columns == df.columns  # original order preserved
    got = {r.user_id: (r.event_id, r.event_type, r.value)
           for r in out.collect()}
    assert got == {100: (3, "click", 3.0), 200: (5, "click", 5.0)}
    # single partial-aggregating shuffle, no window
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


# ------------------------------------------------------ vocab_coverage

def test_vocab_coverage_brute_force(spark):
    docs = _docs(spark)
    out = {r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
           for r in dpt.vocab_coverage(docs, vocab_size=50).collect()}
    # python reference
    data = [(r.doc_id, r.text) for r in
            docs.select("doc_id", "text").collect()]
    from collections import Counter
    cnt = Counter()
    toks = {}
    for did, text in data:
        t = re.sub(r"[^a-z0-9]+", " ", (text or "").lower()).strip()
        ws = [w for w in t.split(" ") if w] if t else []
        toks[did] = ws
        cnt.update(ws)
    vocab = {w for w, _ in sorted(cnt.items(),
                                  key=lambda kv: (-kv[1], kv[0]))[:50]}
    for did, ws in toks.items():
        oov = sum(1 for w in ws if w not in vocab)
        exp = (len(ws), oov,
               round(oov / len(ws), 6) if ws else 0.0)
        assert out[did] == exp, did
    assert len(out) == len(data)


# ------------------------------------------------- quantize_embeddings

def test_quantize_embeddings_brute_force(spark):
    emb = _emb(spark)
    out = {r.vec_id: (r.scale, r.mse, r.cos_q)
           for r in dps.quantize_embeddings(emb).collect()}
    import numpy as np
    ref = emb.select("vec_id", "embedding").collect()
    n_checked = 0
    for r in ref:
        v = np.array(r.embedding, dtype=np.float32).astype(np.float64)
        amax = np.abs(v).max()
        if amax <= 0:
            assert r.vec_id not in out
            continue
        scale = amax / 127.0
        # numpy rounds half-to-even; reference must match F.round's
        # half-away-from-zero
        q = np.floor(np.abs(v / scale) + 0.5) * np.sign(v)
        dq = q * scale
        mse = round(((v - dq) ** 2).sum() / len(v), 9)
        cos = round(float((v * dq).sum()
                          / math.sqrt((v * v).sum() * (dq * dq).sum())),
                    6)
        got = out[r.vec_id]
        assert got[0] == round(scale, 6)
        assert abs(got[1] - mse) <= 1e-9
        assert abs(got[2] - cos) <= 1e-6
        n_checked += 1
    assert n_checked > 0


def test_quantize_excludes_degenerate(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, []), (3, [1.0, -2.0])],
        "vec_id long, embedding array<float>")
    got = dps.quantize_embeddings(df).collect()
    assert [r.vec_id for r in got] == [3]
    # exact small case: scale=2/127, q=[64,-127] -> check cos sane
    assert got[0].cos_q > 0.999


# ---------------------------------------------------- stratified sample

def test_stratified_sample_matches_single_window(spark):
    docs = _docs(spark)
    out = dpp.stratified_sample_n(docs, 5, group_col="source",
                                  id_col="doc_id", seed=7)
    got = sorted(r.doc_id for r in out.collect())
    # single-window reference (the semantics contract)
    rows = docs.select("source", "doc_id").collect()
    by_g = {}
    for r in rows:
        key = hashlib.md5(f"7:{r.doc_id}".encode()).hexdigest()
        by_g.setdefault(r.source, []).append((key, r.doc_id))
    exp = sorted(d for g, lst in by_g.items()
                 for _, d in sorted(lst)[:5])
    assert got == exp
    # exact n per group (every fixture group has >= 5 docs)
    sizes = (out.groupBy("source").count().collect())
    assert all(r["count"] == 5 for r in sizes)
    # schema passthrough
    assert out.columns == docs.columns


def test_token_budget_sample_brute_force(spark):
    """Greedy-prefix token-budget selection vs a single-ordered
    python reference: per group, docs in seeded md5-hash order kept
    while the EXCLUSIVE running token total is under the budget (the
    crossing doc included); dict budgets exclude absent groups; a
    flat int budget covers every group; partitioning-invariant."""
    import re
    docs = _docs(spark)
    budgets = {"src0": 2000, "src1": 500}
    out = dpp.token_budget_sample(docs, budgets, seed=7)
    got = sorted(r.doc_id for r in out.collect())

    def ntok(t):
        t = (t or "").strip()
        return 0 if not t else len(re.split(r"\s+", t))

    rows = docs.select("source", "doc_id", "text").collect()
    by_g = {}
    for r in rows:
        key = hashlib.md5(f"7:{r.doc_id}".encode()).hexdigest()
        by_g.setdefault(r.source, []).append(
            (key, r.doc_id, ntok(r.text)))
    exp = []
    for g, lst in by_g.items():
        b = budgets.get(g, 0)
        cum = 0
        for _, d, n in sorted(lst):
            if cum < b:
                exp.append(d)
            cum += n
    assert got == sorted(exp) and got
    assert out.columns == docs.columns
    # flat budget covers every group; repartitioned input agrees
    flat = sorted(r.doc_id for r in
                  dpp.token_budget_sample(docs, 1000, seed=7).collect())
    flat2 = sorted(r.doc_id for r in dpp.token_budget_sample(
        docs.repartition(7), 1000, seed=7).collect())
    assert flat == flat2
    assert {r.source for r in docs.join(
        spark.createDataFrame([(d,) for d in flat], "doc_id long"),
        on="doc_id").select("source").distinct().collect()} \
        == {r.source for r in docs.select("source").distinct().collect()}
    with pytest.raises(ValueError, match="empty budgets"):
        dpp.token_budget_sample(docs, {})


def test_stratified_sample_small_groups(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string")
    out = dpp.stratified_sample_n(df, 10, "source", "doc_id")
    assert out.count() == 3  # groups smaller than n pass through


# ------------------------------------------------- DSL STREAM THROUGH

def test_curation_ops_via_stream_through(spark, tmp_path):
    """The r08f registry additions are reachable from the Pig DSL and
    agree with the direct library calls."""
    import piglet_spark as pg
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    pe = tmp_path / "ev.parquet"
    ev.write.mode("overwrite").parquet(str(pe))
    eng = pg.PigEngine(spark)
    env = eng.run(f"""
E = LOAD '{pe}' USING ParquetStorage();
FU = STREAM E THROUGH funnel('view,click,purchase');
LK = STREAM E THROUGH latest_by_key();
""")
    got_f = sorted(tuple(r) for r in env["FU"].collect())
    want_f = sorted(tuple(r) for r in dpe.funnel_conversion(
        ev, ["view", "click", "purchase"]).collect())
    assert got_f == want_f and len(got_f) == 3
    got_l = sorted(tuple(r) for r in env["LK"].collect())
    want_l = sorted(tuple(r) for r in dpe.latest_by_key(ev).collect())
    assert got_l == want_l and len(got_l) > 0

    docs = _docs(spark)
    pd_ = tmp_path / "docs.parquet"
    docs.write.mode("overwrite").parquet(str(pd_))
    env = eng.run(f"""
D = LOAD '{pd_}' USING ParquetStorage();
VC = STREAM D THROUGH vocab_coverage(50);
SS = STREAM D THROUGH stratified_sample(3, 'source', 'doc_id', 7);
TB = STREAM D THROUGH token_budget_sample(1000, 'source', 'text', 'doc_id', 7);
""")
    assert sorted(tuple(r) for r in env["VC"].collect()) == \
        sorted(tuple(r) for r in
               dpt.vocab_coverage(docs, 50).collect())
    assert sorted(tuple(r) for r in env["SS"].collect()) == \
        sorted(tuple(r) for r in dpp.stratified_sample_n(
            docs, 3, "source", "doc_id", 7).collect())
    assert sorted(r.doc_id for r in env["TB"].collect()) == \
        sorted(r.doc_id for r in dpp.token_budget_sample(
            docs, 1000, "source", "text", "doc_id", seed=7).collect())

    emb = _emb(spark)
    pv = tmp_path / "emb.parquet"
    emb.write.mode("overwrite").parquet(str(pv))
    env = eng.run(f"""
V = LOAD '{pv}' USING ParquetStorage();
Q = STREAM V THROUGH quantize_embeddings();
""")
    assert sorted(tuple(r) for r in env["Q"].collect()) == \
        sorted(tuple(r) for r in
               dps.quantize_embeddings(emb).collect())


# ---------------------------------------------------------------- MMR

def test_mmr_rerank_brute_force(spark):
    emb = _emb(spark)
    out = dpr.mmr_rerank(emb,
                         emb.filter(F.col("vec_id") % 100 == 0),
                         k=4, pool=10, lam=0.7)
    got = {(r.qid, r.mmr_rank): (r.nbr_id, r.mmr_score)
           for r in out.collect()}
    # python reference: greedy MMR over the same rounded inputs
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.collect()}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return num / (na * nb)

    qids = [v for v in vecs if v % 100 == 0]
    for q in qids:
        rel = sorted(((round(cos(vecs[q], vecs[c]), 6), -c, c)
                      for c in vecs if c != q),
                     key=lambda t: (-t[0], t[2]))
        pool = [(c, r) for r, _, c in rel[:10]]
        sel = [pool[0]]
        while len(sel) < 4:
            best = None
            for c, r in pool:
                if any(c == s for s, _ in sel):
                    continue
                pen = max(round(cos(vecs[c], vecs[s]), 6)
                          for s, _ in sel)
                # exact integer nano-unit scoring, like the operator
                si = 700 * round(r * 1e6) - 300 * round(pen * 1e6)
                if best is None or (si, -c) > (best[1], -best[0]):
                    best = (c, si)
            sel.append((best[0], best[1] / 1e9))
        for t, (c, sc) in enumerate(sel, start=1):
            assert got[(q, t)][0] == c, (q, t)
            assert abs(got[(q, t)][1] - sc) <= 2e-9, (q, t)


def test_mmr_diversifies(spark):
    # corpus of two tight clusters; relevance favors cluster A, but
    # rank-2 must come from cluster B once redundancy is penalized
    rows = [(0, [1.0, 0.0]),            # query
            (1, [0.99, 0.14]), (2, [0.98, 0.19]), (3, [0.97, 0.24]),
            (4, [0.0, 1.0]), (5, [0.1, 0.99])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dpr.mmr_rerank(emb, emb.filter("vec_id = 0"), k=3, pool=5,
                         lam=0.2, dim=2)
    ranks = {r.mmr_rank: r.nbr_id for r in out.collect()}
    assert ranks[1] == 1           # most relevant
    assert ranks[2] in (4, 5)      # diversity beats redundancy
    with __import__("pytest").raises(ValueError):
        dpr.mmr_rerank(emb, emb, k=10, pool=5)


def test_mmr_via_stream_through(spark, tmp_path):
    import piglet_spark as pg
    emb = _emb(spark)
    pv = tmp_path / "emb2.parquet"
    emb.write.mode("overwrite").parquet(str(pv))
    eng = pg.PigEngine(spark)
    env = eng.run(f"""
V = LOAD '{pv}' USING ParquetStorage();
M = STREAM V THROUGH mmr(100, 3, 10, 0.7);
""")
    got = sorted(tuple(r) for r in env["M"].collect())
    want = sorted(tuple(r) for r in dpr.mmr_rerank(
        emb, emb.filter(F.col("vec_id") % 100 == 0),
        k=3, pool=10, lam=0.7).collect())
    assert got == want and len(got) > 0


# ----------------------------------------------------------- pagerank

def test_pagerank_brute_force(spark):
    from piglet_spark.datapipe import graph as dpg
    # 1->2, 1->3, 2->3, 3->1, 4->3 ; 4 is a source-only node,
    # and 5 exists only as a destination (dangling)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (3, 5)],
        "src long, dst long")
    out = {r.node: r.pagerank
           for r in dpg.pagerank(edges, iters=3).collect()}
    # python reference (same rounding discipline)
    nodes = [1, 2, 3, 4, 5]
    n = len(nodes)
    deg = {1: 2, 2: 1, 3: 2, 4: 1}
    adj = {(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (3, 5)}
    pr = {v: round(1.0 / n, 12) for v in nodes}
    d = 0.85
    tele = (1.0 - d) * (1.0 / n)
    for _ in range(3):
        dang = sum(pr[v] for v in nodes if v not in deg)
        nxt = {}
        for v in nodes:
            inc = sum(pr[u] / deg[u] for u, w in adj if w == v)
            nxt[v] = round(tele + d * (inc + dang * (1.0 / n)), 12)
        pr = nxt
    for v in nodes:
        assert abs(out[v] - round(pr[v], 9)) <= 1e-9, v
    # total mass conserved (teleport + dangling redistribution)
    assert abs(sum(out.values()) - 1.0) < 1e-6
    import pytest
    with pytest.raises(ValueError):
        dpg.pagerank(edges, iters=0)
    with pytest.raises(ValueError):
        dpg.pagerank(edges, damping=1.5)


def _pagerank_regime(spark, monkeypatch, rows, **gates):
    """pagerank over ``rows`` with util's regime gates set to
    ``gates`` for this call: (schema, sorted rows)."""
    from piglet_spark.datapipe import graph as dpg
    from piglet_spark.datapipe import util as dp_util
    edges = spark.createDataFrame(rows, "src string, dst string")
    with monkeypatch.context() as m:
        for name, v in gates.items():
            m.setattr(dp_util, name, v)
        out = dpg.pagerank(edges, iters=3)
        return out.schema, sorted(tuple(r) for r in out.collect())


def test_pagerank_kernel_matches_loop_regime(spark, monkeypatch):
    """r10: the single-task Arrow kernel regime (small graphs) must
    equal the Spark loop plan (PAGERANK_KERNEL_EDGES=0 forces it)
    exactly, schema included — duplicate edges, dangling nodes,
    source-only nodes, string ids."""
    import random
    rng = random.Random(11)
    for trial, n in [(0, 12), (1, 60), (2, 200)]:
        rows = [(f"n{rng.randrange(n)}", f"n{rng.randrange(n)}")
                for _ in range(4 * n)]
        kern = _pagerank_regime(spark, monkeypatch, rows)
        loop = _pagerank_regime(spark, monkeypatch, rows,
                                PAGERANK_KERNEL_EDGES=0)
        assert kern[0] == loop[0], f"trial {trial}"
        assert kern[1] == loop[1], f"trial {trial}"


def test_pagerank_broadcast_matches_shuffle_regime(spark, monkeypatch):
    """The loop plan's broadcast regime (rank relation broadcast into
    the per-iteration joins) and its shuffle regime (edges
    repartitioned on the join key) return the same schema and rows;
    PAGERANK_BROADCAST_NODES=0 forces the shuffle regime."""
    import random
    rng = random.Random(5)
    n = 80
    rows = [(f"n{rng.randrange(n)}", f"n{rng.randrange(n)}")
            for _ in range(4 * n)]
    bcast = _pagerank_regime(spark, monkeypatch, rows,
                             PAGERANK_KERNEL_EDGES=0)
    shuffle = _pagerank_regime(spark, monkeypatch, rows,
                               PAGERANK_KERNEL_EDGES=0,
                               PAGERANK_BROADCAST_NODES=0)
    assert bcast[0] == shuffle[0]
    assert bcast[1] == shuffle[1] and len(bcast[1]) > 1


def test_pagerank_via_stream_through(spark, tmp_path):
    import piglet_spark as pg
    from piglet_spark.datapipe import graph as dpg
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long")
    p = tmp_path / "edges.parquet"
    edges.write.mode("overwrite").parquet(str(p))
    eng = pg.PigEngine(spark)
    env = eng.run(f"""
E = LOAD '{p}' USING ParquetStorage();
P = STREAM E THROUGH pagerank(3, 0.85, 'src', 'dst');
""")
    got = sorted(tuple(r) for r in env["P"].collect())
    want = sorted(tuple(r) for r in dpg.pagerank(edges, 3).collect())
    assert got == want and len(got) == 3


# ------------------------------------------- determinism under layout

def test_r08f_ops_partitioning_invariant(spark):
    """The deterministic contracts survive arbitrary repartitioning —
    same rows, same scores, same ranks on 1 partition and on 13."""
    from piglet_spark.datapipe import graph as dpg
    docs = _docs(spark)
    emb = _emb(spark)
    for mk in (lambda d: d.coalesce(1), lambda d: d.repartition(13)):
        s1 = sorted(tuple(r) for r in dpp.stratified_sample_n(
            mk(docs), 4, "source", "doc_id", seed=9).collect())
        s2 = sorted(tuple(r) for r in dpp.stratified_sample_n(
            docs, 4, "source", "doc_id", seed=9).collect())
        assert s1 == s2
        q1 = sorted(tuple(r) for r in
                    dps.quantize_embeddings(mk(emb)).collect())
        q2 = sorted(tuple(r) for r in
                    dps.quantize_embeddings(emb).collect())
        assert q1 == q2
    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 7) for i in range(40) if i % 7 != (i * 3) % 7],
        "src long, dst long")
    p1 = sorted(tuple(r) for r in
                dpg.pagerank(edges.coalesce(1), 3).collect())
    p2 = sorted(tuple(r) for r in
                dpg.pagerank(edges.repartition(11), 3).collect())
    assert p1 == p2


def test_rrf_fusion_input_order_invariant(spark):
    """RRF must not care which ranking is listed first."""
    a = spark.createDataFrame([(1, 10, 1), (1, 11, 2)],
                              "query_id int, doc_id long, rank int")
    b = spark.createDataFrame([(1, 11, 1), (1, 12, 2)],
                              "query_id int, doc_id long, rank int")
    r1 = sorted(tuple(r) for r in
                dpr.rrf_fusion({"a": a, "b": b}).collect())
    r2 = sorted(tuple(r) for r in
                dpr.rrf_fusion({"b": b, "a": a}).collect())
    assert r1 == r2


def test_latest_by_key_streaming_cross_batch(spark, tmp_path):
    """latest_by_key runs stateful on a stream: a key updated in a
    LATER micro-batch reflects the newest record, one row per key."""
    d = tmp_path / "cdc"
    d.mkdir()
    (d / "b1.csv").write_text(
        "1,100,2026-01-01 00:00:00,view,1.0\n"
        "2,200,2026-01-01 00:00:10,view,2.0\n")
    schema = ("event_id long, user_id long, raw string,"
              " event_type string, value double")
    sdf = (spark.readStream.schema(schema).csv(str(d))
           .withColumn("ts", F.to_timestamp("raw")).drop("raw"))
    out = dpe.latest_by_key(sdf, key_col="user_id", ts_col="ts",
                            tiebreak_col="event_id")
    q = (out.writeStream.format("memory").queryName("t_cdc")
         .outputMode("complete").start())
    q.processAllAvailable()
    # batch 2: user 100 gets a NEWER record; 300 appears
    (d / "b2.csv").write_text(
        "3,100,2026-01-01 00:05:00,click,3.0\n"
        "4,300,2026-01-01 00:00:01,view,4.0\n")
    q.processAllAvailable()
    q.stop()
    rows = {r.user_id: (r.event_id, r.event_type)
            for r in spark.sql("select * from t_cdc").collect()}
    assert rows == {100: (3, "click"), 200: (2, "view"),
                    300: (4, "view")}


# ------------------------------------------------------ trending keys

def test_trending_keys_brute_force(spark):
    from collections import Counter
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    out = {(r.window_start, r.rank): (r.event_type, r.n)
           for r in dpe.trending_keys(ev, k=2,
                                      window_sec=3600).collect()}
    rows = ev.select("ts", "event_type").collect()
    byw = {}
    for r in rows:
        w = int(r.ts.timestamp() * 1e6) // 3_600_000_000
        byw.setdefault(w, Counter())[r.event_type] += 1
    n_checked = 0
    for w, cnt in byw.items():
        top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
        for rk, (key, n) in enumerate(top, start=1):
            match = [(ws, r) for (ws, r) in out if r == rk
                     and int(ws.timestamp() * 1e6)
                     // 3_600_000_000 == w]
            assert len(match) == 1, (w, rk)
            assert out[match[0]] == (key, n), (w, rk)
            n_checked += 1
    assert n_checked > 0 and len(out) == n_checked


def test_trending_keys_stream_cross_batch(spark, tmp_path):
    """Windowed counts close at watermark passage and emit once."""
    d = tmp_path / "trend"
    d.mkdir()
    (d / "b1.csv").write_text(
        "1,2026-01-01 00:10:00,click\n"
        "2,2026-01-01 00:20:00,click\n"
        "3,2026-01-01 00:30:00,view\n")
    schema = "event_id long, raw string, event_type string"
    sdf = (spark.readStream.schema(schema).csv(str(d))
           .withColumn("ts", F.to_timestamp("raw")).drop("raw"))
    out = dpe.trending_keys_stream(sdf, window_sec=3600,
                                   watermark="0 seconds")
    q = (out.writeStream.format("memory").queryName("t_trend")
         .outputMode("append").start())
    q.processAllAvailable()
    # push the watermark past the first window
    (d / "b2.csv").write_text("4,2026-01-01 02:00:00,view\n")
    q.processAllAvailable()
    (d / "b3.csv").write_text("5,2026-01-01 03:00:00,view\n")
    q.processAllAvailable()
    q.stop()
    got = {(str(r.window_start), r.event_type): r.n
           for r in spark.sql("select * from t_trend").collect()}
    assert got[("2026-01-01 00:00:00", "click")] == 2
    assert got[("2026-01-01 00:00:00", "view")] == 1
    import pytest
    ev = spark.createDataFrame([(1, "x")], "event_id long, t string")
    with pytest.raises(ValueError):
        dpe.trending_keys_stream(ev)


def test_trending_keys_via_stream_through(spark, tmp_path):
    import piglet_spark as pg
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    p = tmp_path / "ev3.parquet"
    ev.write.mode("overwrite").parquet(str(p))
    eng = pg.PigEngine(spark)
    env = eng.run(f"""
E = LOAD '{p}' USING ParquetStorage();
T = STREAM E THROUGH trending_keys(2, 3600);
""")
    got = sorted(tuple(r) for r in env["T"].collect())
    want = sorted(tuple(r) for r in dpe.trending_keys(
        ev, k=2, window_sec=3600).collect())
    assert got == want and len(got) > 0


# ------------------------------------------------- plan shape guards

def test_new_op_plan_shapes(spark):
    """The scale claims are plan-asserted, not just narrated:
    vocab's top-N is TakeOrderedAndProject (never a global sort),
    and trending's count aggregate partial-aggregates before its
    exchange."""
    docs = _docs(spark)
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    vp = (dpt.vocab_coverage(docs, 100)
          ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in vp
    assert "Sort [" not in vp.split("TakeOrderedAndProject")[0]
    tp = (dpe.trending_keys(ev, k=2)
          ._jdf.queryExecution().executedPlan().toString())
    assert "partial_count" in tp


# ----------------------------------------------- persisted IVF index

def test_ivf_index_build_query_matches_fused(spark, tmp_path):
    """Build-once/query-many IVF: the persisted-index query equals
    the fused ivf_topk at the same training parameters, and the
    probe filter reaches the parquet source as PARTITION PRUNING
    (unprobed cells are never read)."""
    emb = _emb(spark)
    qv = [float(x) for x in
          emb.filter("vec_id = 7").first()["embedding"]]
    path = str(tmp_path / "ivf_idx")
    cents = dps.ivf_write_index(emb, path, n_cells=8)
    assert len(cents) > 0
    got = dps.ivf_query_index(spark, path, qv, k=5, n_probe=3)
    want = dps.ivf_topk(emb, qv, k=5, n_cells=8, n_probe=3)
    g = [(r.vec_id, r.cos) for r in got.collect()]
    w = [(r.vec_id, r.cos) for r in want.collect()]
    assert g == w and len(g) == 5
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [_cid" in plan.replace(
        "PartitionFilters: [isnotnull(_cid", "PartitionFilters: [_cid"
    ) or "_cid" in plan.split("PartitionFilters")[1].split("]")[0]


def test_mmr_blas_matches_exact(spark):
    """mmr_rerank(method='blas') — the scale path for large query
    panels — selects identical documents with identical scores."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") % 100 == 0)
    a = sorted(tuple(r) for r in dpr.mmr_rerank(
        emb, q, k=4, pool=10, lam=0.7, method="exact").collect())
    b = sorted(tuple(r) for r in dpr.mmr_rerank(
        emb, q, k=4, pool=10, lam=0.7, method="blas").collect())
    assert a == b and len(a) > 0


@pytest.mark.parametrize("ids", ["int", "str"])
def test_knn_join_ivf_index_matches_fused(spark, tmp_path, ids):
    """r10: the batch kNN join served from a PERSISTED IVF index
    equals the fused knn_join(method='ivf') at the same training
    parameters (identical deterministic centroids + assignment), and
    the probe filter reaches the parquet source as partition
    pruning — also for zero-padded string ids, whose ``_cid=007``
    cells hive inference would read back as the integer 7. An
    append then lands each query's copy in the query's own probed
    cell, where it is the nearest neighbor (cos 1.0)."""
    emb = _emb(spark)
    if ids == "str":
        emb = emb.withColumn("vec_id",
                             F.format_string("%03d", F.col("vec_id")))
    q = emb.filter(F.col("vec_id").cast("int") % 100 == 0)
    path = str(tmp_path / "ivf_knn_idx")
    dps.ivf_write_index(emb, path, n_cells=8)
    got = dps.knn_join_ivf_index(spark, path, q, k=5, n_probe=3)
    want = dps.knn_join(emb, q, k=5, method="ivf", n_cells=8,
                        n_probe=3)
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w and len(g) > 0
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "_cid" in plan.split("PartitionFilters")[1].split("]")[0]
    copy = (lambda i: f"c{i}") if ids == "str" else (lambda i: i + 10 ** 5)
    copy_id = (F.concat(F.lit("c"), F.col("vec_id")) if ids == "str"
               else F.col("vec_id") + 10 ** 5)
    dps.ivf_append_index(q.withColumn("vec_id", copy_id), path)
    found = {r["qid"] for r in dps.knn_join_ivf_index(
        spark, path, q, k=5, n_probe=3).collect()
        if r["cos"] == 1.0 and r["nbr_id"] == copy(r["qid"])}
    assert found == {r["vec_id"] for r in q.collect()}


def test_knn_join_ivf_index_band_and_vecs(spark, tmp_path):
    """Index-served hard-negative mining: band=(lo, hi) through the
    persisted index equals the fused ivf band run; return_vecs
    carries each neighbor's exact double-cast vector."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") % 100 == 0)
    path = str(tmp_path / "ivf_band_idx")
    dps.ivf_write_index(emb, path, n_cells=8)
    band = (0.15, 0.30)
    got = dps.knn_join_ivf_index(spark, path, q, k=5, n_probe=3,
                                 band=band)
    want = dps.knn_join(emb, q, k=5, method="ivf", n_cells=8,
                        n_probe=3, band=band)
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w and len(g) > 0
    withv = dps.knn_join_ivf_index(spark, path, q, k=3, n_probe=3,
                                   return_vecs=True).collect()
    assert withv and all(len(r["_v"]) > 0 for r in withv)
    truth = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in emb.collect()}
    for r in withv:
        assert r["_v"] == truth[r["nbr_id"]]


def test_mmr_rerank_ivf_index_matches_fused(spark, tmp_path):
    """r10: mmr_rerank(index_path=...) — candidates from the
    persisted IVF index, pool vectors ridden out of the kernel (no
    second corpus scan) — selects identical documents with identical
    scores as mmr_rerank(method='ivf') at the same training
    parameters (defaults: n_cells=16, n_probe=4)."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") % 100 == 0)
    path = str(tmp_path / "ivf_mmr_idx")
    dps.ivf_write_index(emb, path)  # default n_cells=16
    a = sorted(tuple(r) for r in dpr.mmr_rerank(
        emb, q, k=4, pool=10, lam=0.7, method="ivf").collect())
    b = sorted(tuple(r) for r in dpr.mmr_rerank(
        None, q, k=4, pool=10, lam=0.7, index_path=path,
        n_probe=4).collect())
    assert a == b and len(a) > 0


def test_funnel_stream_cross_batch_matches_batch(spark, tmp_path):
    """In-order staged stream: the emission stream's per-step user
    counts equal the batch funnel, with a user completing ACROSS
    micro-batches (state survives the boundary)."""
    d = tmp_path / "fun"
    d.mkdir()
    (d / "b1.csv").write_text(
        "1,100,2026-01-01 00:00:00,view\n"
        "2,100,2026-01-01 00:01:00,click\n"
        "3,200,2026-01-01 00:00:30,view\n")
    schema = ("event_id long, user_id long, raw string,"
              " event_type string")
    sdf = (spark.readStream.schema(schema).csv(str(d))
           .withColumn("ts", F.to_timestamp("raw")).drop("raw"))
    out = dpe.funnel_stream(sdf, ["view", "click", "purchase"])
    q = (out.writeStream.format("memory").queryName("t_fun")
         .outputMode("append").start())
    q.processAllAvailable()
    # batch 2: user 100 purchases (stage crosses the batch
    # boundary); 200 clicks
    (d / "b2.csv").write_text(
        "4,100,2026-01-01 00:02:00,purchase\n"
        "5,200,2026-01-01 00:01:30,click\n")
    q.processAllAvailable()
    q.stop()
    got = spark.sql("select * from t_fun").collect()
    from collections import Counter
    per_step = Counter(r.step for r in got)
    # batch reference on the full data
    batch = spark.createDataFrame(
        [(1, 100, "2026-01-01 00:00:00", "view"),
         (2, 100, "2026-01-01 00:01:00", "click"),
         (3, 200, "2026-01-01 00:00:30", "view"),
         (4, 100, "2026-01-01 00:02:00", "purchase"),
         (5, 200, "2026-01-01 00:01:30", "click")],
        "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ref = {r.step: r.users for r in dpe.funnel_conversion(
        batch, ["view", "click", "purchase"]).collect()}
    assert dict(per_step) == {s: n for s, n in ref.items() if n > 0}
    # the cross-batch completion is attributed to user 100
    assert any(r.user_id == 100 and r.step == 3 for r in got)
    # batch input dispatches to the batch operator
    assert dpe.funnel_stream(batch, ["view", "click"]).columns == \
        dpe.funnel_conversion(batch, ["view", "click"]).columns


def test_funnel_stream_event_time_buffer_exact(spark, tmp_path):
    """r10: the watermark-buffered funnel variant matches the batch
    min-chain EXACTLY under out-of-order cross-batch delivery — the
    case the default greedy machine is documented to diverge on
    (user 100's view arrives a batch AFTER its click+purchase; the
    greedy machine would stall at step 1 with a late reach time).
    Events buffer until the watermark passes them, then replay in
    (ts, id) order, so emissions carry the batch answer's exact
    reach keys."""
    d = tmp_path / "funwm"
    d.mkdir()
    schema = ("event_id long, user_id long, raw string,"
              " event_type string")
    sdf = (spark.readStream.schema(schema).csv(str(d))
           .withColumn("ts", F.to_timestamp("raw")).drop("raw"))
    out = dpe.funnel_stream(sdf, ["view", "click", "purchase"],
                            event_time_buffer="10 minutes")
    q = (out.writeStream.format("memory").queryName("t_funwm")
         .outputMode("append").start())
    # batch 1: user 100's LATER steps arrive first (out of order)
    (d / "b1.csv").write_text(
        "2,100,2026-01-01 00:01:00,click\n"
        "3,100,2026-01-01 00:02:00,purchase\n"
        "10,200,2026-01-01 00:00:30,view\n")
    q.processAllAvailable()
    # batch 2: the missing first step arrives late (within horizon)
    (d / "b2.csv").write_text(
        "1,100,2026-01-01 00:00:00,view\n"
        "11,200,2026-01-01 00:01:30,click\n")
    q.processAllAvailable()
    # two sentinel batches push the watermark past every real event
    # (step-type events — Catalyst pushes the step filter below the
    # watermark node, so only step events advance event time); the
    # second is needed because the machine sees the watermark
    # computed from the PREVIOUS batch's data
    (d / "b3.csv").write_text("90,999,2026-01-01 01:00:00,view\n")
    q.processAllAvailable()
    (d / "b4.csv").write_text("91,999,2026-01-01 01:01:00,view\n")
    q.processAllAvailable()
    q.stop()
    got = sorted((r.user_id, r.step, r.event_type, r.reached_us)
                 for r in spark.sql("select * from t_funwm").collect())

    def us(s):  # session-tz-consistent (same conversion the op uses)
        return spark.sql(
            f"select unix_micros(timestamp'{s}') as u").first()["u"]

    # exact batch min-chain, brute-forced: user 100 completes all 3
    # steps at the TRUE event times; user 200 reaches 2
    assert got == sorted([
        (100, 1, "view", us("2026-01-01 00:00:00")),
        (100, 2, "click", us("2026-01-01 00:01:00")),
        (100, 3, "purchase", us("2026-01-01 00:02:00")),
        (200, 1, "view", us("2026-01-01 00:00:30")),
        (200, 2, "click", us("2026-01-01 00:01:30")),
    ])
    # per-step counts equal the batch operator on the union
    batch = spark.createDataFrame(
        [(2, 100, "2026-01-01 00:01:00", "click"),
         (3, 100, "2026-01-01 00:02:00", "purchase"),
         (10, 200, "2026-01-01 00:00:30", "view"),
         (1, 100, "2026-01-01 00:00:00", "view"),
         (11, 200, "2026-01-01 00:01:30", "click")],
        "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ref = {r.step: r.users for r in dpe.funnel_conversion(
        batch, ["view", "click", "purchase"]).collect()}
    from collections import Counter
    per_step = Counter(s for _, s, _, _ in got)
    assert dict(per_step) == {s: n for s, n in ref.items() if n > 0}


# ------------------------------------------------------------ JSON_GET

def test_json_get_builtin(spark):
    import piglet_spark as pg
    eng = pg.PigEngine(spark)
    env = eng.run("""
E = LOAD '/root/testdata/sf0.001/events.parquet' USING ParquetStorage();
P = FOREACH E GENERATE event_id, (int)JSON_GET(props, 'k') AS k,
    JSON_GET(props, '$.k') AS k_str,
    JSON_GET(props, 'missing') AS gone;
""")
    rows = env["P"].limit(50).collect()
    import json as _json
    ref = {r.event_id: r for r in rows}
    raw = {r.event_id: r.props for r in spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet")
        .filter(F.col("event_id").isin(list(ref))).collect()}
    for eid, r in ref.items():
        k = _json.loads(raw[eid])["k"]
        assert r.k == k and r.k_str == str(k) and r.gone is None


def test_json_get_to_code_parity(spark):
    """JSON_GET and ROUND-wrapped aggregates survive the generated-
    PySpark path: exec'd to_code output equals the engine."""
    import piglet_spark as pg
    eng = pg.PigEngine(spark)
    script = """
E = LOAD '/root/testdata/sf0.001/events.parquet' USING ParquetStorage();
P = FOREACH E GENERATE event_type, (int)JSON_GET(props, 'k') AS k;
G = GROUP P BY event_type;
A = FOREACH G GENERATE group AS event_type, COUNT(P) AS n,
    ROUND(AVG(P.k), 6) AS avg_k;
"""
    ns = {"spark": spark}
    exec(compile(eng.to_code(script), "<gen>", "exec"), ns)
    env = eng.run(script)
    assert sorted(tuple(r) for r in ns["A"].collect()) == \
        sorted(tuple(r) for r in env["A"].collect())


# -------------------------------------------------------- token entropy

def test_token_entropy_brute_force(spark):
    import math as _m
    from collections import Counter
    docs = _docs(spark)
    out = {r.doc_id: (r.n_tokens, r.n_types, r.entropy, r.ttr)
           for r in dpt.token_entropy(docs).collect()}
    for r in docs.select("doc_id", "text").limit(100).collect():
        t = re.sub(r"[^a-z0-9]+", " ", (r.text or "").lower()).strip()
        ws = [w for w in t.split(" ") if w] if t else []
        if not ws:
            assert out[r.doc_id] == (0, 0, 0.0, 0.0)
            continue
        cnt = Counter(ws)
        n = len(ws)
        ent = round(_m.log(n) - sum(c * _m.log(c)
                                    for c in cnt.values()) / n, 6)
        got = out[r.doc_id]
        assert got[0] == n and got[1] == len(cnt)
        assert abs(got[2] - ent) <= 2e-6
        assert abs(got[3] - round(len(cnt) / n, 6)) <= 1e-6


# ----------------------------------------------- r09 ADVICE regressions

def test_rrf_fusion_string_ids(spark):
    """String doc ids keep their native type — no long cast that
    NULLs every id and collapses fusion into one group."""
    lex = spark.createDataFrame(
        [(1, "doc-a", 1), (1, "doc-b", 2), (2, "doc-c", 1)],
        "query_id int, doc_id string, rank int")
    dense = spark.createDataFrame(
        [(1, "doc-b", 1), (2, "doc-d", 1)],
        "query_id int, doc_id string, rank int")
    out = dpr.rrf_fusion({"lex": lex, "dense": dense}, topk=5)
    rows = out.collect()
    assert dict(out.dtypes)["doc_id"] == "string"
    got = {(r.query_id, r.doc_id): r.n_lists for r in rows}
    assert got == {(1, "doc-a"): 1, (1, "doc-b"): 2,
                   (2, "doc-c"): 1, (2, "doc-d"): 1}
    # doc-b (both lists) outranks single-list docs for q1
    assert [r.doc_id for r in rows
            if r.query_id == 1 and r.rank == 1] == ["doc-b"]


def test_funnel_stream_string_user_ids(spark, tmp_path):
    """String user ids are valid state keys — every user keeps its
    own funnel state and emits its own id (no long-cast NULLing)."""
    d = tmp_path / "funs"
    d.mkdir()
    (d / "b1.csv").write_text(
        "1,alice,2026-01-01 00:00:00,view\n"
        "2,alice,2026-01-01 00:01:00,click\n"
        "3,bob,2026-01-01 00:00:30,view\n")
    schema = ("event_id long, user_id string, raw string,"
              " event_type string")
    sdf = (spark.readStream.schema(schema).csv(str(d))
           .withColumn("ts", F.to_timestamp("raw")).drop("raw"))
    out = dpe.funnel_stream(sdf, ["view", "click"])
    q = (out.writeStream.format("memory").queryName("t_funs")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    got = {(r.user_id, r.step) for r in
           spark.sql("select * from t_funs").collect()}
    assert got == {("alice", 1), ("alice", 2), ("bob", 1)}


def test_json_get_non_literal_path_rejected(spark):
    """Engine path mirrors codegen: a non-literal JSON_GET path is a
    clean CompileError, not a garbage JSONPath built from str(Column)."""
    import pytest
    import piglet_spark as pg
    from piglet_spark.plans.exprs import CompileError
    eng = pg.PigEngine(spark)
    with pytest.raises(CompileError, match="string literal"):
        eng.run("""
E = LOAD '/root/testdata/sf0.001/events.parquet' USING ParquetStorage();
P = FOREACH E GENERATE JSON_GET(props, event_type) AS v;
DUMP P;
""")


def test_ivf_append_index_add_semantics(spark, tmp_path):
    """FAISS add() semantics: append assigns new vectors to their
    nearest FROZEN centroid (argmax cosine, ties → smallest cid —
    verified against numpy), the sidecar fingerprints refresh so the
    staleness guard accepts the grown index, and a query serves the
    union: exact top-k inside the probed cells of corpus ∪ appended,
    verified against brute force over the stored cell contents."""
    import json
    import math
    import numpy as np
    emb = _emb(spark)
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf_grow")
    dps.ivf_write_index(half1, path, n_cells=8)
    meta0 = json.load(open(f"{path}/_ivf_centroids.json"))
    dps.ivf_append_index(half2, path)
    meta1 = json.load(open(f"{path}/_ivf_centroids.json"))
    assert meta1["centroids"] == meta0["centroids"]  # frozen
    assert meta1["n_rows"] > meta0["n_rows"]
    stored = spark.read.parquet(path).collect()
    assert meta1["n_rows"] == len(stored)
    # appended rows sit in their argmax-cosine cell (ties → min cid)
    cents = sorted(meta1["centroids"], key=lambda c: c["cid"])
    C = np.array([c["vec"] for c in cents])
    Cn = C / np.sqrt((C ** 2).sum(axis=1, keepdims=True))
    by_id = {}
    for r in stored:
        by_id[r["vec_id"]] = (r["_cid"], list(r["embedding"]))
    for r in half2.collect():
        v = np.array([float(x) for x in r["embedding"]])
        if not v.any():
            assert r["vec_id"] not in by_id  # degenerate filtered
            continue
        cos = (v / np.linalg.norm(v)) @ Cn.T
        want_cid = cents[int(np.argmax(cos))]["cid"]
        assert by_id[r["vec_id"]][0] == want_cid, r["vec_id"]
    # query over the grown index == brute force over probed cells
    qv = [float(x) for x in
          emb.filter("vec_id = 7").first()["embedding"]]
    got = [(r.vec_id, r.cos) for r in
           dps.ivf_query_index(spark, path, qv, k=5,
                               n_probe=3).collect()]
    nq = math.sqrt(sum(x * x for x in qv))
    probe_cos = [(sum(a * b for a, b in zip(c["vec"], qv))
                  / (math.sqrt(sum(x * x for x in c["vec"])) * nq),
                  c["cid"]) for c in cents]
    probes = {cid for _, cid in
              sorted(probe_cos, key=lambda t: (-t[0], t[1]))[:3]}
    cand = []
    for r in stored:
        if r["_cid"] not in probes:
            continue
        v = [float(x) for x in r["embedding"]]
        nv = math.sqrt(sum(x * x for x in v))
        cand.append((r["vec_id"],
                     round(sum(a * b for a, b in zip(v, qv))
                           / (nv * nq), 6)))
    want = sorted(cand, key=lambda t: (-t[1], t[0]))[:5]
    assert got == want
    # the batch kNN join accepts the grown index (staleness ok)
    out = dps.knn_join_ivf_index(spark, path, emb.limit(3), k=2,
                                 n_probe=8)
    assert out.count() == 6


def test_ivf_compact_index_preserves_queries(spark, tmp_path):
    """Compaction after appends leaves exactly one file per cell
    directory and changes nothing else: centroids frozen, identical query output,
    staleness guard green on the refreshed fingerprints."""
    import glob
    import json
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    dps.ivf_write_index(emb.filter(F.col("vec_id") % 2 == 0), path,
                        n_cells=8)
    dps.ivf_append_index(emb.filter(F.col("vec_id") % 2 == 1), path)
    qv = [float(x) for x in
          emb.filter("vec_id = 7").first()["embedding"]]
    before = [(r.vec_id, r.cos) for r in
              dps.ivf_query_index(spark, path, qv, k=5,
                                  n_probe=8).collect()]
    meta0 = json.load(open(f"{path}/_ivf_centroids.json"))
    cells = glob.glob(f"{path}/_cid=*")
    nf = lambda: [len(glob.glob(f"{c}/*.parquet")) for c in cells]
    assert max(nf()) > 1
    dps.ivf_compact_index(spark, path)
    assert nf() == [1] * len(cells)  # exactly one file per cell
    meta1 = json.load(open(f"{path}/_ivf_centroids.json"))
    assert meta1["centroids"] == meta0["centroids"]
    assert meta1["n_rows"] == meta0["n_rows"]
    after = [(r.vec_id, r.cos) for r in
             dps.ivf_query_index(spark, path, qv, k=5,
                                 n_probe=8).collect()]
    assert after == before and len(after) == 5


def test_ivf_index_staleness_guard(spark, tmp_path):
    """The r09 staleness guard: a persisted index whose data files no
    longer match the centroid sidecar's corpus fingerprint (row count
    / cell set) refuses to serve; dim-mismatched queries refuse too;
    verify=False opts out for a session that already checked."""
    import glob
    import pytest
    emb = _emb(spark).filter("vec_id < 500")
    qv = [float(x) for x in
          emb.filter("vec_id = 7").first()["embedding"]]
    path = str(tmp_path / "ivf_stale")
    dps.ivf_write_index(emb, path, n_cells=4)
    assert dps.ivf_query_index(spark, path, qv, k=3).count() == 3
    # wrong query dim is a usage error, caught before any scan
    with pytest.raises(ValueError, match="query dim"):
        dps.ivf_query_index(spark, path, qv[:-1], k=3)
    # simulate a partial rewrite: drop one cell's data files
    cell_dir = sorted(glob.glob(f"{path}/_cid=*"))[0]
    for f in glob.glob(f"{cell_dir}/*.parquet"):
        os.remove(f)
    with pytest.raises(ValueError, match="stale index"):
        dps.ivf_query_index(spark, path, qv, k=3)
    # explicit opt-out still serves (the caller owns the risk)
    assert dps.ivf_query_index(spark, path, qv, k=3,
                               verify=False).count() == 3
