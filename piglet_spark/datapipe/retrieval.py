"""Hybrid-retrieval operators: rank fusion over multiple retrievers.

A curation/RAG pipeline rarely trusts ONE retriever: the standard
recipe runs a lexical ranker (BM25) and a dense ranker (kNN over an
embedding index) and fuses the two top-k lists per query.
Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009:
"Reciprocal rank fusion outperforms Condorcet and individual rank
learning methods") is the fusion every major engine ships
(Elasticsearch/OpenSearch "rrf", Vespa, Milvus) because it needs no
score calibration — only ranks.

Reference parity note: the reference engine (dbis-ilm/piglet) has no
retrieval fusion; the nearest shape is its JOIN + FOREACH idiom over
two ranked relations. This module is part of the training-data
toolkit layered on the same engine.

Scale shape: fusion consumes ALREADY top-k-truncated rankings —
|queries| x k rows per retriever, never corpus-sized — so the union +
per-(query,doc) aggregation + per-query rank window all operate on
bounded data. The heavy lifting (corpus scans, ANN) lives in the
upstream retrievers (text.bm25_topk, similarity.knn_join); at 100 TB
this operator's own cost is noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rrf_fusion(rankings: dict[str, DataFrame], k_rrf: int = 60,
               topk: int = 10, query_col: str = "query_id",
               id_col: str = "doc_id",
               rank_col: str = "rank") -> DataFrame:
    """Reciprocal Rank Fusion of named per-query rankings.

    Each value of ``rankings`` is a DataFrame carrying at least
    ``(query_col, id_col, rank_col)`` with ``rank_col`` 1-based per
    query (the shape ``text.bm25_topk`` and a windowed
    ``similarity.knn_join`` both produce). A document absent from one
    list simply contributes nothing from it — RRF's outer-union
    semantics, no imputation.

    ``rrf_score(q, d) = Σ_lists 1 / (k_rrf + rank_list(q, d))``
    with the SIGIR-2009 default ``k_rrf=60``. Returns
    ``(query_col, id_col, rrf_score, n_lists, rank)`` — score rounded
    to 6 decimals BEFORE the rank window (ties → ascending id), rank
    1..``topk`` per query. ``n_lists`` counts the lists that
    contributed (diagnostic: 2-list agreement is the usual relevance
    signal).

    Deterministic and oracle-reproducible: the score is a sum of at
    most ``len(rankings)`` reciprocals per (query, doc) — round-6 is
    stable under any addition order at realistic list counts.

    ``id_col`` keeps its NATIVE type (string ids group correctly —
    no cast; tie ordering is the type's natural order), so every
    list must carry the same id type or a union-compatible one.
    """
    if not rankings:
        raise ValueError("rrf_fusion needs at least one ranking")
    contribs = []
    for name, df in rankings.items():
        contribs.append(
            df.select(F.col(query_col).alias("_q"),
                      F.col(id_col).alias("_d"),
                      (1.0 / (F.lit(int(k_rrf))
                              + F.col(rank_col).cast("double")))
                      .alias("_c")))
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    fused = (allc.groupBy("_q", "_d")
             .agg(F.round(F.sum("_c"), 6).alias("rrf_score"),
                  F.count(F.lit(1)).cast("int").alias("n_lists")))
    rn = F.row_number().over(
        Window.partitionBy("_q").orderBy(F.desc("rrf_score"),
                                         F.asc("_d")))
    return (fused.withColumn("rank", rn)
            .filter(F.col("rank") <= int(topk))
            .select(F.col("_q").alias(query_col),
                    F.col("_d").alias(id_col),
                    "rrf_score", "n_lists", "rank"))


def hybrid_search(docs: DataFrame, embeddings: DataFrame,
                  queries: list[tuple[int, str]],
                  query_vecs: DataFrame,
                  k: int = 10, k_rrf: int = 60,
                  text_col: str = "text", doc_id_col: str = "doc_id",
                  vec_col: str = "embedding",
                  vec_id_col: str = "vec_id",
                  knn_method: str = "exact") -> DataFrame:
    """Lexical + dense hybrid retrieval: BM25 over ``docs`` fused
    (RRF) with a cosine kNN join of ``query_vecs`` against
    ``embeddings``. ``queries`` supplies ``(query_id, text)`` pairs;
    ``query_vecs`` supplies ``(query_id, vector)`` rows (column names
    ``query_id`` / ``vec_col``) for the SAME query ids. Document ids
    on both sides must live in one id space (doc_id == vec_id), as
    in any store that indexes text and embedding per document.

    Returns the :func:`rrf_fusion` shape. Scale: one corpus text
    scan (BM25 semi-joined postings) + one embedding scan (kNN, see
    ``similarity.knn_join`` strategy notes); fusion is bounded."""
    from . import similarity as _sim
    from . import text as _text
    lex = _text.bm25_topk(docs, queries, text_col=text_col,
                          id_col=doc_id_col, k=k)
    qv = query_vecs.select(F.col("query_id").alias("_qid2"),
                           F.col(vec_col).alias(vec_col))
    dense = _sim.knn_join(embeddings, qv, k=k, vec_col=vec_col,
                          id_col=vec_id_col, q_vec_col=vec_col,
                          q_id_col="_qid2", exclude_self=False,
                          method=knn_method)
    rnw = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.desc("cos"),
                                          F.asc("nbr_id")))
    dense_rk = (dense.withColumn("rank", rnw)
                .select(F.col("qid").alias("query_id"),
                        F.col("nbr_id").alias(doc_id_col), "rank"))
    lex_rk = lex.select("query_id", doc_id_col, "rank")
    return rrf_fusion({"bm25": lex_rk, "dense": dense_rk},
                      k_rrf=k_rrf, topk=k, query_col="query_id",
                      id_col=doc_id_col)


def mmr_rerank(corpus: DataFrame | None, queries: DataFrame,
               k: int = 5,
               pool: int = 20, lam: float = 0.7,
               vec_col: str = "embedding", id_col: str = "vec_id",
               q_vec_col: str | None = None,
               q_id_col: str | None = None,
               exclude_self: bool = True,
               dim: int | None = None,
               method: str = "exact",
               index_path: str | None = None,
               n_probe: int = 4) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): per query, greedily select ``k`` of the top-``pool``
    cosine candidates trading relevance against redundancy —
    ``score_t(c) = λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`` —
    the standard diversification pass for RAG context assembly and
    diverse few-shot / training-subset selection (a near-dup-heavy
    corpus otherwise fills all k slots with copies).

    Returns ``(qid, nbr_id, mmr_rank, mmr_score)`` — rank 1 is the
    pure-relevance argmax (its score = rel, round-6); later ranks
    carry the penalized score at selection time. Relevances and
    pairwise similarities round to 6 decimals; the penalized score
    then computes in EXACT INTEGER nano-units
    (``lam_mill·ci − (1000−lam_mill)·pi`` over micro-unit ints — λ
    must be a multiple of 0.001) and every argmax orders on that
    integer (ties → ascending id), so the selection is deterministic
    and oracle-reproducible: the DuckDB oracle unrolls the greedy
    loop into k SQL layers (each step a plain argmax over bounded
    relations) — an ITERATIVE algorithm with a full value-hash
    oracle.

    Scale shape: the corpus-sized work is the candidate retrieval
    (``knn_join``, see its strategy notes). Everything after is
    bounded by construction: candidates are |Q|·pool rows, pairwise
    sims |Q|·pool² (pool defaults to 20 → 400 rows/query), and the
    whole k-step greedy selection for one query runs over those
    bounded rows in a single cogrouped Arrow pass
    (:func:`_mmr_greedy_cogroup`) — no data-sized shuffle, no driver
    loop over rows, and none of the k sequential fixed-latency jobs
    the previous unrolled-plan execution paid (r10: measured 5.6→2.6
    s exact / 4.9→2.3 s blas / 5.2→2.3 s ivf at sf0.1). Candidate
    vectors join the pool by id, so the wide arrays never enter the
    selection."""
    from . import similarity as _sim
    if k > pool:
        raise ValueError(f"mmr_rerank: k={k} > pool={pool}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"mmr_rerank: lambda must be in [0,1], "
                         f"got {lam}")
    if index_path is not None:
        # r10: query-many composition — candidates come from the
        # PERSISTED IVF index (partition-pruned read, ~n_probe/
        # n_cells of the corpus bytes instead of the full blas
        # scan), and the kernel emits each neighbor's vector
        # alongside, so the pool's pairwise-similarity stage needs
        # NO second corpus scan and no unprunable id join. Same
        # greedy loop below, byte-identical given the same pool.
        dim = dim or int(_sim.ivf_read_index(
            queries.sparkSession, index_path, verify=False)[0]["dim"])
        cand_v = _sim.knn_join_ivf_index(
            queries.sparkSession, index_path, queries, k=pool,
            n_probe=n_probe, q_vec_col=q_vec_col or vec_col,
            q_id_col=q_id_col or id_col, exclude_self=exclude_self,
            return_vecs=True)
        # one eager materialization of the bounded pool (|Q|·pool
        # rows): cand, cv AND the sims self-join below all read it,
        # so the index probe + kernel run ONCE instead of once per
        # consumer branch
        cand_v = cand_v.localCheckpoint()
        cand = cand_v.select("qid", "nbr_id", "cos")
        cv = (cand_v.withColumn("_n", _sim.norm_expr("_v", dim))
              .select("qid", "nbr_id", "cos", "_v", "_n"))
    else:
        if corpus is None:
            raise ValueError("mmr_rerank: corpus is required unless "
                             "index_path is given")
        dim = dim or _sim.probe_dim(corpus, vec_col)
        cand = _sim.knn_join(corpus, queries, k=pool, vec_col=vec_col,
                             id_col=id_col, q_vec_col=q_vec_col,
                             q_id_col=q_id_col,
                             exclude_self=exclude_self,
                             dim=dim, method=method)
        # one eager materialization of the bounded pool (|Q|·pool
        # narrow rows) for the Arrow-kernel methods: the cand_i
        # branch and BOTH sides of the sims self-join read it, so
        # the collect+mapInPandas kNN runs ONCE instead of three
        # times in the final job's plan (measured at sf0.1: blas
        # 3.28→2.30 s, ivf 2.73→2.28 s). The exact method's kNN is
        # a broadcast nested-loop the shared shuffle already
        # dedupes — its recompute is cheaper than the extra eager
        # job (measured 2.57→2.96 s), so it stays lazy.
        if method != "exact":
            cand = cand.localCheckpoint()
        vecs = corpus.select(
            F.col(id_col).alias("nbr_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
            .alias("_v")).withColumn("_n", _sim.norm_expr("_v", dim))
        cv = cand.join(vecs, on="nbr_id").select("qid", "nbr_id",
                                                 "cos", "_v", "_n")
    a = cv.select("qid", F.col("nbr_id").alias("_a"),
                  F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    b = cv.select("qid", F.col("nbr_id").alias("_b"),
                  F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    # pairwise similarity straight to INTEGER micro-units: the greedy
    # penalty is max(sim) over the selected set, and HALF_UP rounding
    # is monotone, so max-then-round == round-then-max — shipping the
    # long saves the double column and keeps every downstream compare
    # exact.
    sims = (a.join(b, on="qid")
            .filter(F.col("_a") != F.col("_b"))
            .select("qid", "_a", "_b",
                    F.round(F.round(_sim.cosine_with_norms(
                        "_va", "_vb", "_na", "_nb", dim), 6)
                        * 1e6, 0).cast("long").alias("_pi")))
    # λ in exact per-mille so the penalized score computes in INTEGER
    # nano-units: cos/pen are round-6 values, so λ·cos − (1−λ)·pen
    # always lands within a digit of a decimal ROUNDING BOUNDARY —
    # re-rounding that in binary doubles is engine-dependent (Spark's
    # exact-decimal HALF_UP vs DuckDB's float-multiply round disagreed
    # on a real sf0.01 row). `lam_mill·ci − (1000−lam_mill)·pi` over
    # micro-unit ints is exact, ordered exactly, and divides back to
    # the identical double on every engine.
    lam_mill = int(round(float(lam) * 1000))
    if abs(float(lam) * 1000 - lam_mill) > 1e-9:
        raise ValueError(f"mmr_rerank: lambda must be a multiple of "
                         f"0.001 (exact integer scoring), got {lam}")
    # r10 optimization: the k−1 greedy steps used to unroll into
    # sequential Spark jobs (each an anti-join + penalty aggregate +
    # argmax window, localCheckpointed) — ~k+2 jobs of fixed latency
    # regardless of data size. The pool is bounded by construction
    # (|Q|·pool candidate rows, |Q|·pool² sim pairs, pool defaults to
    # 20), so the whole greedy selection for ONE query fits trivially
    # in memory: run it per-query in a single cogrouped Arrow pass
    # (guide §4.2 — bounded groups, exact int64 math, no row loop in
    # the driver). The scoring is UNCHANGED: same integer nano-units,
    # same null/missing-pair semantics as the unrolled plan (verified
    # value-identical against the DuckDB oracle at sf0.001/0.01/0.1).
    cand_i = cand.withColumn(
        "_ci", F.round(F.col("cos") * 1e6, 0).cast("long"))
    return _mmr_greedy_cogroup(cand_i, sims, int(k), lam_mill)


def _mmr_greedy_cogroup(cand_i: DataFrame, sims: DataFrame, k: int,
                        lam_mill: int) -> DataFrame:
    """Per-query greedy MMR selection as ONE cogrouped Arrow pass.

    ``cand_i``: (qid, nbr_id, cos, _ci) — _ci = round(cos·1e6) long,
    computed Spark-side (HALF_UP) so the Python side never rounds.
    ``sims``: (qid, _a, _b, _pi) — pairwise pool similarity in the
    same micro-units (nullable).

    Exactly mirrors the unrolled plan's semantics per step t:
      * a remaining candidate with NO sim row to any selected member
        is excluded from step t (the unrolled plan's inner penalty
        join dropped it);
      * a candidate whose existing sim rows are all NULL gets a NULL
        penalty → NULL score, ordered after every non-null score
        (Spark desc = nulls last) but still selectable;
      * argmax on (score desc, nbr_id asc); score = lam_mill·ci −
        (1000−lam_mill)·pi in exact int64 nano-units, emitted as
        score/1e9 double (same IEEE division as the cast the
        unrolled plan used).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as _T

    q_f = cand_i.schema["qid"]
    n_f = cand_i.schema["nbr_id"]
    out_schema = _T.StructType([
        _T.StructField("qid", q_f.dataType),
        _T.StructField("nbr_id", n_f.dataType),
        _T.StructField("mmr_rank", _T.IntegerType()),
        _T.StructField("mmr_score", _T.DoubleType())])
    kk, lm = int(k), int(lam_mill)

    def greedy(cpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cpdf):
            return pd.DataFrame(
                {"qid": [], "nbr_id": [], "mmr_rank": [],
                 "mmr_score": []})
        qid = cpdf["qid"].iloc[0]
        ids = list(cpdf["nbr_id"])
        n = len(ids)
        idx = {v: i for i, v in enumerate(ids)}
        ci = cpdf["_ci"].to_numpy(dtype=np.int64)
        cos = cpdf["cos"].to_numpy(dtype=np.float64)
        # pairwise penalty matrix in micro-units; EXISTS tracked
        # separately so a missing pair row keeps the unrolled plan's
        # inner-join drop semantics (distinct from a NULL sim value)
        exists = np.zeros((n, n), dtype=bool)
        pi = np.full((n, n), np.nan)
        if len(spdf):
            # duplicate pair rows (duplicate-id corpora) fold by max,
            # skipna — identical to the unrolled plan's F.max
            agg = spdf.groupby(["_a", "_b"], sort=False)["_pi"].max()
            for (va, vb), v in agg.items():
                ia, ib = idx.get(va), idx.get(vb)
                if ia is None or ib is None:
                    continue
                exists[ia, ib] = True
                pi[ia, ib] = v
        # candidate iteration order: ascending nbr_id (the window's
        # tie-break); ids within a group share one type
        by_id = sorted(range(n), key=lambda i: ids[i])
        # step 1: pure relevance argmax (cos desc ≡ ci desc, id asc;
        # max() keeps the FIRST maximal element, so ascending-id
        # iteration resolves ties to the smallest id)
        first = max(by_id, key=lambda i: ci[i])
        sel = [first]
        ranks = [1]
        scores = [cos[first]]
        for t in range(2, kk + 1):
            best, best_key = None, None
            for i in by_id:
                if i in sel:
                    continue
                ex = exists[i, sel]
                if not ex.any():
                    continue  # inner penalty join dropped it
                vals = pi[i, sel][ex]
                if np.isnan(vals).all():
                    key = (0, 0)          # NULL score: after non-null
                else:
                    pen = int(np.nanmax(vals))
                    key = (1, lm * int(ci[i]) - (1000 - lm) * pen)
                if best is None or key > best_key:
                    best, best_key = i, key
            if best is None:
                break
            sel.append(best)
            ranks.append(t)
            scores.append(float(best_key[1]) / 1.0e9
                          if best_key[0] else None)
        # mmr_score as an object Series: a NULL score (all-null sims)
        # must stay SQL NULL, not NaN, to match the unrolled plan
        return pd.DataFrame({
            "qid": [qid] * len(sel),
            "nbr_id": [ids[i] for i in sel],
            "mmr_rank": np.asarray(ranks, dtype=np.int32),
            "mmr_score": pd.Series(scores, dtype=object)})

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return greedy(left, right)

    # cand_i and sims derive from the SAME candidate subtree — fresh
    # exprIds on each side keep the analyzer's ambiguous-self-join
    # check out of the cogroup (the shared upstream exchange is still
    # reused at the physical level)
    cand_i = cand_i.select(*(F.col(c).alias(c) for c in cand_i.columns))
    sims = sims.select(*(F.col(c).alias(c) for c in sims.columns))
    return (cand_i.groupBy("qid").cogroup(sims.groupBy("qid"))
            .applyInPandas(fn, schema=out_schema))
