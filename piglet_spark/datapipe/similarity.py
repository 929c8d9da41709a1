"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the baseline and the
  oracle-checkable path. Dot products via JVM higher-order functions
  (zip_with/aggregate); top-k is ORDER+LIMIT which Catalyst executes
  as TakeOrderedAndProject (per-partition heap + driver merge — no
  global sort shuffle, scales to any row count).
- ``ann_lsh_topk``: random-hyperplane LSH bucketing — the scale path:
  candidate set shrinks ~2^planes-fold; exact re-rank on candidates.
- ``ivf_topk``: IVF-style coarse quantization with deterministic
  centroid seeds: assign each vector to nearest of C seed rows
  (broadcast), probe the query's nearest cells only.
"""

from __future__ import annotations

import json
import logging
import math
import os
import shutil

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .util import spread as _spread, cached_parquet, footer_fingerprint, \
    memo_on_df

_LOG = logging.getLogger(__name__)


def _lcg(seed: int):
    state = seed
    while True:
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        yield state


def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim."""
    g = _lcg(seed)
    return [[(next(g) / float(1 << 63)) * 2.0 - 1.0 for _ in range(dim)]
            for _ in range(n_planes)]


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# --- fixed-dimension vector math as generated SQL strings ----------
#
# One SQL string parsed by F.expr() (not a py4j-built Column tree),
# formulated as aggregate/zip_with higher-order functions over a
# slice() of the probed dimension. r10 re-measurement overturned the
# earlier unrolled-try_element_at formulation: on Spark 4.1 the
# 64-term unrolled trees cost ~0.3-0.5 s of per-query planning/
# codegen AND evaluate slower inside the broadcast nested-loop join
# (knn_join exact, sf1 = 4M pairs: 11.9 s unrolled vs 2.0 s HOF,
# hash-identical; sf0.1: 0.97 vs 0.51 s). The HOF fold keeps the
# exact left-fold order ((0+x₁y₁)+x₂y₂)+… so results are
# bit-identical and oracle SQL written against the generic formula
# still matches; an explicit size guard reproduces the unrolled
# form's null-when-short semantics (try_element_at past the end made
# the whole sum null; a bare zip_with over two equally-short arrays
# would not).

def _flit(x: float) -> str:
    """A double literal that Spark SQL parses for ANY float value —
    repr() of nan/inf is an identifier, not a literal."""
    if x != x:
        return "cast('NaN' as double)"
    if x == float("inf"):
        return "cast('Infinity' as double)"
    if x == float("-inf"):
        return "cast('-Infinity' as double)"
    return repr(x)


def dot_sql(a: str, b: str, dim: int) -> str:
    """SQL text for the dot product of the first ``dim`` elements of
    two array<double> columns (``a``/``b`` are SQL identifiers).
    A row whose array is shorter than the probed dim yields NULL →
    null cosine → filtered/sorted out (the unrolled try_element_at
    form's graceful degradation, reproduced by the explicit size
    guard — zip_with alone pads the SHORTER side with nulls, which
    matches only when the sides differ in length)."""
    agg = (f"aggregate(zip_with(slice({a}, 1, {dim}), "
           f"slice({b}, 1, {dim}), (x, y) -> x * y), "
           f"0.0D, (acc, x) -> acc + x)")
    return (f"(IF(size({a}) >= {dim} AND size({b}) >= {dim}, "
            f"{agg}, CAST(NULL AS DOUBLE)))")


def norm_expr(v: str, dim: int) -> Column:
    """Codegen'd L2 norm of a named array<double> column."""
    return F.expr(f"sqrt({dot_sql(v, v, dim)})")


def cosine_with_norms(a: str, b: str, norm_a: str, norm_b: str,
                      dim: int) -> Column:
    """Cosine of two named array<double> columns from precomputed
    per-side norms (:func:`norm_expr` map-side before the join).
    Don't inline norms into a join-stage expression: three dim-term
    sums inside a nested-loop-join consume function overflow janino's
    64 KB method limit and silently fall back to interpreted eval."""
    return F.expr(f"{dot_sql(a, b, dim)} / ({norm_a} * {norm_b})")


def cosine_to_query_expr(v: str, query_vec: list[float]) -> Column:
    """Codegen'd cosine of a named array<double> column against a
    literal query vector. ||q|| is pre-folded in Python with the same
    left-fold order, so the value is bit-identical to the generic
    formula."""
    dim = len(query_vec)
    nq = 0.0
    for x in query_vec:
        nq = nq + x * x
    nq = math.sqrt(nq)  # correctly-rounded IEEE sqrt = JVM Math.sqrt
    # LITERAL-side dot stays UNROLLED (r10): with one side a constant,
    # codegen emits straight-line multiply-adds — measured faster than
    # the interpreted per-element HOF lambda at sf1 (similarity_ann_lsh
    # 1.5-2.1 s unrolled vs 2.5-3.8 s HOF); the HOF rewrite pays off
    # only for column-column dots inside joins (see dot_sql).
    dot = " + ".join(f"(try_element_at({v}, {i + 1}) * {_flit(query_vec[i])})"
                     for i in range(dim))
    return F.expr(f"(0.0 + {dot}) / (sqrt({dot_sql(v, v, dim)})"
                  f" * {_flit(nq)})")


def probe_dim(df: DataFrame, vec_col: str = "embedding",
              default: int = 64) -> int:
    """Read the embedding dimensionality from the first row with a
    non-empty vector (driver-side metadata probe; one tiny job that
    stops at the first match). Null/empty leading rows are skipped —
    size(NULL) is null under ANSI and a 0 dim would generate
    unparseable '(0.0 + )' SQL."""
    def probe() -> int:
        first = (df.select(F.size(F.col(vec_col)).alias("n"))
                 .filter(F.col("n") > 0).first())
        return int(first["n"]) if first is not None else default
    # memoized on the handle (r10): with the cached_parquet handle
    # shared across the suite this one fixed-latency job ran once per
    # similarity query for the same immutable plan
    return memo_on_df(df, f"dim:{vec_col}", probe)


def hyperplane_bucket(vec: str, dim: int, n_planes: int,
                      seed: int = 7) -> Column:
    """Sign-pattern bucket id (0..2^n_planes-1) of a named
    array<double> column (one generated-SQL expression, codegen'd)."""
    planes = hyperplanes(dim, n_planes, seed)
    # literal-side dots stay UNROLLED — see cosine_to_query_expr
    terms = []
    for i, p in enumerate(planes):
        d = " + ".join(f"(try_element_at({vec}, {j + 1}) * {_flit(p[j])})"
                       for j in range(dim))
        terms.append(f"(CASE WHEN (0.0 + {d}) > 0 THEN {1 << i}L"
                     f" ELSE 0L END)")
    return F.expr("(" + " + ".join(terms) + ")")


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector.
    Returns (id, cos) ordered by cos desc, id asc (deterministic ties)."""
    base = _spread(df).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    cos = F.round(cosine_to_query_expr("_v", query_vec), 6)
    return (base.select(F.col(id_col), cos.alias("cos"))
            .orderBy(F.col("cos").desc(), F.col(id_col).asc())
            .limit(k))


def ann_lsh_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 n_planes: int = 4, dim: int | None = None) -> DataFrame:
    """Approximate top-k: restrict to vectors whose hyperplane bucket
    is within hamming distance 1 of the query's bucket (multi-probe),
    then exact cosine re-rank. Bucketing is map-only; the filter
    prunes ~(1+n_planes)/2^n_planes of the data."""
    dim = dim if dim is not None else len(query_vec)
    planes = hyperplanes(dim, n_planes)
    qbits = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(p, query_vec)) > 0:
            qbits |= 1 << i
    probe = [qbits] + [qbits ^ (1 << i) for i in range(n_planes)]
    base = _spread(df).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    bucket = hyperplane_bucket("_v", dim, n_planes)
    cos = F.round(cosine_to_query_expr("_v", query_vec), 6)
    return (base.select(F.col(id_col), bucket.alias("_b"), cos.alias("cos"))
            .filter(F.col("_b").isin(probe))
            .orderBy(F.col("cos").desc(), F.col(id_col).asc())
            .limit(k)
            .select(id_col, "cos"))


def _argmin_assign(rows: DataFrame, cents: DataFrame, id_col: str,
                   dim: int) -> DataFrame:
    """(id, _cid): nearest centroid per row — NARROW. Broadcast
    crossJoin → ``min_by(struct(-cos, cid))`` aggregation — argmax
    cosine, ties → smallest _cid, valid for ANY orderable id type.
    min_by gets map-side partial aggregation, so the shuffle carries
    ONE narrow row per vector — a row_number window shuffles all n×C
    scored rows and sorts them (the r01 formulation; flagged by the
    r01 audit)."""
    # NARROW through the aggregation — (id, cid, d) only. The r07
    # version carried _v (the dim-double array) inside the min_by
    # struct; min_by is a TypedImperativeAggregate, which plans as
    # SortAggregate, and sorting n×C crossed rows each dragging a
    # 512-byte array was the r08 sf100 cliff (2M vectors: ~19 GB
    # sort, 901 s). The first r08 fix projected the array out but
    # JOINED IT BACK here — re-sorting 2M wide rows in the SMJ, and
    # AQE coalesces that narrow-BYTES shuffle to 1-2 reducers while
    # the per-row CPU (interpreted `transform` cast + unrolled dots)
    # is the real cost: 2 tasks ground for 20+ min at sf100 while 30
    # cores idled. So the assignment stays (id, _cid) and each
    # CALLER attaches what it needs — ivf_topk computes its query
    # cosine map-side and joins narrow-to-narrow; semantic_pairs
    # joins _v back once and immediately materializes.
    scored = (rows.crossJoin(F.broadcast(cents))
              .withColumn("_d", cosine_with_norms("_v", "_cv",
                                                  "_nv", "_ncv", dim))
              .select(F.col(id_col), F.col("_cid"), F.col("_d")))
    # min_by over (-cos, cid): argmax cosine, ties → smallest cid —
    # works for ANY orderable id type (negating the id would require
    # numeric ids; caught by r02 code review)
    return (scored.groupBy(id_col)
            .agg(F.min_by(F.col("_cid"),
                          F.struct(-F.col("_d"), F.col("_cid")))
                 .alias("_cid")))


def train_centroids(df: DataFrame, vec_col: str, id_col: str,
                    n_cells: int, refine_iters: int, train_sample: int):
    """Driver-side Lloyd k-means on a bounded deterministic sample —
    the coarse-quantizer trainer shared by ivf_topk and
    semantic_dedup. Seeds = the n_cells rows with the smallest
    md5(id) (hash-spread, not id-correlated); ``refine_iters`` Lloyd
    rounds refine them on the ``train_sample`` smallest-md5 rows in
    numpy; empty cells drop. Returns (cent_rows, cents_lit): the
    centroid dicts and a literal DataFrame (_cid, _cv, _ncv) ready to
    broadcast, preserving the id column's type.

    ONE distributed job collects the sample (train_sample × dim
    doubles — driver-safe at any corpus size); the refined centroids
    go back as literals so the full corpus is scanned exactly once.
    (Training distributedly re-executed its subtree inside the final
    plan and cost 3 extra jobs — measured 2× the whole query at
    sf0.1.)"""
    sample_rows = (df.select(F.col(id_col).alias("_cid"),
                             _as_double(F.col(vec_col)).alias("_cv"))
                   # null/empty vectors can't seed or train a centroid
                   # (r05: a null in the sample crashed the driver;
                   # empty input hit a numpy AxisError on the 1-D [])
                   .filter(F.size(F.col("_cv")) > 0)
                   .orderBy(F.md5(F.col("_cid").cast("string")).asc(),
                            F.col("_cid").asc())
                   .limit(train_sample).collect())
    if not sample_rows:
        return [], None  # no trainable vectors → callers get no cells
    s_ids = [r["_cid"] for r in sample_rows]  # any orderable id type
    s_vecs = np.array([[float(x) for x in r["_cv"]] for r in sample_rows],
                      dtype=np.float64)
    cent_ids = list(s_ids[:n_cells])
    cent_vecs = s_vecs[:n_cells].copy()
    s_norm = np.sqrt((s_vecs ** 2).sum(axis=1))
    for _ in range(refine_iters):
        if not cent_ids:
            break
        # ascending-cid centroid order: np.argmax picks the FIRST
        # max, which then matches the SQL tie-break (cos DESC,
        # cid ASC) used by the oracle and the distributed argmin
        order = sorted(range(len(cent_ids)), key=lambda i: cent_ids[i])
        cent_ids = [cent_ids[i] for i in order]
        cent_vecs = cent_vecs[order]
        c_norm = np.sqrt((cent_vecs ** 2).sum(axis=1))
        cos = (s_vecs @ cent_vecs.T) / np.outer(s_norm, c_norm)
        assign = np.argmax(cos, axis=1)
        new_ids, new_vecs = [], []
        for ci in range(len(cent_ids)):
            members = s_vecs[assign == ci]
            if len(members):  # empty cells drop (SQL GROUP BY ditto)
                new_ids.append(cent_ids[ci])
                new_vecs.append(members.mean(axis=0))
        cent_ids, cent_vecs = new_ids, np.array(new_vecs)
    cent_rows = [{"_cid": cid, "_cv": [float(x) for x in vec]}
                 for cid, vec in zip(cent_ids, cent_vecs)]
    cents_lit = _centroid_frame(
        df.sparkSession, [(r["_cid"], r["_cv"]) for r in cent_rows],
        df.schema[id_col].dataType)  # preserve the id's type
    return cent_rows, cents_lit


def _centroid_frame(spark, cents, id_type) -> DataFrame:
    """The literal (_cid, _cv, _ncv) frame of ``(cid, vec)`` centroid
    pairs that :func:`_argmin_assign` broadcasts; ``_cid`` has
    ``id_type`` and ``_ncv`` is the numpy L2 norm, so a trained
    quantizer and one reloaded from an index sidecar assign alike."""
    return spark.createDataFrame(
        [(cid, [float(x) for x in vec],
          float(np.sqrt((np.asarray(vec, dtype=np.float64) ** 2).sum())))
         for cid, vec in cents],
        schema=T.StructType([
            T.StructField("_cid", id_type),
            T.StructField("_cv", T.ArrayType(T.DoubleType())),
            T.StructField("_ncv", T.DoubleType())]))


# Query-block size for knn_join's blas path: bounds the per-task
# score matrix at batch_rows × _BLAS_QBLOCK doubles (10k-row Arrow
# batches × 2048 queries = 160 MB) instead of batch_rows × nq — with
# tens of thousands of queries and 32 concurrent tasks the unblocked
# matrix is tens of GB. Top-k per query is independent across blocks,
# so blocking is exact (pinned by test_knn_join_blas_query_blocks).
_BLAS_QBLOCK = 2048


def lsh_planes(corpus_count: int, n_planes: int = 4,
               target_bucket: int = 128, max_planes: int = 20) -> int:
    """Adaptive hyperplane count for the knn_join lsh path: enough
    planes that the EXPECTED bucket size ``corpus_count / 2^p`` stays
    ≤ ``target_bucket`` — i.e. ``max(n_planes,
    ceil(log2(count / target_bucket)))``, capped at ``max_planes``.

    Why this must be adaptive: with a fixed p the candidate stage is
    quadratic whenever |Q| ∝ |C| (candidates ≈ |Q|·(1+p)/2^p·|C|);
    the r07 scale sweep measured 79.7× wall-time for 10× data at the
    old fixed p=4 (sf10: 524 s — half the sweep). With bucket size
    pinned at ``target_bucket`` the candidate count is
    |Q|·(1+p)·target — linear in the data (up to the log factor),
    the same shape as the dedup LSH family. Pure integer math on the
    corpus COUNT only, so a SQL oracle generator can recompute the
    identical plane set from the table's row count."""
    cc, tb = max(int(corpus_count), 1), int(target_bucket)
    # smallest p with tb·2^p ≥ cc — integer ceil(log2(cc/tb)), no
    # float log (exact at power-of-2 boundaries)
    need = ((cc + tb - 1) // tb - 1).bit_length()
    return min(max(int(n_planes), need), int(max_planes))


# --- the batch kNN pipeline: one function per step, shared by
# knn_join (blas/ivf) and the index-served knn_join_ivf_index

def _vectors(df: DataFrame, dim: int, id_col: str, vec_col: str,
             id_as: str | None = None, keep: tuple = (), v: str = "_v",
             n: str = "_nv") -> DataFrame:
    """(id, *keep, v, n): ``vec_col`` cast to double as ``v`` with its
    L2 norm over the first ``dim`` elements as ``n``. Null/short and
    zero-norm vectors drop — their cosine is undefined."""
    idc = F.col(id_col) if id_as is None else F.col(id_col).alias(id_as)
    return (df.select(idc, *keep, _as_double(F.col(vec_col)).alias(v))
            .filter(F.size(F.col(v)) >= dim)
            .withColumn(n, norm_expr(v, dim))
            .filter(F.col(n) > 0))


def _band(band, who: str) -> tuple[float, float] | None:
    """``band`` as floats (lo, hi), checked lo < hi; None stays None."""
    if band is None:
        return None
    lo, hi = float(band[0]), float(band[1])
    if not lo < hi:
        raise ValueError(f"{who}: band must be (lo, hi) with lo < hi, "
                         f"got {band!r}")
    return lo, hi


def _unit(M):
    """Rows of ``M`` scaled to unit L2 norm."""
    return M / np.sqrt((M ** 2).sum(axis=1, keepdims=True))


def _query_panel(qs: DataFrame, dim: int, max_queries: int, who: str):
    """(q_ids, Qn): the query side of ``qs`` = :func:`_vectors` (qid,
    _qv, _nq) collected driver-side, Qn its L2-normalized nq × dim
    matrix. More than ``max_queries`` rows is an error, not a cap."""
    rows = qs.limit(max_queries + 1).collect()
    if len(rows) > max_queries:
        raise ValueError(
            f"{who}: query side exceeds max_queries={max_queries}; "
            f"raise the cap or pre-partition the queries")
    Q = np.array([[float(x) for x in r["_qv"][:dim]] for r in rows],
                 dtype=np.float64).reshape(len(rows), dim)
    return [r["qid"] for r in rows], _unit(Q)


def _unit_cells(cents) -> tuple[list, "np.ndarray"]:
    """(cids, Cn) of ``(cid, vec)`` centroid pairs in ascending-cid
    order: np.argmax and the stable probe sort then pick the FIRST
    maximum, which matches the SQL tie-break (cos DESC, cid ASC) of
    the oracle and of :func:`_argmin_assign`."""
    cents = sorted(cents, key=lambda c: c[0])
    return ([c for c, _ in cents],
            _unit(np.array([v for _, v in cents], dtype=np.float64)))


def _probe_cells(Qn, cids: list, Cn, n_probe: int) -> dict:
    """cid → int64 indices (into Qn) of the queries that probe it —
    each query probes its ``n_probe`` nearest cells (one nq × n_cells
    matmul); cells no query probes are absent."""
    probes = np.argsort(-(Qn @ Cn.T), kind="stable",
                        axis=1)[:, :min(int(n_probe), len(cids))]
    out: dict = {}
    for qi, cells in enumerate(probes):
        for c in cells:
            out.setdefault(cids[int(c)], []).append(qi)
    return {cid: np.asarray(ix, dtype=np.int64) for cid, ix in out.items()}


def _nearest_cells(cents, query_vec: list[float], n_probe: int) -> list:
    """The cids of the ``n_probe`` ``(cid, vec)`` centroids nearest one
    query by Python-float cosine, ties → smallest cid (the single-
    query probe the ivf_topk oracle reproduces)."""
    nq = math.sqrt(sum(x * x for x in query_vec))

    def cos(v):
        num = sum(x * y for x, y in zip(v, query_vec))
        nv = math.sqrt(sum(x * x for x in v))
        return num / (nv * nq) if nv and nq else 0.0

    best = sorted(cents, key=lambda c: (-cos(c[1]), c[0]))
    return [cid for cid, _ in best[:int(n_probe)]]


def _knn_schema(q_type, nbr_type) -> T.StructType:
    return T.StructType([T.StructField("qid", q_type),
                         T.StructField("nbr_id", nbr_type),
                         T.StructField("cos", T.DoubleType())])


def _knn_candidates(rows: DataFrame, q_ids: list, Qn, k: int,
                    batch_slack: int | None, exclude_self: bool,
                    band: tuple[float, float] | None,
                    schema: T.StructType, cell_of=None,
                    cell_queries: dict | None = None) -> DataFrame:
    """The Arrow kNN candidate kernel: one ``mapInPandas`` pass over
    ``rows`` (nbr_id, _v, …) whose batches are L2-normalized and
    matmul'd against the query panel Qn in blocks of
    ``_BLAS_QBLOCK`` queries, emitting per query only its
    top-(k+slack) candidates (qid, nbr_id, cos round-6). The corpus
    is scanned once and the |C|·nq cross product never exists.

    IVF: ``cell_of(pdf, Vn)`` gives each batch row's cell, and each
    cell's rows are scored only against ``cell_queries[cell]`` (the
    queries probing it, :func:`_probe_cells`)."""
    import pandas as pd
    dim = Qn.shape[1]
    cap = int(k) + int(batch_slack if batch_slack is not None
                       else 3 * k + 8)
    excl = bool(exclude_self)
    qblock = _BLAS_QBLOCK
    q_arr = np.asarray(q_ids, dtype=object)
    all_q = np.arange(len(q_ids), dtype=np.int64)

    def emit(Vn, ids, q_idx):
        m = min(cap, len(ids))
        for lo in range(0, len(q_idx), qblock):
            qix = q_idx[lo:lo + qblock]
            qa = q_arr[qix]
            S = Vn @ Qn[qix].T  # (rows, block) — one BLAS call
            # masks in place: np.where would copy S, ~160 MB per tile
            # at a 10k-row batch × 2048 queries
            if excl:  # self-pairs must not occupy candidate slots
                S[ids[:, None] == qa[None, :]] = -np.inf
            if band is not None:
                # widened by 1e-6 so a raw score that ROUNDS into
                # [lo, hi) survives fold-order ulp noise; the precise
                # rounded-band filter re-applies in _topk, strays just
                # burn slack
                S[(S < band[0] - 1e-6) | (S >= band[1] + 1e-6)] = -np.inf
            top = np.argpartition(-S, m - 1, axis=0)[:m]  # (m, block)
            col = np.repeat(np.arange(S.shape[1]), m)
            row = top.T.ravel()
            keep = np.isfinite(S[row, col])
            yield pd.DataFrame({"qid": qa[col[keep]],
                                "nbr_id": ids[row[keep]],
                                "cos": S[row[keep], col[keep]]})

    def _knn_kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Vn = _unit(np.array([v[:dim] for v in pdf["_v"]],
                                dtype=np.float64))
            ids = pdf["nbr_id"].to_numpy()
            if cell_of is None:
                yield from emit(Vn, ids, all_q)
                continue
            cells = cell_of(pdf, Vn)
            for c in pd.unique(cells):
                q_idx = cell_queries.get(c)
                if q_idx is not None:
                    rix = np.flatnonzero(cells == c)
                    yield from emit(Vn[rix], ids[rix], q_idx)

    # RAW scores leave the kernel and round Spark-side (HALF_UP) like
    # the exact path; np.round (half-to-even) could flip k-boundary
    # ranking on a 5e-7 midpoint
    return (rows.mapInPandas(_knn_kernel, schema=schema)
            .withColumn("cos", F.round(F.col("cos"), 6)))


def _topk(scored: DataFrame, k: int,
          band: tuple[float, float] | None) -> DataFrame:
    """Per qid, the ``k`` rows ranked by (cos desc, nbr_id asc) —
    ROW_NUMBER semantics; with ``band`` only rows whose ROUNDED cos is
    in [lo, hi) are ranked, so every method sees the same set."""
    if band is not None:
        scored = scored.filter((F.col("cos") >= band[0])
                               & (F.col("cos") < band[1]))
    w = (Window.partitionBy("qid")
         .orderBy(F.col("cos").desc(), F.col("nbr_id").asc()))
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(k)).drop("_rn"))


def knn_join(corpus: DataFrame, queries: DataFrame, k: int = 5,
             vec_col: str = "embedding", id_col: str = "vec_id",
             q_vec_col: str | None = None, q_id_col: str | None = None,
             exclude_self: bool = True, method: str = "exact",
             dim: int | None = None, n_planes: int = 4,
             max_queries: int = 65536,
             batch_slack: int | None = None,
             n_cells: int = 16, n_probe: int = 4,
             refine_iters: int = 1,
             train_sample: int = 256,
             target_bucket: int = 128,
             max_bucket: int | None = 4096,
             corpus_count: int | None = None,
             band: tuple[float, float] | None = None) -> DataFrame:
    """Batch k-nearest-neighbor join: for EVERY row of ``queries``,
    the ``k`` rows of ``corpus`` with the highest cosine similarity.
    Returns (qid, nbr_id, cos) with deterministic ROW_NUMBER
    semantics — per query, order by round(cos, 6) desc, nbr_id asc.
    Null/short vectors and zero-norm vectors are excluded on both
    sides (their cosine is undefined).

    The single-query ``cosine_topk``/``ann_lsh_topk``/``ivf_topk``
    cover interactive lookup; this is the bulk path a training-data
    pipeline needs (label propagation, RAG index build, SemDeDup-style
    cross-corpus linking: reference Piglet has no equivalent — the
    nearest shape is its CROSS + FOREACH idiom, op/Cross.scala:15).

    Four physical strategies:

    - ``exact``: broadcast the query side, codegen'd unrolled fold
      cosine inside the nested-loop join, per-query top-k window.
      Fully DuckDB-oracle-reproducible (bit-identical fold order).
      The window shuffles |corpus|·|queries| scored rows on qid — the
      right plan when nq is small or the corpus already fits a
      scored-pairs shuffle.
    - ``blas``: THE 100 TB path. The query matrix (≤ ``max_queries``
      rows, guarded) is L2-normalized driver-side and closed over an
      Arrow ``mapInPandas`` pass: each batch computes one
      numpy-BLAS ``V_n @ Q_nᵀ`` matmul and emits only its per-query
      top-(k+slack) candidate ids — the corpus is scanned ONCE, the
      |C|·nq cross product is never materialized, and the final
      window ranks nbatches·nq·(k+slack) candidate rows, not data.
      Scores are the BLAS values (pairwise summation), so a pair
      within ~1 ulp of a fold-order pair can rank differently than
      ``exact`` at the k boundary — same honest caveat as IVF
      training (observed: none; pytest asserts blas == exact).
    - ``lsh``: random-hyperplane buckets on both sides, hamming≤1
      multi-probe explode on the query side, bucket equi-join →
      candidates shrink ~(1+p)/2^p before the exact re-rank. The
      plane count p is ADAPTIVE (:func:`lsh_planes`): at least
      ``n_planes``, raised so expected bucket size |C|/2^p stays
      ≤ ``target_bucket`` — candidates are then |Q|·(1+p)·target,
      linear in the data instead of the fixed-p quadratic (r07
      measured 79.7× wall for 10× data at fixed p=4). |C| comes from
      one cheap count unless ``corpus_count`` is passed. Buckets
      larger than ``max_bucket`` (pathological piles) are dropped
      with a logged warning, like dedup's ``_cap_buckets``.
      Deterministic and oracle-reproducible (p and the cap are pure
      functions of COUNT(*) and the bucket histogram).
    - ``ivf``: FAISS-style IVF-Flat fused into the blas kernel — a
      trained coarse quantizer (:func:`train_centroids`, bounded
      driver sample) bins each batch's rows to their nearest cell
      with one b×n_cells matmul, then each bin matmuls against only
      the queries PROBING that cell (driver-side top-``n_probe``
      cells per query): ~n_probe/n_cells of the blas flops, still
      one corpus scan and zero shuffle. Approximate — a true
      neighbor in an unprobed cell is missed — so pytest pins recall
      vs exact, not equality.

    Choosing between them (measured, SCALE.md r07): ``blas``
    dominates batch top-k at scale — sf10 (200k corpus × 2k queries,
    400M pairs) in 6.4 s, exact ranking. ``lsh`` is only competitive in
    the NEAR-DUPLICATE regime (neighbors with cosine ≳0.8, where
    sign patterns agree): on diffuse embeddings (top neighbors at
    cos ~0.3–0.4) the prune/recall trade collapses — p=4 prunes just
    ~3× (minutes of fold-cosine at 500k) while p=10 is still slower
    than blas AND drops recall@5 to 0.11. ``ivf`` is the graceful
    middle on diffuse data (recall@5 0.48 at n_probe=4/16 cells,
    0.72 at 8/16, sf0.01) — worth it when the flop bill, not the
    scan, dominates (very large query panels). Prefer ``exact`` for
    small panels (it is the oracle), ``blas`` for bulk kNN, ``lsh``
    for near-dup linking, ``ivf`` for flop-bound panels that accept
    IVF recall.

    ``band=(lo, hi)`` restricts ranking to neighbors with rounded
    cosine in ``[lo, hi)`` — HARD-NEGATIVE MINING (top-k similar-but-
    not-duplicate rows per query, the standard contrastive-training
    companion to near-dup removal). The filter applies BEFORE the
    top-k, so k band members are returned even when nearer
    near-duplicates exist. In the blas/ivf kernel the mask is widened
    by 1e-6 on each side and the precise rounded-band filter
    re-applies Spark-side, so the k-boundary set matches ``exact``
    bit-for-bit (boundary strays burn candidate slack, never recall).
    """
    q_vec_col = q_vec_col or vec_col
    q_id_col = q_id_col or id_col
    if method not in ("exact", "blas", "lsh", "ivf"):
        raise ValueError(f"knn_join: unknown method {method!r}")
    band = _band(band, "knn_join")
    dim = dim if dim is not None else probe_dim(queries, q_vec_col)

    qs = _vectors(queries, dim, q_id_col, q_vec_col, "qid",
                  v="_qv", n="_nq")
    base = _vectors(_spread(corpus), dim, id_col, vec_col, "nbr_id")
    cos6 = F.round(cosine_with_norms("_v", "_qv", "_nv", "_nq", dim), 6)
    not_self = (F.col("nbr_id") != F.col("qid")) if exclude_self else F.lit(True)

    if method == "exact":
        scored = (base.join(F.broadcast(qs), not_self)
                  .select("qid", "nbr_id", cos6.alias("cos")))
        return _topk(scored, k, band)

    if method == "lsh":
        # Adaptive plane count: the r07 scale sweep caught the fixed
        # p=4 quadratic cliff (79.7× wall for 10× data). One cheap
        # count (parquet metadata-only under column pruning) picks p
        # so expected bucket size stays ≤ target_bucket; callers that
        # know |C| pass corpus_count and skip the job. Deterministic
        # — p is pure integer math on the count, so the SQL oracle
        # regenerates the identical plane set from COUNT(*).
        cc = int(corpus_count) if corpus_count is not None \
            else memo_on_df(corpus, "count", corpus.count)
        p = lsh_planes(cc, n_planes, target_bucket)
        probes = F.array(*[F.lit(x) for x in
                           [0] + [1 << i for i in range(p)]])
        qb = (qs.withColumn("_qb", hyperplane_bucket("_qv", dim, p))
              .withColumn("_probe",
                          F.explode(F.transform(
                              probes, lambda x: x.bitwiseXOR(F.col("_qb")))))
              .drop("_qb"))
        bucketed = base.withColumn(
            "_b", hyperplane_bucket("_v", dim, p))
        # cc <= max_bucket ⇒ NO bucket can exceed the cap (a bucket
        # holds at most the whole corpus) — skip the stats job and
        # the anti-join entirely; provably identical results
        if max_bucket is not None and cc > int(max_bucket):
            # Hot-bucket cap, same contract as dedup._cap_buckets:
            # within a bucket the candidate join is quadratic, and
            # real corpora have pathological piles (exact copies,
            # zero-ish vectors all landing in one sign pattern).
            # Drops are LOGGED, never silent (repo rule): the stats
            # job is one map+partial-agg pass over the corpus —
            # negligible next to the candidate join it bounds.
            hot = (bucketed.groupBy("_b")
                   .agg(F.count(F.lit(1)).alias("_bsz"))
                   .filter(F.col("_bsz") > int(max_bucket)))
            st = hot.agg(F.count(F.lit(1)).alias("nb"),
                         F.sum("_bsz").alias("nr")).first()
            if st["nb"]:
                _LOG.warning(
                    "knn_join(lsh): dropping %d corpus rows in %d "
                    "hot buckets (> max_bucket=%d at p=%d); recall "
                    "on those rows is 0 — raise max_bucket or "
                    "dedup the corpus first",
                    st["nr"], st["nb"], int(max_bucket), p)
                bucketed = bucketed.join(hot.select("_b"),
                                         on="_b", how="left_anti")
        scored = (bucketed
                  .join(F.broadcast(qb),
                        (F.col("_b") == F.col("_probe")) & not_self)
                  .select("qid", "nbr_id", cos6.alias("cos")))
        return _topk(scored, k, band)

    # --- blas / ivf: the shared Arrow kernel ---
    q_ids, Qn = _query_panel(qs, dim, max_queries,
                             f"knn_join(method={method!r})")
    # qid keeps the QUERY side's id type, also when empty (an
    # nbr-typed empty frame broke downstream unions)
    schema = _knn_schema(queries.schema[q_id_col].dataType,
                         corpus.schema[id_col].dataType)
    spark = corpus.sparkSession
    if not q_ids:
        return spark.createDataFrame([], schema)
    cell_of = cell_queries = None
    if method == "ivf":
        # IVF-Flat coarse quantization (FAISS-style) fused into the
        # kernel: each batch bins its rows to the nearest trained
        # centroid (one b×n_cells matmul) and scores each bin only
        # against the queries probing that cell
        cent_rows, _ = train_centroids(corpus, vec_col, id_col,
                                       n_cells, refine_iters,
                                       train_sample)
        if not cent_rows:
            return spark.createDataFrame([], schema)
        cids, Cn = _unit_cells([(r["_cid"], r["_cv"]) for r in cent_rows])
        cell_queries = _probe_cells(Qn, cids, Cn, n_probe)
        cid_arr = np.asarray(cids)

        def cell_of(pdf, Vn):
            return cid_arr[np.argmax(Vn @ Cn.T, axis=1)]
    cands = _knn_candidates(base.select("nbr_id", "_v"), q_ids, Qn, k,
                            batch_slack, exclude_self, band, schema,
                            cell_of, cell_queries)
    return _topk(cands, k, band)


def ivf_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_cells: int = 16, n_probe: int = 4,
             refine_iters: int = 1, train_sample: int = 256) -> DataFrame:
    """IVF-style ANN with a trained coarse quantizer.

    Seeds = the n_cells rows with the smallest md5(id) — a
    deterministic hash-spread sample (not "first N by id", which
    clusters seeds in id-correlated data). ``refine_iters`` Lloyd
    iterations refine them on the bounded TRAINING SAMPLE (the
    ``train_sample`` rows with smallest md5(id)), driver-side in
    numpy — the textbook IVF recipe: k-means on a sample, one
    distributed full-corpus assignment against broadcast centroids.
    Cells that lose all sample members drop out. Probing: the
    n_probe refined cells nearest the query.

    Every step is deterministic (assignment ties → smallest cid,
    matching the oracle's ROW_NUMBER ORDER BY cos DESC, cid ASC) and
    the DuckDB oracle recomputes the full pipeline. Caveat stated
    honestly: numpy's matmul/mean use a different FP summation order
    than the oracle's list_dot_product/AVG, so a sample vector whose
    two nearest seeds tie within ~1 ulp could be assigned differently
    — the divergence risk is confined to such near-exact ties
    (observed: none; the oracle hash-matches)."""
    dim = len(query_vec)
    cent_rows, cents_lit = train_centroids(
        df, vec_col, id_col, n_cells, refine_iters, train_sample)
    rows = (_spread(df).select(F.col(id_col),
                               _as_double(F.col(vec_col)).alias("_v"))
            .withColumn("_nv", norm_expr("_v", dim)))
    if not cent_rows:  # no trainable vectors → no neighbors
        return rows.select(F.col(id_col),
                           F.lit(0.0).alias("cos")).limit(0)

    probe = _nearest_cells([(r["_cid"], r["_cv"]) for r in cent_rows],
                           query_vec, n_probe)
    # query cosine computes MAP-SIDE in the scan stage (codegen'd
    # unrolled dot over all 32 input splits); the probed-cell
    # assignment joins narrow (id, cos) ⋈ (id) — the embedding array
    # never crosses a shuffle (see _argmin_assign's r08 note)
    probed = (_argmin_assign(rows, cents_lit, id_col, dim)
              .filter(F.col("_cid").isin(probe)).drop("_cid"))
    scored = rows.select(
        F.col(id_col),
        F.round(cosine_to_query_expr("_v", query_vec), 6).alias("cos"))
    return (scored.join(probed, on=id_col)
            .orderBy(F.col("cos").desc(), F.col(id_col).asc())
            .limit(k))


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Symmetric int8 scalar quantization audit — the compression
    every large vector store applies before serving (FAISS SQ8,
    Milvus/pgvector int8): per vector, step size
    ``scale = max|x| / 127`` and codes ``q_i = round(x_i / scale)``
    (|q| ≤ 127 by construction, so symmetric max-abs scaling never
    clips). Returns per-vector reconstruction quality:

    ``(id, scale, mse, cos_q)`` — ``scale`` round-6, ``mse`` =
    mean squared reconstruction error round-9 (int8 quantization
    noise is ~(scale²/12) ≈ 1e-5 on unit-scale data, so round-6
    would erase it), ``cos_q`` = cosine(original, dequantized)
    round-6 (the number that predicts retrieval-quality loss).
    Zero/empty vectors are excluded (their quantization is
    undefined), like every cosine operator in this module.

    Scale shape: map-only — four narrow HOF projections per row
    (each HOF stage materializes as its own column so lambdas never
    re-evaluate upstream expressions, the MinHash lesson), no
    shuffle, no UDF, whole plan stays in one scan stage. At 100 TB
    this runs at I/O speed.

    Deterministic and DuckDB-oracle-reproducible: ``F.round`` and
    DuckDB ``round`` both round half away from zero, and every
    per-element op is identical IEEE double arithmetic; the two
    fold-order-sensitive sums (mse, cosine) are rounded far above
    ulp noise."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    df = _spread(df)  # HOF projections on
    # a 1-row-group local scan otherwise run on 1 core (r11, §6)
    base = (df.select(F.col(id_col), v.alias("_v"))
            .filter(F.size("_v") > 0)
            .withColumn("_amax",
                        F.array_max(F.transform("_v", F.abs)))
            .filter(F.col("_amax") > 0)
            .withColumn("_scale", F.col("_amax") / F.lit(127.0)))
    sc = F.col("_scale")
    qd = base.withColumn(
        "_dq", F.transform("_v", lambda x: F.round(x / sc, 0) * sc))
    dot = F.aggregate(
        F.zip_with("_v", "_dq", lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)
    nsq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0),
        lambda acc, x: acc + x)
    err2 = F.aggregate(
        F.zip_with("_v", "_dq", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    return qd.select(
        F.col(id_col),
        F.round(sc, 6).alias("scale"),
        F.round(err2 / F.size("_v"), 9).alias("mse"),
        F.round(dot / F.sqrt(nsq("_v") * nsq("_dq")), 6)
        .alias("cos_q"))


def _write_cells(df: DataFrame, path: str, mode: str, cents_lit,
                 centroids: list[dict], dim: int, id_col: str,
                 vec_col: str) -> None:
    """Assign ``df``'s vectors to their nearest centroid of
    ``cents_lit`` (:func:`_argmin_assign`), write (id, vec) into the
    ``_cid=`` hive cell partitions under ``path`` with parquet write
    ``mode``, then rewrite the sidecar."""
    rows = _vectors(df, dim, id_col, vec_col, keep=(F.col(vec_col),))
    assign = _argmin_assign(rows, cents_lit, id_col, dim)
    (rows.select(id_col, vec_col).join(assign, on=id_col)
     .write.mode(mode).partitionBy("_cid").parquet(path))
    _write_sidecar(path, dim, centroids, id_col, vec_col)


def _write_sidecar(path: str, dim: int, centroids: list[dict],
                   id_col: str, vec_col: str) -> None:
    """(Re)write an IVF index's ``_ivf_centroids.json``: the centroids
    plus the corpus fingerprint (r09) — row count and cell set of the
    files now under ``path``, from parquet FOOTERS only — so a query
    refuses a stale/foreign index instead of silently serving it."""
    n_rows, cids = footer_fingerprint(path, "_cid")
    with open(f"{path}/_ivf_centroids.json", "w") as fh:
        json.dump({"dim": dim, "centroids": centroids,
                   "n_rows": n_rows, "cells": sorted(cids),
                   "id_col": id_col, "vec_col": vec_col}, fh)


def ivf_read_index(spark, path: str,
                   verify: bool = True) -> tuple[dict, DataFrame]:
    """(meta, index) of a persisted IVF index (:func:`ivf_write_index`):
    the centroid sidecar and the cell-partitioned corpus, with
    ``_cid`` read as the index's own id type — hive partition
    inference would read a ``_cid=007`` string cell back as the
    integer 7, which no sidecar cid matches.

    ``verify`` runs the r09 staleness guard first: build-once/
    query-many must not silently serve an index whose data files were
    replaced or partially rewritten after the sidecar was written.
    Footer metadata only — no data read, so the check is cheap even
    on a big index; pass ``verify=False`` on a hot path that has
    already checked once this session."""
    with open(f"{path}/_ivf_centroids.json") as fh:
        meta = json.load(fh)
    if verify and meta.get("n_rows") is not None:
        n_rows, cids = footer_fingerprint(path, "_cid")
        if n_rows is not None:
            want_cells = set(str(c) for c in meta.get("cells", []))
            if n_rows != int(meta["n_rows"]) or \
                    (want_cells and not cids <= want_cells):
                raise ValueError(
                    f"stale index at {path}: data files hold "
                    f"{n_rows} rows in cells {sorted(cids)} but the "
                    f"centroid sidecar was written for "
                    f"{meta['n_rows']} rows in cells "
                    f"{sorted(want_cells)} — rebuild with "
                    f"ivf_write_index")
    inferred = cached_parquet(spark, path)

    def read():
        id_type = inferred.schema[meta["id_col"]].dataType
        return spark.read.schema(T.StructType([
            T.StructField(f.name, id_type, f.nullable) if f.name == "_cid"
            else f for f in inferred.schema])).parquet(path)
    # memoized on the handle: a changed file set is a new handle
    return meta, memo_on_df(inferred, "ivf_index", read)


def ivf_write_index(df: DataFrame, path: str,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    n_cells: int = 16, refine_iters: int = 1,
                    train_sample: int = 256,
                    dim: int | None = None) -> list[dict]:
    """Persist an IVF index: train the coarse quantizer once
    (:func:`train_centroids` — bounded driver sample), assign every
    vector to its nearest cell, and write the corpus as parquet
    PARTITIONED BY the cell id, with the centroids in a JSON
    sidecar. Returns the centroid rows.

    The point vs the fused ``knn_join(method='ivf')``: a REPEATED
    query workload re-trains and re-scans everything per call; the
    persisted layout turns cell probing into parquet PARTITION
    PRUNING — a query reads only ``n_probe/n_cells`` of the bytes
    (plan-asserted in pytest via ``PartitionFilters``), which at
    100 TB is the difference between a full scan and a few percent.
    Standard FAISS-on-disk / Milvus segment layout re-expressed as a
    plain partitioned table any engine can read."""
    dim = dim or probe_dim(df, vec_col)
    cent_rows, cents_lit = train_centroids(
        df, vec_col, id_col, n_cells, refine_iters, train_sample)
    if cents_lit is None:
        raise ValueError("ivf_write_index: no trainable vectors")
    cents = [{"cid": r["_cid"], "vec": r["_cv"]} for r in cent_rows]
    _write_cells(df, path, "overwrite", cents_lit, cents, dim, id_col,
                 vec_col)
    return cents


def ivf_append_index(df: DataFrame, path: str) -> None:
    """ADD new vectors to a persisted IVF index
    (:func:`ivf_write_index`) — FAISS ``add()`` semantics: the coarse
    quantizer stays FROZEN (centroids from the sidecar), each new
    vector is assigned to its nearest existing cell with the same
    argmax-cosine/ties→smallest-cid rule as the build
    (:func:`_argmin_assign` on a centroid literal), and the rows
    append into the hive cell partitions — batch-sized work, no
    retraining, no corpus rescan. The sidecar's row-count/cell
    fingerprints refresh so the staleness guard accepts the grown
    index. Queries (:func:`ivf_query_index`,
    :func:`knn_join_ivf_index`) serve the union immediately: exact
    cosine top-k inside the probed cells of corpus ∪ appended
    (pinned by pytest against brute force over the probed cells).
    Standard ANN-index caveat applies: the quantizer was trained on
    the ORIGINAL corpus, so heavy distribution drift degrades recall
    (cells stop matching the data) — rebuild with
    :func:`ivf_write_index` periodically; the index records no drift
    statistic itself."""
    meta, index = ivf_read_index(df.sparkSession, path)
    id_col = meta["id_col"]
    # the centroid cids keep the INDEX's id type so the appended rows
    # land in the same hive partition directories
    cents_lit = _centroid_frame(
        df.sparkSession, [(c["cid"], c["vec"]) for c in meta["centroids"]],
        index.schema[id_col].dataType)
    _write_cells(df, path, "append", cents_lit, meta["centroids"],
                 int(meta["dim"]), id_col, meta["vec_col"])


def ivf_compact_index(spark, path: str) -> None:
    """Compact a persisted IVF index's cell partitions
    (:func:`ivf_write_index`): each :func:`ivf_append_index` adds a
    task's worth of files per touched cell, and a steady append
    cadence fragments the hive layout into small files that blunt
    the partition-pruned reads. Rewrites the corpus with ONE file per
    cell directory (each cell hashes to one task), swaps the cell
    directories in, and refreshes the sidecar fingerprints — rows
    and centroids identical (query equality pinned by pytest)."""
    meta, index = ivf_read_index(spark, path)
    tmp = f"{path}_compact"
    (index.repartition(max(1, len(meta["centroids"])), "_cid")
     .write.mode("overwrite").partitionBy("_cid").parquet(tmp))
    for d in list(os.listdir(path)):
        if d.startswith("_cid="):
            shutil.rmtree(os.path.join(path, d))
    for d in list(os.listdir(tmp)):
        if d.startswith("_cid="):
            os.rename(os.path.join(tmp, d), os.path.join(path, d))
    shutil.rmtree(tmp)
    _write_sidecar(path, meta["dim"], meta["centroids"], meta["id_col"],
                   meta["vec_col"])


def ivf_query_index(spark, path: str, query_vec: list[float],
                    k: int = 10, n_probe: int = 4,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    verify: bool = True) -> DataFrame:
    """Query a persisted IVF index (:func:`ivf_write_index`): pick
    the ``n_probe`` centroids nearest the query driver-side (a few
    dot products on the JSON sidecar), then scan ONLY those cells'
    partitions — the `.filter(_cid isin probes)` lands in the
    parquet source as a partition filter, so unprobed cells are
    never read — and rank the exact cosine top-k inside them.
    Returns (id, cos), round-6, ties → ascending id, identical to
    :func:`ivf_topk` at the same training parameters (pinned by
    pytest)."""
    meta, index = ivf_read_index(spark, path, verify)
    dim = int(meta["dim"])
    if len(query_vec) != dim:
        raise ValueError(
            f"ivf_query_index: query dim {len(query_vec)} != index "
            f"dim {dim} ({path})")
    probes = _nearest_cells([(c["cid"], c["vec"])
                             for c in meta["centroids"]],
                            query_vec, n_probe)
    part = index.filter(F.col("_cid").isin(probes))
    # cosine_to_query_expr needs a named double-array column
    scored = (part
              .withColumn("_pv", _as_double(F.col(vec_col)))
              .select(F.col(id_col),
                      F.round(cosine_to_query_expr("_pv", query_vec),
                              6).alias("cos")))
    return (scored.orderBy(F.col("cos").desc(), F.col(id_col).asc())
            .limit(int(k)))


def knn_join_ivf_index(spark, path: str, queries: DataFrame,
                       k: int = 5, n_probe: int = 4,
                       q_vec_col: str = "embedding",
                       q_id_col: str = "vec_id",
                       exclude_self: bool = True,
                       max_queries: int = 65536,
                       batch_slack: int | None = None,
                       band: tuple[float, float] | None = None,
                       verify: bool = True,
                       return_vecs: bool = False) -> DataFrame:
    """Batch kNN join against a PERSISTED IVF index
    (:func:`ivf_write_index`) — the query-many composition path
    (r10): where the fused ``knn_join(method='ivf')`` re-trains the
    quantizer and re-scans the whole corpus per call, this probes
    each query's ``n_probe`` nearest cells driver-side (a nq×n_cells
    matmul on the JSON sidecar) and scans ONLY the union of probed
    partitions — the ``_cid isin`` filter lands in the parquet
    source as a partition filter, so at 100 TB a query panel that
    probes 4/16 cells reads ~25% of the bytes instead of 100%, and
    the same Arrow kernel (:func:`_knn_candidates`) then matmuls
    each cell's rows against just the queries probing it, binned by
    the stored ``_cid`` instead of a per-batch argmax.

    Semantics match ``knn_join(method='ivf')`` built with the SAME
    training parameters on the SAME corpus exactly (pinned by
    pytest): identical deterministic centroids (md5-spread sample),
    identical cell assignment (argmax cosine, ties → smallest cid —
    the persisted hive layout just materializes it), identical
    kernel math and Spark-side round-6. ``band=(lo, hi)`` gives
    index-served HARD-NEGATIVE MINING with the same widened-mask /
    precise-refilter contract as the fused kernel. With
    ``return_vecs`` the output carries each neighbor's double-cast
    vector as ``_v`` for downstream rerankers (MMR). The kernel's
    candidate stream stays NARROW (qid, nbr_id, cos): per-batch
    slack means ~(3k+8) candidates per query PER ARROW BATCH, and
    carrying a dim-double array on each was a measured ~45 GB Arrow
    shuffle at sf100 (2M vectors) that OOM-killed every worker —
    instead the bounded winner set (|Q|·k rows) broadcast-joins back
    into the same partition-pruned, column-pruned index read to
    attach vectors AFTER the top-k.
    """
    meta, index = ivf_read_index(spark, path, verify)
    dim = int(meta["dim"])
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    band = _band(band, "knn_join_ivf_index")
    qs = _vectors(queries, dim, q_id_col, q_vec_col, "qid",
                  v="_qv", n="_nq")
    q_ids, Qn = _query_panel(qs, dim, max_queries, "knn_join_ivf_index")
    schema = _knn_schema(queries.schema[q_id_col].dataType,
                         index.schema[id_col].dataType)
    if not q_ids:
        vec_field = [T.StructField("_v", T.ArrayType(T.DoubleType()))]
        return spark.createDataFrame([], T.StructType(
            schema.fields + (vec_field if return_vecs else [])))
    cell_queries = _probe_cells(
        Qn, *_unit_cells([(c["cid"], c["vec"])
                          for c in meta["centroids"]]), n_probe)
    # partition-pruned read: only probed cells' files are opened
    part = index.filter(F.col("_cid").isin(sorted(cell_queries)))
    base = _vectors(part, dim, id_col, vec_col, "nbr_id",
                    keep=(F.col("_cid"),)).select("nbr_id", "_v", "_cid")
    top = _topk(_knn_candidates(base, q_ids, Qn, k, batch_slack,
                                exclude_self, band, schema,
                                lambda pdf, Vn: pdf["_cid"].to_numpy(),
                                cell_queries), k, band)
    if not return_vecs:
        return top
    # attach neighbor vectors AFTER the top-k: the winner set is
    # bounded (|Q|·k rows, narrow) — broadcast it into the SAME
    # partition-pruned, column-pruned index read instead of carrying
    # a dim-double array on every per-batch candidate through the
    # window shuffle
    vecs = (part.select(F.col(id_col).alias("nbr_id"),
                        _as_double(F.col(vec_col)).alias("_v"))
            .filter(F.size(F.col("_v")) >= dim))
    return (vecs.join(F.broadcast(top), on="nbr_id")
            .select("qid", "nbr_id", "cos", "_v"))
