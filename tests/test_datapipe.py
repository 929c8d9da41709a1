"""Training-data pipeline operators: dedup, similarity, text analysis,
multimodal plumbing — verified against brute-force references."""

import math

import pytest
from pyspark.sql import functions as F

from piglet_spark.datapipe import dedup, multimodal, similarity, text, util


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "The Quick Brown Fox Jumps Over The Lazy Dog"),  # = 0 normalized
        (3, "completely different content about spark engines"),
        (4, "spark engines about completely different content"),  # permutation of 3
        (5, "der schnelle braune fuchs und die faule katze und der hund"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs).collect()
    kept = sorted(r["keep_id"] for r in out)
    assert kept == [0, 1, 3, 4, 5]  # 2 collapses into 0
    copies = {r["keep_id"]: r["n_copies"] for r in out}
    assert copies[0] == 2


def brute_jaccard(a, b, k=3):
    def sh(t):
        toks = t.lower().split()
        return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B) if A | B else 0.0


def test_minhash_lsh_finds_neardups(docs, spark):
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.3, num_hashes=32,
                                    bands=16)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    # (0,1) share most shingles; (0,2) identical after normalization
    assert (0, 2) in got and got[(0, 2)] == 1.0
    assert (0, 1) in got
    # verified jaccard must equal brute force
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for (a, b), j in got.items():
        assert abs(j - brute_jaccard(texts[a], texts[b])) < 1e-6


def test_ngram_jaccard_exact(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.2)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.toLocalIterator()}
    # exact algorithm: must find every pair above threshold
    expected = {}
    ids = sorted(texts)
    for i in ids:
        for j in ids:
            if i < j:
                jac = brute_jaccard(texts[i], texts[j])
                if jac >= 0.2:
                    expected[(i, j)] = round(jac, 6)
    assert got == expected


def test_simhash_identical_and_near(docs):
    df = dedup.simhash(docs)
    h = {r["doc_id"]: r["simhash"] for r in df.collect()}
    assert h[0] == h[2]  # normalization-identical
    # 4 and 3 are permutations of the same token multiset → same simhash
    assert h[3] == h[4]
    pairs = dedup.simhash_pairs(docs, max_hamming=12)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 2) in got and (3, 4) in got


def test_embedding_neardup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # brute threshold check via the cosine() column itself
    pairs = dedup.embedding_neardup_pairs(df, threshold=0.95, n_planes=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got
    assert all(a != 3 and b != 3 for a, b in got)


def test_contamination_scores_brute_force(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the dog")],
        ["doc_id", "text"])
    docs = spark.createDataFrame([
        (0, "the quick brown fox runs fast today ok"),  # partial overlap
        (1, "completely different words here entirely now"),
        (2, "tiny"),                                    # no shingles
    ], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           dedup.contamination_scores(docs, bench, k=3).collect()}

    def sh(t, k=3):
        toks = t.split()
        return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
    bset = sh("the quick brown fox jumps over the dog")
    for did, text in [(0, "the quick brown fox runs fast today ok"),
                      (1, "completely different words here entirely now"),
                      (2, "tiny")]:
        s = sh(text)
        hits = len(s & bset)
        assert got[did]["n_shingles"] == len(s)
        assert got[did]["n_contaminated"] == hits
        expected = round(hits / len(s), 6) if s else 0.0
        assert abs(got[did]["contamination"] - expected) < 1e-9
    assert got[0]["n_contaminated"] == 2  # 'the quick brown','quick brown fox'


def test_cosine_topk_ragged_vectors_dont_crash(spark):
    """A row whose vector is shorter than the probed dim must degrade
    to a null cosine (try_element_at), not throw INVALID_ARRAY_INDEX
    under ANSI mode — the guarantee the zip_with formulation gave."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.5, 0.5, 0.0]), (2, [1.0])],
        ["vec_id", "embedding"])
    got = similarity.cosine_topk(emb, [1.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in got[:2]] == [0, 1]
    assert got[2]["cos"] is None  # short vector sorts last, not a crash


def test_cosine_topk_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == 0).collect()[0]
    q = [float(x) for x in qrow["embedding"]]
    got = similarity.cosine_topk(emb, q, k=5).collect()
    assert got[0]["vec_id"] == 0 and abs(got[0]["cos"] - 1.0) < 1e-6
    # brute force in python
    rows = emb.collect()
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)
    brute = sorted(((round(cos([float(x) for x in r["embedding"]], q), 6),
                     -r["vec_id"]) for r in rows), reverse=True)[:5]
    assert [r["vec_id"] for r in got] == [-i for _, i in brute]


def test_ann_lsh_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == 0).collect()[0]
    q = [float(x) for x in qrow["embedding"]]
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, q, 10).collect()]
    approx = [r["vec_id"] for r in similarity.ann_lsh_topk(emb, q, 10).collect()]
    # multi-probe LSH should keep decent recall on the true top-10
    assert len(set(exact) & set(approx)) >= 5
    assert approx[0] == 0


def test_ann_recall_panel(spark, sf_dir):
    """r06 (VERDICT item 5): mean recall@10 over a hash-spread
    10-query panel — pins the sf0.01 numbers recorded in SCALE.md
    (lsh4 0.54, ivf-default 0.82) so a parameter or hashing
    regression fails CI. Everything is deterministic (md5 panel,
    seeded hyperplanes, md5-seeded IVF training), so the thresholds
    sit just under the measured values."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .localCheckpoint()
    qids = [r["vec_id"] for r in
            emb.select("vec_id")
               .orderBy(F.md5(F.col("vec_id").cast("string")))
               .limit(10).collect()]
    qvecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id").isin(qids)).collect()}
    r_lsh, r_ivf = [], []
    for qid in qids:
        q = qvecs[qid]
        exact = {r["vec_id"]
                 for r in similarity.cosine_topk(emb, q, 10).collect()}
        lsh = {r["vec_id"]
               for r in similarity.ann_lsh_topk(emb, q, 10).collect()}
        ivf = {r["vec_id"]
               for r in similarity.ivf_topk(emb, q, k=10).collect()}
        r_lsh.append(len(exact & lsh) / 10)
        r_ivf.append(len(exact & ivf) / 10)
    assert sum(r_lsh) / len(r_lsh) >= 0.50
    assert sum(r_ivf) / len(r_ivf) >= 0.78


def test_ivf_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == 0).collect()[0]
    q = [float(x) for x in qrow["embedding"]]
    got = similarity.ivf_topk(emb, q, k=5).collect()
    assert len(got) == 5
    assert all(-1.0 <= r["cos"] <= 1.0 for r in got)


def _knn_brute(rows, q_rows, k, exclude_self=True):
    """Reference kNN join in plain Python: round(cos,6) desc, id asc."""
    out = []
    for qr in q_rows:
        qv = [float(x) for x in qr["embedding"]]
        scored = []
        for r in rows:
            if exclude_self and r["vec_id"] == qr["vec_id"]:
                continue
            v = [float(x) for x in r["embedding"]]
            d = sum(x * y for x, y in zip(v, qv))
            na = math.sqrt(sum(x * x for x in v))
            nb = math.sqrt(sum(x * x for x in qv))
            scored.append((-(round(d / (na * nb), 6)), r["vec_id"]))
        for negc, nid in sorted(scored)[:k]:
            out.append((qr["vec_id"], nid, -negc))
    return sorted(out)


def test_knn_join_exact_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    got = sorted((r["qid"], r["nbr_id"], r["cos"]) for r in
                 similarity.knn_join(emb, qs, k=5, method="exact").collect())
    assert got == _knn_brute(emb.collect(), qs.collect(), k=5)


@pytest.fixture(scope="module")
def knn_index(spark, sf_dir, tmp_path_factory):
    """The embeddings and an 8-cell persisted IVF index over them."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path_factory.mktemp("knn") / "ivf")
    similarity.ivf_write_index(emb, path, n_cells=8)
    return emb, path


def _knn(regime, emb, qs, path, band=None):
    if regime == "index":
        return similarity.knn_join_ivf_index(
            emb.sparkSession, path, qs, k=5, n_probe=3, band=band)
    return similarity.knn_join(emb, qs, k=5, method=regime, n_cells=8,
                               n_probe=3, band=band)


@pytest.mark.parametrize("regime",
                         ["exact", "blas", "lsh", "ivf", "index"])
def test_knn_regimes_schema_and_values(knn_index, regime):
    """Every kNN regime returns the same schema — dtypes AND
    nullability — on a non-empty and on an empty query panel, and
    the regimes declared equal return identical rows with and
    without a band: the BLAS kernel == the oracle-exact path, the
    index-served join == the fused ivf kernel."""
    emb, path = knn_index
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    want = [("qid", "bigint", True), ("nbr_id", "bigint", True),
            ("cos", "double", True)]
    for panel in (qs, qs.filter(F.col("vec_id") < 0)):
        got = _knn(regime, emb, panel, path).schema
        assert [(f.name, f.dataType.simpleString(), f.nullable)
                for f in got] == want
    twin = {"blas": "exact", "index": "ivf"}.get(regime)
    for band in ((None, (0.15, 0.30)) if twin else ()):
        rows = lambda r: sorted(tuple(x) for x in  # noqa: E731
                                _knn(r, emb, qs, path, band).collect())
        got = rows(regime)
        assert got and got == rows(twin)


def test_knn_join_blas_query_blocks(spark, sf_dir, monkeypatch):
    """Query-block chunking (the memory bound for huge query panels)
    must be exact: a tiny block size forcing many blocks gives the
    same result as one block."""
    monkeypatch.setattr(similarity, "_BLAS_QBLOCK", 7)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 25 == 0)  # 20 queries → 3 blocks
    key = lambda r: (r["qid"], r["nbr_id"], r["cos"])
    blocked = sorted(map(key, similarity.knn_join(
        emb, qs, k=4, method="blas").collect()))
    monkeypatch.setattr(similarity, "_BLAS_QBLOCK", 2048)
    whole = sorted(map(key, similarity.knn_join(
        emb, qs, k=4, method="blas").collect()))
    assert blocked == whole and len(blocked) == 20 * 4


def test_knn_join_lsh_subset_and_recall(spark, sf_dir):
    """LSH candidates are a subset of the corpus pairs the bucket
    filter admits; every returned neighbor's score must equal the
    exact score, and panel recall stays useful."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    exact = similarity.knn_join(emb, qs, k=5, method="exact").collect()
    lsh = similarity.knn_join(emb, qs, k=5, method="lsh").collect()
    ex_scores = {(r["qid"], r["nbr_id"]): r["cos"] for r in exact}
    ex_pairs = set(ex_scores)
    all_scores = {(r["qid"], r["nbr_id"]): r["cos"] for r in
                  similarity.knn_join(emb, qs, k=10 ** 6,
                                      method="exact").collect()}
    hit = 0
    for r in lsh:
        assert all_scores[(r["qid"], r["nbr_id"])] == r["cos"]
        hit += (r["qid"], r["nbr_id"]) in ex_pairs
    assert hit / len(ex_pairs) >= 0.4  # 4-plane hamming≤1 on random 64-d


def test_lsh_planes_formula():
    """Adaptive plane count: integer ceil(log2(count/target)),
    floored at n_planes, capped at max_planes — and CRUCIALLY equal
    to n_planes at both oracle gate scales (sf0.01: 500 rows,
    sf0.1: 2000 rows) so the driver's fixed-plane history stays
    valid."""
    lp = similarity.lsh_planes
    assert lp(500) == 4 and lp(2000) == 4      # oracle scales: p=4
    assert lp(20000) == 8                       # sf1 scale-up
    assert lp(200000) == 11                     # sf10 scale-up
    assert lp(128) == 4 and lp(129) == 4 and lp(1) == 4
    assert lp(128 * 1024) == 10                 # exact power boundary
    assert lp(128 * 1024 + 1) == 11
    assert lp(10 ** 12) == 20                   # max_planes cap
    assert lp(500, n_planes=6) == 6             # floor respected
    assert lp(500, target_bucket=16) == 5       # 500/32 ≤ 16


def test_knn_join_lsh_adaptive_and_hint(spark, sf_dir):
    """corpus_count hint must be equivalent to the measured count
    (skipping the count job), and a hint that raises p still returns
    only exact-scored subset results, deterministically."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    cc = emb.count()
    key = lambda r: (r["qid"], r["nbr_id"], r["cos"])
    measured = sorted(map(key, similarity.knn_join(
        emb, qs, k=5, method="lsh").collect()))
    hinted = sorted(map(key, similarity.knn_join(
        emb, qs, k=5, method="lsh", corpus_count=cc).collect()))
    assert measured == hinted
    # force adaptivity: pretend the corpus is 100× bigger → p rises
    # (lsh_planes(50000)=9); results stay an exact-scored subset and
    # are deterministic run-to-run
    all_scores = {(r["qid"], r["nbr_id"]): r["cos"] for r in
                  similarity.knn_join(emb, qs, k=10 ** 6,
                                      method="exact").collect()}
    r1 = sorted(map(key, similarity.knn_join(
        emb, qs, k=5, method="lsh", corpus_count=cc * 100).collect()))
    r2 = sorted(map(key, similarity.knn_join(
        emb, qs, k=5, method="lsh", corpus_count=cc * 100).collect()))
    assert r1 == r2
    assert r1 != measured  # more planes genuinely changed buckets
    for qid, nbr, cos in r1:
        assert all_scores[(qid, nbr)] == cos


def test_knn_join_lsh_hot_bucket_cap(spark, caplog):
    """Corpus buckets above max_bucket are dropped WITH a logged
    warning (no silent caps); max_bucket=None keeps them."""
    import logging as _logging
    # 40 copies of [1,0] pile into one sign bucket; [0.9,-0.4] and
    # [-1,0.05] land elsewhere
    rows = [(i, [1.0, 0.0]) for i in range(40)]
    rows += [(100, [0.9, -0.4]), (101, [-1.0, 0.05])]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    qs = spark.createDataFrame([(500, [1.0, 0.05])],
                               "vec_id int, embedding array<double>")
    with caplog.at_level(_logging.WARNING,
                         logger="piglet_spark.datapipe.similarity"):
        capped = similarity.knn_join(emb, qs, k=3, method="lsh",
                                     n_planes=2, max_bucket=10).collect()
    assert any("hot buckets" in r.message for r in caplog.records)
    assert all(r["nbr_id"] >= 100 for r in capped)  # pile dropped
    uncapped = similarity.knn_join(emb, qs, k=3, method="lsh",
                                   n_planes=2, max_bucket=None).collect()
    assert any(r["nbr_id"] < 40 for r in uncapped)


def test_knn_join_self_and_ragged(spark):
    """exclude_self=False returns the query itself at cos 1.0;
    null/short/zero vectors drop from both sides instead of crashing
    or emitting undefined cosines."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
         (3, [1.0]), (4, None), (5, [0.0, 0.0])],
        "vec_id int, embedding array<double>")
    qs = emb.filter(F.col("vec_id").isin(0, 3, 5))
    with_self = similarity.knn_join(emb, qs, k=2, method="exact",
                                    exclude_self=False).collect()
    by_q = {}
    for r in with_self:
        by_q.setdefault(r["qid"], []).append(r)
    assert set(by_q) == {0}  # short/zero-norm queries dropped
    assert by_q[0][0]["nbr_id"] == 0 and by_q[0][0]["cos"] == 1.0
    no_self = similarity.knn_join(emb, qs, k=2, method="exact").collect()
    assert all(r["nbr_id"] != r["qid"] for r in no_self)
    assert {r["nbr_id"] for r in no_self} <= {0, 1, 2}


def test_knn_join_blas_guards(spark):
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match="max_queries"):
        similarity.knn_join(emb, emb, k=1, method="blas", max_queries=3)
    empty = similarity.knn_join(
        emb, emb.filter("vec_id < 0"), k=1, method="blas").collect()
    assert empty == []
    with pytest.raises(ValueError, match="unknown method"):
        similarity.knn_join(emb, emb, method="cuda")


def test_knn_join_via_stream_through(spark, sf_dir):
    """The registry entry (`STREAM E THROUGH knn_join(...)`) must
    produce the same rows as the direct call."""
    from piglet_spark.engine import PigEngine
    eng = PigEngine(spark)
    eng.run(f"""
E = LOAD '{sf_dir}/embeddings.parquet' USING ParquetStorage();
K = STREAM E THROUGH knn_join(100, 5);
""")
    out = eng.df("K").collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    direct = similarity.knn_join(emb, qs, k=5, method="exact").collect()
    key = lambda r: (r["qid"], r["nbr_id"], r["cos"])
    assert sorted(map(key, out)) == sorted(map(key, direct))


def test_doc_stats(docs):
    out = {r["doc_id"]: r for r in text.doc_stats(docs).collect()}
    assert out[0]["n_tokens"] == 9
    assert out[0]["n_chars"] == len("the quick brown fox jumps over the lazy dog")
    assert 0.0 <= out[0]["quality"] <= 1.0
    assert out[0]["fp"] == out[2]["fp"]  # normalization-identical
    assert out[0]["lang_pred"] == "en"
    assert out[5]["lang_pred"] == "de"


def test_bpe_token_count(spark):
    df = spark.createDataFrame([(0, "hello, world! it's 42")], ["id", "t"])
    n = df.select(text.bpe_token_count(F.col("t")).alias("n")).collect()[0]["n"]
    # hello , world ! it ' s 42
    assert n == 8


def test_multimodal_image_plumbing(docs):
    with_bin = multimodal.attach_binary_payload(docs)
    assert dict(with_bin.dtypes)["payload"] == "binary"
    feats = multimodal.decode_images(with_bin, deterministic_fake=True)
    rows = feats.collect()
    assert len(rows) == 6
    assert all(len(r["embedding"]) == 8 for r in rows)
    assert all(64 <= r["width"] < 256 for r in rows)
    # determinism: same payload → same features
    again = {r["doc_id"]: r["embedding"]
             for r in multimodal.decode_images(
                 with_bin, deterministic_fake=True).collect()}
    first = {r["doc_id"]: r["embedding"] for r in rows}
    assert again == first


def test_multimodal_unrecognized_payload_raises(docs):
    """r02: real stdlib codecs decode PNG/BMP/PPM/JPEG-dims; payloads
    in none of those formats (here: utf-8 text) still raise — at
    execution, inside the task — unless deterministic_fake=True."""
    with_bin = multimodal.attach_binary_payload(docs)
    with pytest.raises(Exception, match="deterministic_fake"):
        multimodal.decode_images(with_bin).collect()


def test_audio_frame_sampling(docs):
    with_bin = multimodal.attach_binary_payload(docs)
    frames = multimodal.sample_audio_frames(with_bin, n_frames=4,
                                            deterministic_fake=True)
    assert frames.count() == 6 * 4
    assert frames.groupBy("doc_id").count().distinct().collect()[0]["count"] == 4


def test_spread_skips_wide_plans(spark, monkeypatch):
    """Review regression: spread() must not probe (and thereby
    execute, under AQE) plans that already contain a shuffle — it
    returns them unchanged, also with the size gate off."""
    from piglet_spark.datapipe.util import spread
    monkeypatch.setattr(util, "SPREAD_MIN_BYTES", 0)
    df = spark.createDataFrame([(1, "a")], ["id", "t"])
    wide = df.groupBy("t").count()
    assert spread(wide) is wide
    joined = df.join(df.withColumnRenamed("t", "u"), on="id")
    assert spread(joined) is joined


def test_embedding_neardup_infers_dim(spark):
    """Review regression: non-64-dim embeddings must still bucket
    (dim inferred from data, not hardcoded)."""
    rows_ = [(0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
             (1, [0.99, 0.01, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
             (2, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0])]
    df = spark.createDataFrame(rows_, ["vec_id", "embedding"])
    got = {(r["id_a"], r["id_b"])
           for r in dedup.embedding_neardup_pairs(
               df, threshold=0.9, n_planes=2).collect()}
    assert (0, 1) in got


def test_neardup_clusters_union_find(spark):
    """Connected components must match a Python union-find over the
    same edge set, including chained (transitive) near-dups and
    singleton docs that appear in no pair."""
    rows = [(i, t) for i, t in enumerate([
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota",  # ~0 (1 tok, J=.71)
        "mu beta gamma delta epsilon zeta eta iota",     # ~1 (1 tok, J=.71)
        "totally unrelated text about query engines here",
        "totally unrelated text about query engines there",  # ~ 3
        "a lone singleton document with no duplicates at all",
    ])]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.3, num_hashes=32,
                                    bands=16)
    edges = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    # brute-force union-find over the identical edge set
    parent = list(range(len(rows)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    want = {i: min(j for j in range(len(rows)) if find(j) == find(i))
            for i in range(len(rows))}

    out = dedup.neardup_clusters(docs, pairs=pairs)
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in out.collect()}
    assert len(got) == len(rows)
    for i in range(len(rows)):
        assert got[i] == (want[i], i == want[i])
    # the chain 0-1-2 must land in ONE cluster even if (0,2) is no pair
    assert got[0][0] == got[1][0] == got[2][0]
    assert got[5] == (5, True)  # singleton


def test_neardup_clusters_long_chain(spark, monkeypatch):
    """Pointer jumping: a 40-link chain (diameter 40) converges well
    inside the default round cap, in one cluster; an absurdly low cap
    raises instead of silently splitting the component."""
    n = 40
    docs = spark.createDataFrame([(i, "t") for i in range(n)],
                                 ["doc_id", "text"])
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  ["id_a", "id_b"])
    # both regimes (r03: driver union-find below the edge threshold,
    # distributed label propagation above it) give identical labels
    # and an identical schema
    schemas = []
    for thr in (1_000_000, 0):
        monkeypatch.setattr(util, "DRIVER_CC_EDGES", thr)
        out = dedup.neardup_clusters(docs, pairs=pairs)
        schemas.append(out.schema)
        got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
               for r in out.collect()}
        assert all(got[i] == (0, i == 0) for i in range(n)), thr
    assert schemas[0] == schemas[1]
    # an absurdly low round cap raises on the DISTRIBUTED path; the
    # driver path needs no rounds at all
    monkeypatch.setattr(util, "DRIVER_CC_EDGES", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.neardup_clusters(docs, pairs=pairs, max_iters=2)


def test_neardup_clusters_byte_aware_driver_gate(spark, monkeypatch):
    """The driver union-find regime is gated on estimated BYTES, not
    just edge count: wide string doc ids (URLs, UUID paths) can make
    1M edges 10-50× larger on the driver than numeric ids (r04).
    Below the byte budget → driver path; above it → distributed path,
    with identical labels either way."""
    wide = [f"https://example.com/corpus/shard-{i:04d}/" + "x" * 400
            for i in range(6)]
    docs = spark.createDataFrame([(w,) for w in wide], ["doc_id"])
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in
         [(wide[0], wide[1]), (wide[1], wide[2]), (wide[3], wide[4])]],
        ["id_a", "id_b"])
    est = dedup._edge_bytes_estimate(pairs.localCheckpoint(), 3)
    assert est > 3 * 800  # ~500 chars of id data per edge, plus overhead

    calls = {"driver": 0, "dist": 0}
    real_uf, real_cc = dedup._driver_union_find, dedup._distributed_cc

    def spy_uf(*a, **k):
        calls["driver"] += 1
        return real_uf(*a, **k)

    def spy_cc(*a, **k):
        calls["dist"] += 1
        return real_cc(*a, **k)

    monkeypatch.setattr(dedup, "_driver_union_find", spy_uf)
    monkeypatch.setattr(dedup, "_distributed_cc", spy_cc)

    def labels():
        out = dedup.neardup_clusters(docs, pairs=pairs)
        return {r["doc_id"]: r["cluster_id"] for r in out.collect()}

    with monkeypatch.context() as m:
        m.setattr(util, "DRIVER_CC_BYTES", 1000)
        small_budget = labels()  # over budget
    assert calls == {"driver": 0, "dist": 1}
    big_budget = labels()  # default 256 MB: comfortably within
    assert calls == {"driver": 1, "dist": 1}
    assert small_budget == big_budget
    assert small_budget[wide[1]] == min(wide[0], wide[1], wide[2])
    assert small_budget[wide[5]] == wide[5]  # singleton

    # numeric ids never pay the sampling collect and stay driver-side
    ndocs = spark.createDataFrame([(i,) for i in range(4)], ["doc_id"])
    npairs = spark.createDataFrame([(0, 1)], ["id_a", "id_b"])
    assert dedup._edge_bytes_estimate(npairs, 10 ** 6) == 56 * 10 ** 6
    nlab = dedup.neardup_clusters(ndocs, pairs=npairs)
    assert calls == {"driver": 2, "dist": 1}
    assert {r["doc_id"]: r["cluster_id"] for r in nlab.collect()} == {
        0: 0, 1: 0, 2: 2, 3: 3}


# --- quadratic-blowup caps (r02: scale safety for hot shingles/buckets) ---


def test_ngram_jaccard_max_df_exact_values(spark):
    """Hot shingles are excluded from candidate generation but still
    count in the Jaccard value (topped up from per-doc hot-shingle
    sets), so any reported pair's value is exact."""
    # "common common common" is a hot shingle shared by ALL docs;
    # docs 0/1 also share cold shingles, 2/3 share ONLY the hot one
    rows = [
        (0, "alpha beta gamma delta common common common"),
        (1, "alpha beta gamma delta common common common epsilon"),
        (2, "common common common zeta eta theta"),
        (3, "common common common iota kappa lam"),
        (4, "common common common mu nu xi"),
        (5, "common common common omicron pi rho"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    texts = dict(rows)
    capped = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in dedup.ngram_jaccard_pairs(
                  docs, threshold=0.01, max_df=3).collect()}
    # (0,1) survives: shares cold shingles; its value must include the
    # hot shingle in the intersection — i.e. equal brute force exactly
    assert (0, 1) in capped
    assert abs(capped[(0, 1)] - brute_jaccard(texts[0], texts[1])) < 1e-6
    # pairs sharing ONLY the hot shingle are dropped (documented recall
    # cost of the cap)
    assert (2, 3) not in capped
    # uncapped finds them
    uncapped = {(r["id_a"], r["id_b"])
                for r in dedup.ngram_jaccard_pairs(
                    docs, threshold=0.01, max_df=None).collect()}
    assert (2, 3) in uncapped


def test_lsh_bucket_cap_triggers(spark):
    """A pathological bucket (many identical docs) is dropped when it
    exceeds max_bucket; generous caps keep every pair."""
    rows = [(i, "identical boilerplate text repeated everywhere wins")
            for i in range(12)]
    rows += [(100, "some unique document about distributed query engines"),
             (101, "some unique document about distributed query engine")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # the 12 identical docs share every band bucket → 66 pairs uncapped
    uncapped = dedup.minhash_lsh_pairs(docs, threshold=0.3,
                                       max_bucket=None).count()
    assert uncapped >= 66
    capped = {(r["id_a"], r["id_b"])
              for r in dedup.minhash_lsh_pairs(
                  docs, threshold=0.3, max_bucket=8).collect()}
    # the hot bucket (size 12 > 8) is dropped entirely...
    assert not any(a < 100 and b < 100 for a, b in capped)
    # ...but small buckets still match
    assert (100, 101) in capped


def test_simhash_bucket_cap_triggers(spark):
    rows = [(i, "identical boilerplate text repeated everywhere wins")
            for i in range(12)]
    rows += [(100, "some unique document about distributed query engines"),
             (101, "some unique document about distributed query engines")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = dedup.simhash_pairs(docs, max_bucket=None).count()
    assert uncapped >= 66
    capped = {(r["id_a"], r["id_b"])
              for r in dedup.simhash_pairs(docs, max_bucket=8).collect()}
    assert not any(a < 100 and b < 100 for a, b in capped)
    assert (100, 101) in capped


def test_embedding_bucket_cap_triggers(spark):
    import numpy as np
    rng = np.random.default_rng(7)
    base = rng.normal(size=8)
    rows = [(i, [float(x) for x in base]) for i in range(12)]
    other = rng.normal(size=8)
    rows += [(100, [float(x) for x in other]),
             (101, [float(x) for x in other + 1e-4])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    uncapped = dedup.embedding_neardup_pairs(emb, max_bucket=None).count()
    assert uncapped >= 66
    capped = {(r["id_a"], r["id_b"])
              for r in dedup.embedding_neardup_pairs(
                  emb, max_bucket=8).collect()}
    assert not any(a < 100 and b < 100 for a, b in capped)
    assert (100, 101) in capped


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """The refined quantizer (md5-spread seeds + one Lloyd iteration)
    must keep decent recall against exact brute force, and probing
    all cells must recover the exact top-k."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == 0).collect()[0]
    q = [float(x) for x in qrow["embedding"]]
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, q, 10).collect()]
    approx = [r["vec_id"] for r in
              similarity.ivf_topk(emb, q, k=10, n_cells=8,
                                  n_probe=3).collect()]
    assert approx[0] == 0  # the query vector itself is cell-probed
    assert len(set(exact) & set(approx)) >= 5
    # n_probe = n_cells → no pruning → exact result
    full = [r["vec_id"] for r in
            similarity.ivf_topk(emb, q, k=10, n_cells=8,
                                n_probe=8).collect()]
    assert full == exact


def test_neardup_clusters_one_action_per_round(spark, monkeypatch):
    """r02: the convergence check is folded into the round's
    checkpoint+sum action — exactly one driver action (.first) per
    round and NO per-round join+count job (the r01 shape)."""
    try:  # PySpark 4: the concrete class overrides the base methods
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame
    calls = {"count": 0, "first": 0}
    orig_count, orig_first = DataFrame.count, DataFrame.first

    def counting_count(self):
        calls["count"] += 1
        return orig_count(self)

    def counting_first(self):
        calls["first"] += 1
        return orig_first(self)

    monkeypatch.setattr(DataFrame, "count", counting_count)
    monkeypatch.setattr(DataFrame, "first", counting_first)
    rows = [(i, f"doc number {i} unique content") for i in range(6)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (3, 4, 1.0)],
        ["id_a", "id_b", "jaccard"])
    # DRIVER_CC_EDGES=0 forces the distributed path (the regime
    # this test guards; small graphs take the union-find shortcut)
    monkeypatch.setattr(util, "DRIVER_CC_EDGES", 0)
    out = dedup.neardup_clusters(docs, pairs=pairs)
    rowsout = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert rowsout == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}
    # exactly ONE count — the edge-size regime probe — and no
    # per-round count job (the r01 shape)
    assert calls["count"] == 1
    # init sum + one per round; this graph converges in ≤4 rounds
    assert 2 <= calls["first"] <= 5


# --- real stdlib codecs (r02): PNG/BMP/PPM pixels, JPEG dims, WAV PCM ---


def _write_png(px, filters=None):
    """Minimal PNG encoder (pure stdlib) for codec tests: 8-bit RGB,
    one IDAT, selectable per-row filter types."""
    import struct
    import zlib
    h, w, _ = px.shape
    raw = b""
    prev = bytes(w * 3)
    for y in range(h):
        row = px[y].tobytes()
        ft = (filters or [0] * h)[y]
        if ft == 0:
            raw += b"\x00" + row
        elif ft == 2:  # Up
            import numpy as np
            enc = (np.frombuffer(row, np.uint8)
                   - np.frombuffer(prev, np.uint8)).astype(np.uint8)
            raw += b"\x02" + enc.tobytes()
        else:
            raise ValueError(ft)
        prev = row

    def chunk(typ, data):
        import zlib as z
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", z.crc32(typ + data) & 0xFFFFFFFF))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _write_bmp(px):
    import struct
    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    body = b""
    for y in range(h - 1, -1, -1):  # bottom-up
        row = px[y][:, ::-1].tobytes()  # RGB→BGR
        body += row + bytes(stride - w * 3)
    header = (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                            len(body), 2835, 2835, 0, 0))
    return header + body


def _write_wav(samples, rate=8000):
    import io
    import wave
    import numpy as np
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes((np.asarray(samples) * 32767)
                       .astype("<i2").tobytes())
    return buf.getvalue()


def test_real_png_bmp_ppm_decode(spark):
    import numpy as np
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    png = _write_png(px, filters=[0, 2, 0, 2, 0])
    bmp = _write_bmp(px)
    ppm = (f"P6\n# c\n7 5\n255\n".encode() + px.tobytes())
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(bmp)), (3, bytearray(ppm))],
        ["doc_id", "payload"])
    got = {r["doc_id"]: r for r in
           multimodal.decode_images(df).collect()}
    exp_mean = [float(px[:, :, c].mean() / 255.0) for c in range(3)]
    for did in (1, 2, 3):
        assert (got[did]["width"], got[did]["height"]) == (7, 5)
        emb = got[did]["embedding"]
        # features = per-channel mean/std: all three containers must
        # decode to the SAME pixels
        for c in range(3):
            assert abs(emb[2 * c] - exp_mean[c]) < 1e-6
    assert got[1]["embedding"] == got[2]["embedding"] == got[3]["embedding"]


def test_real_png_sub_paeth_filters():
    """Direct decoder check for the sequential filters via a
    spec-exact reference implementation on random data."""
    import numpy as np
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    png = _write_png(px, filters=[0, 2, 0, 2])
    out = multimodal.decode_png(png)
    assert (out == px).all()


def test_real_wav_rms(spark):
    import numpy as np
    t = np.linspace(0, 1, 8000, endpoint=False)
    quiet = 0.1 * np.sin(2 * np.pi * 440 * t)
    loud = 0.8 * np.sin(2 * np.pi * 440 * t)
    wav = _write_wav(np.concatenate([quiet, loud]))
    df = spark.createDataFrame([(1, bytearray(wav))],
                               ["doc_id", "payload"])
    rows = {r["frame_idx"]: r["rms"] for r in
            multimodal.sample_audio_frames(df, n_frames=2).collect()}
    # sine RMS = amplitude / sqrt(2)
    assert abs(rows[0] - 0.1 / 2 ** 0.5) < 1e-3
    assert abs(rows[1] - 0.8 / 2 ** 0.5) < 1e-3


def test_jpeg_dims_marker_walk():
    import struct
    # minimal JPEG skeleton: SOI, APP0, SOF0 with dims, EOI — the
    # cheap dims probe keeps working standalone (full pixel decode of
    # real baseline files is covered in test_jpeg.py)
    sof = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 33, 44, 1) + b"\x01\x11\x00"
    jpg = b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"JF" + sof + b"\xff\xd9"
    assert multimodal.jpeg_dims(jpg) == (44, 33)
    # a scanless skeleton is not decodable — explicit error, not junk
    with pytest.raises(ValueError, match="no SOS"):
        multimodal.decode_jpeg(jpg)


# --- line/paragraph dedup (r02: MassiveText/Gopher hygiene pass) ---


def test_line_dedup_stats_and_strip(spark):
    rows = [
        (0, "unique intro zero\nSubscribe to our newsletter!\nreal content A"),
        (1, "different text one\nSubscribe to our newsletter!\nreal content B"),
        (2, "Subscribe to our newsletter!\nanother unique paragraph two"),
        (3, "nothing shared here\nall original three"),
        # within-doc repetition only — must NOT flag (cross-doc rule)
        (4, "echo echo line\necho echo line"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    stats = dedup.line_dedup_stats(docs)
    flagged = {r["line_fp"]: r for r in stats.collect()}
    import hashlib
    banner_fp = hashlib.md5(b"Subscribe to our newsletter!").hexdigest()
    echo_fp = hashlib.md5(b"echo echo line").hexdigest()
    assert set(flagged) == {banner_fp}
    assert flagged[banner_fp]["n_docs"] == 3
    assert flagged[banner_fp]["n_occurrences"] == 3
    assert flagged[banner_fp]["example_doc"] == 0
    assert echo_fp not in flagged  # same-doc repeats don't count
    # strip: banner removed everywhere, order and other lines intact
    out = {r["doc_id"]: r["text"]
           for r in dedup.strip_dup_lines(docs, stats).collect()}
    assert out[0] == "unique intro zero\nreal content A"
    assert out[1] == "different text one\nreal content B"
    assert out[2] == "another unique paragraph two"
    assert out[3] == "nothing shared here\nall original three"
    assert out[4] == "echo echo line\necho echo line"


def test_paragraph_dedup_granularity(spark):
    rows = [
        (0, "para one\nstill para one\n\nCOMMON FOOTER\nlegal text"),
        (1, "other content\n\nCOMMON FOOTER\nlegal text"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    stats = dedup.line_dedup_stats(docs, granularity="paragraph")
    got = stats.collect()
    assert len(got) == 1 and got[0]["n_docs"] == 2
    out = {r["doc_id"]: r["text"] for r in
           dedup.strip_dup_lines(docs, stats,
                                 granularity="paragraph").collect()}
    assert out[0] == "para one\nstill para one"
    assert out[1] == "other content"


def test_line_dedup_via_stream_through(spark):
    import piglet_spark as pg
    eng = pg.PigEngine(spark)
    docs = spark.createDataFrame(
        [(0, "keep me\nCOMMON BANNER"), (1, "other\nCOMMON BANNER")],
        ["doc_id", "text"])
    docs.createOrReplaceTempView("line_docs")
    eng.run("""
A = SQL 'SELECT * FROM line_docs';
S = STREAM A THROUGH line_dedup_stats();
C = STREAM A THROUGH strip_dup_lines();
""")
    assert eng.df("S").count() == 1
    out = {r["doc_id"]: r["text"] for r in eng.df("C").collect()}
    assert out == {0: "keep me", 1: "other"}


def test_ngram_jaccard_prefix_method_exact(docs):
    """The AllPairs prefix-filtered plan must produce the identical
    exact pair set as the co-occurrence plan and brute force."""
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(
               docs, threshold=0.2, method="prefix").collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.toLocalIterator()}
    expected = {}
    for i in sorted(texts):
        for j in sorted(texts):
            if i < j:
                jac = brute_jaccard(texts[i], texts[j])
                if jac >= 0.2:
                    expected[(i, j)] = round(jac, 6)
    assert got == expected


def test_salted_join_equals_plain_join(spark):
    """salted_join must produce exactly the rows of the plain join,
    for inner and left, including unmatched left rows."""
    from piglet_spark.datapipe.util import salted_join
    big = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ("hot", "hot", "x", None)],
        ["k", "payload"])
    dim = spark.createDataFrame(
        [("hot", 1), ("x", 2), ("y", 3)], ["k", "dimval"])
    def norm(rows):  # null key sorts via repr
        return sorted((tuple(r) for r in rows),
                      key=lambda t: tuple(map(repr, t)))
    for how in ("inner", "left"):
        plain = norm(big.join(dim, on="k", how=how).collect())
        salted = norm(salted_join(big, dim, on="k", how=how,
                                  salt=8).collect())
        assert salted == plain, how
    import pytest as _pytest
    with _pytest.raises(ValueError, match="inner/left"):
        salted_join(big, dim, on="k", how="full")


def test_strip_dup_lines_keeps_empty_docs_and_columns(spark):
    """r02 code-review fix: a document whose every line is flagged
    boilerplate keeps an empty-text row (doesn't vanish), and
    non-text columns survive the rewrite."""
    rows = [
        (0, "real content\nCOMMON BANNER", "en"),
        (1, "COMMON BANNER", "de"),       # boilerplate-only
        (2, "other stuff\nCOMMON BANNER", "fr"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    stats = dedup.line_dedup_stats(docs)
    out = {r["doc_id"]: (r["text"], r["lang"]) for r in
           dedup.strip_dup_lines(docs, stats).collect()}
    assert out == {0: ("real content", "en"), 1: ("", "de"),
                   2: ("other stuff", "fr")}


def test_ivf_string_ids(spark):
    """r02 code-review fix: ivf_topk must work with non-numeric id
    columns (tie-break via min_by(-cos, id), literal centroid schema
    copies the id type)."""
    import numpy as np
    rng = np.random.default_rng(5)
    rows = [(f"doc-{i:04d}", [float(x) for x in rng.normal(size=8)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = rows[0][1]
    got = similarity.ivf_topk(emb, q, k=5, n_cells=4, n_probe=4,
                              train_sample=40).collect()
    assert got[0]["vec_id"] == "doc-0000"
    assert len(got) == 5


def test_audio_fake_wins_over_wav_detection(spark):
    """r02 code-review fix: deterministic_fake=True must take
    precedence even for RIFF/WAVE-looking payloads (same precedence
    as decode_images; the sha256 fake is the oracle path)."""
    import hashlib
    wav = _write_wav([0.0] * 100)
    df = spark.createDataFrame([(1, bytearray(wav))],
                               ["doc_id", "payload"])
    rows = {r["frame_idx"]: r["rms"] for r in
            multimodal.sample_audio_frames(
                df, n_frames=2, deterministic_fake=True).collect()}
    h = hashlib.sha256(wav).digest()
    # rms column is float32 — compare within its precision
    assert abs(rows[0] - h[0] / 255.0) < 1e-6
    assert abs(rows[1] - h[1] / 255.0) < 1e-6


def test_jpeg_dims_truncated_payloads_raise_valueerror():
    """r02 review: truncated/FF-padded JPEGs must raise the documented
    ValueError, never IndexError/struct.error (one bad payload would
    kill the whole mapInPandas decode job with an opaque crash)."""
    for payload in (b"\xff\xd8" + b"\xff" * 4,
                    b"\xff\xd8\xff\xff\xff\xda",
                    b"\xff\xd8\xff\xff\xc0\x00",
                    b"\xff\xd8"):
        with pytest.raises(ValueError, match="no SOF"):
            multimodal.jpeg_dims(payload)


def test_assert_invalidates_materialize_cache(spark, tmp_path):
    """r02 review: adding ASSERT must change the alias's lineage so a
    pre-existing MATERIALIZE checkpoint is not reused around it."""
    import piglet_spark as pg
    p = tmp_path / "m.csv"
    p.write_text("1,10\n2,-5\n")
    mat = str(tmp_path / "mat")
    s1 = f"""
A = LOAD '{p}' USING PigStorage(',') AS (id:int, v:int);
MATERIALIZE A;
"""
    eng = pg.PigEngine(spark, options={"materialization_dir": mat})
    eng.run(s1)
    assert eng.df("A").count() == 2  # checkpoint written
    s2 = f"""
A = LOAD '{p}' USING PigStorage(',') AS (id:int, v:int);
ASSERT A BY v > 0, 'positive only';
MATERIALIZE A;
"""
    eng2 = pg.PigEngine(spark, options={"materialization_dir": mat})
    # the new lineage key misses the stale checkpoint, so MATERIALIZE
    # re-executes the (now asserted) plan and the guard fires during
    # the eager checkpoint write itself
    with pytest.raises(Exception, match="positive only"):
        eng2.run(s2)
        eng2.df("A").count()


class _FakeSC:
    def __init__(self, master, ckdir=None):
        self.master = master
        self._ckdir = ckdir

    def getCheckpointDir(self):
        return self._ckdir


class _FakeSpark:
    def __init__(self, master, ckdir=None):
        self.sparkContext = _FakeSC(master, ckdir)


def test_materialize_mode_auto_selection():
    """Cluster-safe mode resolution (r02 verdict item 3): lazy
    localCheckpoint only where executor loss is impossible."""
    # local masters: single JVM, no executor loss -> localCheckpoint
    assert dedup._resolve_mode(_FakeSpark("local[32]")) == "checkpoint"
    assert dedup._resolve_mode(_FakeSpark("local[*]")) == "checkpoint"
    # real cluster masters: recomputable persist
    for m in ("spark://host:7077", "yarn", "k8s://https://host:6443"):
        assert dedup._resolve_mode(_FakeSpark(m)) == "persist"
    # a configured reliable checkpoint dir wins everywhere
    assert dedup._resolve_mode(
        _FakeSpark("yarn", "hdfs:///ck")) == "reliable"
    assert dedup._resolve_mode(
        _FakeSpark("local[4]", "/tmp/ck")) == "reliable"


def test_materialize_persist_mode_roundtrip(spark, docs, monkeypatch):
    """ngram pipeline under the cluster (persist) mode returns identical
    pairs (the mode changes storage strategy, never values)."""
    base = {(r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    monkeypatch.setattr(dedup, "_resolve_mode", lambda s: "persist")
    got = {(r["id_a"], r["id_b"], r["jaccard"])
           for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert got == base


def test_salted_join_spreads_identical_rows_and_map_columns(spark):
    """r02 advice: a value-hash salt sent bit-identical duplicate rows
    (the classic skew pathology) to ONE reducer and failed on map
    columns. The positional salt spreads them and tolerates maps."""
    from pyspark.sql import functions as F
    from piglet_spark.datapipe.util import salted_join
    big = (spark.range(400).select(
        F.lit("hot").alias("k"),
        F.lit(1).alias("payload"),
        F.create_map(F.lit("a"), F.lit(1)).alias("attrs"))
        .repartition(4))
    dim = spark.createDataFrame([("hot", 9)], ["k", "dimval"])
    out = salted_join(big.drop("attrs"), dim, on="k", salt=8)
    assert out.count() == 400
    # identical rows really do get distinct salts (uniform positional)
    salts = (big.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(8)))
        .select("__salt").distinct().count())
    assert salts == 8
    # map-typed column on the big side no longer breaks the salting
    out2 = salted_join(big, dim, on="k", salt=4)
    assert out2.count() == 400


def test_salted_join_dsl(spark, tmp_path):
    """JOIN … USING 'salted(n)' / 'skewed' / 'replicated' from the
    language (r02 verdict item 6)."""
    import piglet_spark as pg
    big = tmp_path / "big.csv"
    big.write_text("".join(f"hot,{i}\n" for i in range(50))
                   + "cold,99\n")
    dim = tmp_path / "dim.csv"
    dim.write_text("hot,1\ncold,2\nnone,3\n")
    base = f"""
B = LOAD '{big}' USING PigStorage(',') AS (k:chararray, v:int);
D = LOAD '{dim}' USING PigStorage(',') AS (k:chararray, w:int);
"""
    eng = pg.PigEngine(spark)
    eng.run(base + "J = JOIN B BY k, D BY k;")
    plain = sorted(tuple(r) for r in eng.df("J").collect())
    for using in ("salted(4)", "skewed", "replicated", "merge"):
        eng2 = pg.PigEngine(spark)
        eng2.run(base + f"J = JOIN B BY k, D BY k USING '{using}';")
        got = sorted(tuple(r) for r in eng2.df("J").collect())
        assert got == plain, using
    # replicated really broadcasts: plan has a BroadcastHashJoin
    eng3 = pg.PigEngine(spark)
    eng3.run(base + "J = JOIN B BY k, D BY k USING 'replicated';")
    plan = eng3.df("J")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pii_scrub_and_stats(spark):
    """PII redaction and audit counts vs hand-checked expectations;
    non-PII text passes through untouched."""
    rows = [
        (0, "mail me at john.doe+x@example.co.uk or call 555-123-4567"),
        (1, "server 192.168.1.10 leaked ssn 123-45-6789"),
        (2, "card 4111 1111 1111 1111 exp 12/26; intl +4915112345678"),
        (3, "no pii here, just 42 and a date 2024-01-01"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["text"] for r in text.pii_scrub(df).collect()}
    assert out[0] == "mail me at <EMAIL> or call <PHONE>"
    assert out[1] == "server <IP> leaked ssn <SSN>"
    assert out[2] == "card <CARD> exp 12/26; intl <PHONE>"
    assert out[3] == rows[3][1]  # untouched
    st = {r["doc_id"]: r for r in text.pii_stats(df).collect()}
    assert (st[0]["n_email"], st[0]["n_phone"], st[0]["n_pii"]) == (1, 1, 2)
    assert (st[1]["n_ipv4"], st[1]["n_ssn"]) == (1, 1)
    assert (st[2]["n_credit_card"], st[2]["n_phone"]) == (1, 1)
    assert st[3]["n_pii"] == 0


def test_pii_ipv4_octet_range(spark):
    """The ipv4 pattern requires octets 0-255: dotted quads with an
    out-of-range component (software versions like 1.2.3.400, build
    ids 10.1.2.999) must NOT be redacted — false redactions destroy
    data (r04, ADVICE)."""
    rows = [
        (0, "upgrade to release 1.2.3.400 today"),
        (1, "build 10.20.30.999 is broken"),
        (2, "hosts 0.0.0.0 and 255.255.255.255 and 172.16.254.1"),
        (3, "edge 256.1.1.1 is not an address but 250.1.1.1 is"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["text"] for r in text.pii_scrub(df).collect()}
    assert out[0] == rows[0][1]  # 400 > 255: untouched
    assert out[1] == rows[1][1]  # 999 > 255: untouched
    assert out[2] == "hosts <IP> and <IP> and <IP>"
    assert out[3] == "edge 256.1.1.1 is not an address but <IP> is"


def test_quality_filter_chain_brute_force(spark, sf_dir):
    """Every rule flag vs a python reference on the real documents
    table (repetition delegates to gopher_repetition_ok, which has
    its own brute-force pin); keep == no reasons; reasons sorted."""
    import re
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {r["doc_id"]: (r["keep"], tuple(r["fail_reasons"]))
           for r in text.quality_filter_chain(docs).collect()}
    rep = {r["doc_id"]: r["keep"]
           for r in text.gopher_repetition_ok(docs).collect()}
    for row in docs.collect():
        t = row["text"] or ""
        n = len(t)
        alpha = len(re.sub("[^A-Za-z]", "", t))
        digit = len(re.sub("[^0-9]", "", t))
        space = t.count(" ")
        punct = n - alpha - digit - space
        ntok = 0 if not t.strip() else len(re.split(r"\s+", t.strip()))
        mwl = (n - space) / ntok if ntok > 0 else 0.0
        want = set()
        if ntok < 20:
            want.add("too_short")
        if ntok > 100_000:
            want.add("too_long")
        if mwl < 3.0 or mwl > 10.0:
            want.add("word_length")
        if (alpha / n if n else 0.0) < 0.6:
            want.add("alpha_ratio")
        if (punct / n if n else 0.0) > 0.25:
            want.add("punct_ratio")
        if not rep[row["doc_id"]]:
            want.add("repetition")
        keep, reasons = got[row["doc_id"]]
        assert reasons == tuple(sorted(want)), row["doc_id"]
        assert keep == (not want)
    # the report counts match the chain, zero-count rules included
    rpt = {r["rule"]: r["n_docs"]
           for r in text.quality_filter_report(docs).collect()}
    n_docs = len(got)
    assert rpt["docs_total"] == n_docs
    assert rpt["docs_kept"] == sum(1 for k, _ in got.values() if k)
    for nm in ("too_short", "too_long", "word_length", "alpha_ratio",
               "punct_ratio", "repetition"):
        assert rpt[nm] == sum(1 for _, rs in got.values() if nm in rs)
    assert len(rpt) == 8


def test_stream_through_quality_filter(spark, sf_dir):
    """DSL surface: STREAM ... THROUGH quality_filter /
    quality_filter_report."""
    import piglet_spark as pg
    eng = pg.PigEngine(spark)
    eng.run(f"""
D = LOAD '{sf_dir}/documents.parquet' USING ParquetStorage();
Q = STREAM D THROUGH quality_filter();
R = STREAM D THROUGH quality_filter_report();
""")
    qrows = eng.df("Q").limit(5).collect()
    assert qrows and eng.df("Q").columns == ["doc_id", "keep",
                                             "fail_reasons"]
    rpt = {r["rule"]: r["n_docs"] for r in eng.df("R").collect()}
    assert rpt["docs_total"] > 0 and "repetition" in rpt


def test_repetition_stats_brute_force(spark):
    """Repetition fractions vs a python brute-force reference."""
    rows = [
        (0, "buy now\nbuy now\nbuy now\nunique line"),
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "spam spam spam spam spam spam spam spam"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}

    def norm(t):
        import re
        t = re.sub(r"[^a-z0-9 ]", " ", t.lower())
        return re.sub(r" +", " ", t).strip()

    def brute(t):
        lines = [ln.strip() for ln in t.split("\n") if ln.strip()]
        dlf = 1 - len(set(lines)) / len(lines) if lines else 0.0
        toks = norm(t).split()
        out = {"dup_line_frac": dlf}
        for n in (2, 3, 4):
            gr = [" ".join(toks[i:i + n])
                  for i in range(len(toks) - n + 1)]
            out[f"dup_{n}gram_frac"] = (
                1 - len(set(gr)) / len(gr) if gr else 0.0)
        gr2 = [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]
        if gr2:
            from collections import Counter
            # tie-break by length like the engine's max(struct(c, l));
            # equal (count, len) ties have equal coverage either way
            c, L = max((c, len(g)) for g, c in Counter(gr2).items())
            # clamped at full coverage (r05): overlapping occurrences
            # over-count shared characters, a fraction can't exceed 1
            out["top_2gram_char_frac"] = min(1.0, c * L / len(norm(t)))
        else:
            out["top_2gram_char_frac"] = 0.0
        return out

    for i, t in rows:
        exp = brute(t)
        for k, v in exp.items():
            assert abs(got[i][k] - v) < 1e-5, (i, k, got[i][k], v)
    # the top-gram count column distinguishes true repetition from a
    # count-1 top gram in a short doc
    assert got[2]["top_2gram_count"] >= 2
    assert got[1]["top_2gram_count"] == 1


def test_gopher_repetition_filter_and_dsl(spark):
    """Clean prose passes the Gopher cut-offs, spam fails; reachable
    via STREAM THROUGH."""
    import piglet_spark as pg
    rows = [
        (0, "a perfectly ordinary sentence with varied words and no "
            "repeats anywhere to be found today"),
        (1, "buy now " * 30),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["keep"]
           for r in text.gopher_repetition_ok(df).collect()}
    assert got == {0: True, 1: False}
    eng = pg.PigEngine(spark)
    eng.executor.env["A"] = df
    eng.run("B = STREAM A THROUGH gopher_repetition_ok();")
    got2 = {r["doc_id"]: r["keep"] for r in eng.df("B").collect()}
    assert got2 == got
    eng.run("C = STREAM A THROUGH pii_scrub();")
    assert eng.df("C").columns == ["doc_id", "text"]


def test_resize_images_real_png(spark):
    """Nearest-neighbor resize of a real PNG through the Arrow
    mapInPandas plumbing: known 4x4 checkerboard -> 2x2 with the
    exact corner colors; output bytes bounded at out_w*out_h*3."""
    import numpy as np
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    px[:2, :2] = [255, 0, 0]    # top-left red
    px[:2, 2:] = [0, 255, 0]    # top-right green
    px[2:, :2] = [0, 0, 255]    # bottom-left blue
    px[2:, 2:] = [255, 255, 0]  # bottom-right yellow
    payload = _write_png(px)
    df = spark.createDataFrame([(1, bytearray(payload))],
                               "doc_id long, payload binary")
    out = multimodal.resize_images(df, out_w=2, out_h=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["width"], r["height"]) == (4, 4)
    rgb = np.frombuffer(bytes(r["rgb"]), dtype=np.uint8).reshape(2, 2, 3)
    assert rgb[0, 0].tolist() == [255, 0, 0]
    assert rgb[0, 1].tolist() == [0, 255, 0]
    assert rgb[1, 0].tolist() == [0, 0, 255]
    assert rgb[1, 1].tolist() == [255, 255, 0]
    # upscale path too: 4x4 -> 6x6 keeps the quadrant structure
    up = multimodal.resize_images(df, out_w=6, out_h=6).collect()[0]
    rgb6 = np.frombuffer(bytes(up["rgb"]), dtype=np.uint8).reshape(6, 6, 3)
    assert rgb6[0, 0].tolist() == [255, 0, 0]
    assert rgb6[5, 5].tolist() == [255, 255, 0]


def test_resize_images_unsupported_format_raises(spark):
    # GIF is genuinely undecodable with stdlib (JPEG no longer is, r04)
    df = spark.createDataFrame([(1, bytearray(b"GIF89a\x01\x00\x01\x00"))],
                               "doc_id long, payload binary")
    import pytest as _pytest
    with _pytest.raises(Exception, match="no stdlib pixel decoder"):
        multimodal.resize_images(df).collect()


def test_full_corpus_pipeline_one_script(spark, sf_dir):
    """Showcase integration: a complete training-data hygiene pipeline
    as ONE Pig script — PII scrub → exact-dedup keep-list → Gopher
    repetition filter → near-dup clustering — every stage the
    STREAM THROUGH / NEARDUP surface, end to end on the synthetic
    documents table."""
    import piglet_spark as pg
    eng = pg.PigEngine(spark)
    eng.run(f"""
DOCS = LOAD '{sf_dir}/documents.parquet' USING ParquetStorage();
CLEAN = STREAM DOCS THROUGH pii_scrub();
KEEP_EXACT = STREAM CLEAN THROUGH exact_dedup();
REP = STREAM CLEAN THROUGH gopher_repetition_ok();
GOOD_IDS = FILTER REP BY keep == true;
CLUST = NEARDUP CLEAN ON text BY doc_id THRESHOLD 0.5 CLUSTER;
CANON = FILTER CLUST BY is_canonical == true;
""")
    n_docs = eng.df("DOCS").count()
    assert eng.df("CLEAN").count() == n_docs  # scrub preserves rows
    n_keep = eng.df("KEEP_EXACT").count()
    assert 0 < n_keep <= n_docs
    n_good = eng.df("GOOD_IDS").count()
    assert 0 < n_good <= n_docs
    n_canon = eng.df("CANON").count()
    assert 0 < n_canon <= n_docs
    # near-dup keep-list is at most the exact keep-list (exact dups
    # are also near-dups)
    assert n_canon <= n_keep


def test_winnow_fingerprints_brute_force(spark):
    """Winnowing vs a python reference: same k-gram hashing, sliding
    window minima, distinct per doc; short docs keep one fingerprint;
    guarantee holds (>=1 fingerprint per w consecutive grams)."""
    import hashlib as _hl
    import re as _re

    rows = [
        (0, "the quick brown fox jumps over the lazy dog today again"),
        (1, "tiny doc"),                       # fewer grams than one window
        (2, "spam spam spam spam spam spam spam spam spam spam"),
    ]
    k, w = 3, 4
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for r in text.winnow_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])

    def norm(t):
        t = _re.sub(r"[^a-z0-9 ]", " ", t.lower())
        return _re.sub(r" +", " ", t).strip()

    def h32(s):
        return int(_hl.md5(s.encode()).hexdigest()[:8], 16)

    for did, t in rows:
        toks = norm(t).split()
        grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        hs = [h32(g) for g in grams]
        if not hs:
            assert did not in got
            continue
        m = len(hs)
        exp = {min(hs[t0:t0 + w]) for t0 in range(max(m - w, 0) + 1)}
        assert got[did] == exp, did
    # density guarantee on the long doc: selected ≈ 2/(w+1) of grams
    assert 1 <= len(got[0]) <= 8


def test_winnow_via_stream_through(spark):
    import piglet_spark as pg
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"])
    eng = pg.PigEngine(spark)
    eng.executor.env["A"] = df
    eng.run("B = STREAM A THROUGH winnow_fingerprints(3, 4);")
    out = eng.df("B")
    assert out.columns == ["doc_id", "fp"]
    assert out.count() >= 1


def test_neardup_using_method_selection(spark, docs):
    """NEARDUP … USING 'simhash'/'ngram'/'minhash' routes to the
    corresponding pair algorithm; results match the Python API."""
    import piglet_spark as pg
    eng = pg.PigEngine(spark)
    eng.executor.env["A"] = docs
    eng.run("P1 = NEARDUP A ON text BY doc_id THRESHOLD 0.3 USING 'ngram';")
    got = {(r["id_a"], r["id_b"]) for r in eng.df("P1").collect()}
    exp = {(r["id_a"], r["id_b"]) for r in
           dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert got == exp and got
    eng.run("P2 = NEARDUP A ON text BY doc_id THRESHOLD 8 USING 'simhash';")
    got2 = {(r["id_a"], r["id_b"]) for r in eng.df("P2").collect()}
    exp2 = {(r["id_a"], r["id_b"]) for r in
            dedup.simhash_pairs(docs, max_hamming=8).collect()}
    assert got2 == exp2
    # clustering composes with a chosen method
    eng.run("C = NEARDUP A ON text BY doc_id THRESHOLD 0.3 "
            "USING 'ngram' CLUSTER;")
    out = {r["doc_id"]: r["cluster_id"] for r in eng.df("C").collect()}
    assert len(out) == docs.count()
    # unknown method -> clear error
    import pytest as _pytest
    with _pytest.raises(Exception, match="unknown method"):
        eng.run("X = NEARDUP A ON text USING 'what';")


def test_similarity_topk_via_dsl(spark, sf_dir):
    """cosine/ann/ivf top-k reachable from scripts: query vector as a
    quoted comma-separated string param."""
    import piglet_spark as pg
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.first()["embedding"]]
    qs = ",".join(str(x) for x in q)
    eng = pg.PigEngine(spark)
    eng.run(f"""
E = LOAD '{sf_dir}/embeddings.parquet' USING ParquetStorage();
T = STREAM E THROUGH cosine_topk('{qs}', 5);
""")
    got = [(r["vec_id"], r["cos"]) for r in eng.df("T").collect()]
    exp = [(r["vec_id"], r["cos"]) for r in
           similarity.cosine_topk(emb, q, k=5).collect()]
    assert got == exp and len(got) == 5
    # the query's own vector is its best match
    assert got[0][1] == 1.0
    eng.run(f"U = STREAM E THROUGH ivf_topk('{qs}', 5);")
    assert eng.df("U").count() == 5


def test_multimodal_via_stream_through(spark, sf_dir):
    """decode_images / sample_audio_frames reachable from scripts
    (deterministic-fake mode; payload synthesized from the text
    column, as the driver's multimodal query does)."""
    import piglet_spark as pg
    from pyspark.sql import functions as F
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", F.encode("text", "utf-8").alias("payload")))
    eng = pg.PigEngine(spark)
    eng.executor.env["D"] = docs
    eng.run("""
I = STREAM D THROUGH decode_images(8, 1);
A = STREAM D THROUGH sample_audio_frames(4, 1);
""")
    img = eng.df("I")
    assert img.columns == ["doc_id", "width", "height", "embedding"]
    n = docs.count()
    assert img.count() == n
    aud = eng.df("A")
    assert aud.count() == n * 4  # one row per sampled frame


# --- SemDeDup: semantic dedup over embeddings (r04) ---


def test_semantic_dedup_brute_force(spark, sf_dir):
    """SemDeDup verdicts against a driver-side brute-force reference:
    same kmeans assignment (recomputed from the trained centroids),
    same within-cluster pairs, python union-find groups, keeper =
    lowest centroid cosine."""
    import numpy as np
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {r["vec_id"]: r for r in
           dedup.semantic_dedup(emb, threshold=0.4,
                                n_clusters=4).collect()}
    assert len(got) == emb.count()  # every vector gets a verdict

    # brute-force reference
    from piglet_spark.datapipe.similarity import train_centroids
    cent_rows, _ = train_centroids(emb, "embedding", "vec_id", 4, 1, 256)
    C = np.array([r["_cv"] for r in cent_rows])
    cids = [r["_cid"] for r in cent_rows]
    rows = emb.collect()
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = [r["vec_id"] for r in rows]
    cos = (V @ C.T) / np.outer(np.linalg.norm(V, axis=1),
                               np.linalg.norm(C, axis=1))
    assign = np.argmax(cos, axis=1)
    ccos = cos[np.arange(len(ids)), assign]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_pairs = 0
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if assign[i] != assign[j]:
                continue
            c = float(V[i] @ V[j] / (np.linalg.norm(V[i])
                                     * np.linalg.norm(V[j])))
            if round(c, 6) >= 0.4:
                n_pairs += 1
                a, b = find(ids[i]), find(ids[j])
                if a != b:
                    parent[max(a, b)] = min(a, b)
    assert n_pairs > 0  # the synthetic corpus has semantic dups
    groups = {}
    for k, vid in enumerate(ids):
        groups.setdefault(find(vid), []).append((ccos[k], vid))
    keep_ref = {}
    for root, members in groups.items():
        keeper = min(members)[1]  # lowest centroid cos, ties → min id
        for _, vid in members:
            keep_ref[vid] = (root, vid == keeper)
    for vid, (root, keep) in keep_ref.items():
        assert got[vid]["group_id"] == root, vid
        assert got[vid]["keep"] == keep, vid
    # every group keeps exactly one member
    kept = [r for r in got.values() if r["keep"]]
    assert len(kept) == len(groups)


def test_semantic_dedup_via_dsl(spark, sf_dir):
    import piglet_spark as pg
    eng = pg.PigEngine(spark)
    eng.run(f"""
E = LOAD '{sf_dir}/embeddings.parquet' USING ParquetStorage();
P = NEARDUP E ON embedding BY vec_id THRESHOLD 0.4 USING 'semantic';
V = NEARDUP E ON embedding BY vec_id THRESHOLD 0.4 USING 'semantic' CLUSTER;
S = STREAM E THROUGH semantic_dedup(0.4, 4);
""")
    pairs = eng.df("P").collect()
    assert pairs and all(r["cos"] >= 0.4 for r in pairs)
    v = eng.df("V")
    assert set(v.columns) == {"vec_id", "group_id", "keep"}
    assert v.count() == eng.df("E").count()
    assert eng.df("S").filter("keep").count() < eng.df("E").count()


def test_semantic_pairs_no_cartesian(spark, sf_dir):
    """Plan guard: pairing joins on the cluster id — never a cartesian
    product, and centroid assignment broadcasts."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs, _ = dedup.semantic_pairs(emb, threshold=0.4, n_clusters=4)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_semantic_dedup_auto_k(spark, sf_dir):
    """n_clusters=None sizes k ~ sqrt(n) (the SemDeDup recipe)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = dedup.semantic_dedup(emb, threshold=0.4, n_clusters=None)
    assert out.count() == emb.count()
    assert out.filter("keep").count() < emb.count()


def test_semantic_dedup_oversized_cluster_still_dedups(spark, sf_dir):
    """An undersized k must NOT disable dedup: clusters over
    max_cluster are sub-split (every vector still pairs within its
    cell), not dropped wholesale. One cluster of 60 vectors with
    max_cluster=10 still finds the exact-duplicate pairs that land in
    the same cell, and no vector loses its verdict row."""
    import numpy as np
    rng = np.random.default_rng(7)
    # 30 distinct unit vectors, each duplicated once -> 30 dup pairs
    base = rng.normal(size=(30, 8))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.semantic_dedup(emb, threshold=0.999, n_clusters=1,
                               max_cluster=10).collect()
    assert len(out) == 60  # no verdict rows lost to a cluster cap
    dropped = sum(1 for r in out if not r["keep"])
    # hash-splitting 60 rows into 6 cells keeps ~1/6 of dup pairs
    # co-located in expectation; with seed 7 well over zero survive
    assert dropped > 0
    # and splitting is a recall trade only: full run finds all 30
    full = dedup.semantic_dedup(emb, threshold=0.999, n_clusters=1,
                                max_cluster=None)
    assert full.filter("NOT keep").count() == 30


def test_ngram_jaccard_auto_max_df(docs, spark):
    """max_df='auto' (r05): the df-percentile pre-pass picks an int
    cap in [16, 256]; on a clean small corpus (max df well under 16)
    the clamp floors at 16, which never binds — results must equal
    the uncapped run."""
    auto = sorted(tuple(r) for r in dedup.ngram_jaccard_pairs(
        docs, threshold=0.3, max_df="auto").collect())
    uncapped = sorted(tuple(r) for r in dedup.ngram_jaccard_pairs(
        docs, threshold=0.3, max_df=None).collect())
    assert auto == uncapped and len(auto) > 0


def test_ivf_and_semantic_empty_or_null_vectors(spark):
    """r05 review: empty relations and null embedding vectors must
    degrade gracefully (no driver-side numpy crash)."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert similarity.ivf_topk(empty, [0.1, 0.2], k=3).collect() == []
    withnull = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.9, 0.1])],
        "vec_id long, embedding array<double>")
    got = similarity.ivf_topk(withnull, [1.0, 0.0], k=2,
                              n_cells=2, train_sample=8).collect()
    assert [r["vec_id"] for r in got] == [1, 3]


def test_minhash_bands_validation(docs):
    with pytest.raises(ValueError, match="must divide"):
        dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=64)
    with pytest.raises(ValueError, match="must divide"):
        dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=7)


def test_quality_and_tokens_null_text(spark):
    """r05: NULL text scores/counts like empty text — not -1 tokens
    and not a 0.4 quality score above real short docs."""
    df = spark.createDataFrame([(1, None), (2, ""), (3, "short doc")],
                               "doc_id long, text string")
    rows = {r["doc_id"]: r for r in text.doc_stats(df).collect()}
    assert rows[1]["n_tokens"] == 0 == rows[2]["n_tokens"]
    assert rows[1]["quality"] == rows[2]["quality"] == 0.0
    assert rows[3]["quality"] > 0.0


def test_top_2gram_frac_clamped(spark):
    """Overlapping top-2-gram runs clamp at full coverage (1.0), not
    an impossible >1 'fraction'."""
    df = spark.createDataFrame([(1, "a a a a")], "doc_id long, text string")
    r = text.repetition_stats(df).collect()[0]
    assert r["top_2gram_char_frac"] == 1.0


def test_multimodal_fake_paths_any_dim(spark):
    """r05: fake decode paths cycle the sha256 digest — dim > 8 and
    n_frames > 32 must not crash the Arrow job."""
    df = spark.createDataFrame([(1, bytearray(b"anything"))],
                               "doc_id long, payload binary")
    out = multimodal.decode_images(df, dim=16,
                                   deterministic_fake=True).collect()
    assert len(out[0]["embedding"]) == 16
    frames = multimodal.sample_audio_frames(
        df, n_frames=40, deterministic_fake=True).collect()
    assert len(frames) == 40


def test_resize_normalizes_channels_to_rgb():
    """Gray (1ch) and RGBA (4ch) decoder outputs normalize to the
    documented 3-bytes-per-pixel RGB contract."""
    import numpy as np
    gray = np.arange(100, dtype=np.uint8).reshape(10, 10, 1)
    rgba = np.zeros((10, 10, 4), dtype=np.uint8)
    for px in (gray, rgba):
        out = multimodal.resize_nearest(multimodal.to_rgb(px), 4, 4)
        assert out.shape == (4, 4, 3)
    # gray replicates the channel
    g3 = multimodal.to_rgb(gray)
    assert (g3[:, :, 0] == g3[:, :, 2]).all()


def test_salted_join_salt_collision_guard(spark):
    from piglet_spark.datapipe.util import salted_join
    big = spark.createDataFrame([(1, 0)], "k long, __salt int")
    dim = spark.createDataFrame([(1, "x")], "k long, v string")
    with pytest.raises(ValueError, match="__salt"):
        salted_join(big, dim, "k")


def test_plan_has_anchored_not_substring(spark):
    """A column NAMED like a wide node must not trip the detector."""
    from piglet_spark.datapipe.util import (_plan_has, _WIDE_NODES,
                                            pin_if_wide)
    df = spark.createDataFrame([(1, 2)], ["JoinKey", "Window"])
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert not _plan_has(plan, _WIDE_NODES)
    agg = df.groupBy("JoinKey").count()
    plan2 = agg._jdf.queryExecution().optimizedPlan().toString()
    assert _plan_has(plan2, _WIDE_NODES)


def test_tfidf_top_terms_brute_force(spark):
    """TF-IDF top-k terms vs a python brute-force reference: smooth
    idf ln((N+1)/(df+1))+1, top-k by (rounded score desc, term asc)."""
    import math
    from collections import Counter
    rows = [
        (0, "apple banana apple cherry"),
        (1, "banana cherry cherry date"),
        (2, "apple apple apple elderberry"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = text.tfidf_top_terms(df, k=2).collect()

    tfs = {i: Counter(t.lower().split()) for i, t in rows if t}
    dfreq = Counter(w for c in tfs.values() for w in c)
    n = len(rows)
    exp = {}
    for i, c in tfs.items():
        scored = sorted(
            ((round(tf * (math.log((n + 1) / (dfreq[w] + 1)) + 1), 6), w,
              tf) for w, tf in c.items()),
            key=lambda x: (-x[0], x[1]))[:2]
        exp[i] = [(w, tf, s, r + 1)
                  for r, (s, w, tf) in enumerate(scored)]
    got_by_doc = {}
    for r in got:
        got_by_doc.setdefault(r["doc_id"], []).append(
            (r["term"], r["tf"], r["score"], r["rank"]))
    for i in got_by_doc:
        got_by_doc[i].sort(key=lambda x: x[3])
    assert 3 not in got_by_doc  # empty doc yields no terms
    for i, want in exp.items():
        assert got_by_doc[i] == want, (i, got_by_doc[i], want)


def test_tfidf_via_stream_through(spark, tmp_path):
    """tfidf_top_terms is reachable from the Pig DSL and agrees with
    the direct library call."""
    import piglet_spark as pg
    rows = [(0, "apple banana apple"), (1, "banana cherry date")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    p = tmp_path / "docs.parquet"
    df.write.mode("overwrite").parquet(str(p))
    eng = pg.PigEngine(spark)
    env = eng.run(f"""
D = LOAD '{p}' USING ParquetStorage();
T = STREAM D THROUGH tfidf_top_terms(2);
""")
    got = sorted(tuple(r) for r in env["T"].collect())
    want = sorted(tuple(r)
                  for r in text.tfidf_top_terms(df, k=2).collect())
    assert got == want and len(got) > 0


def test_lm_perplexity_brute_force(spark):
    """Bigram stupid-backoff perplexity vs a python reference: train
    on the ref subset, score every doc; unseen bigrams back off to
    alpha * add-one unigram; first token scores the unigram."""
    import math
    from collections import Counter
    rows = [
        (0, "the cat sat on the mat", "en"),
        (1, "the cat sat", "en"),
        (2, "dog runs fast", "en"),
        (3, "le chat noir dort", "fr"),   # unseen words → backoff
        (4, "the mat sat on a cat", "fr"),  # unseen bigrams, seen words
        (5, "", "fr"),                     # empty → NULL scores
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    train = [t for _, t, l in rows if l == "en"]
    uni = Counter(w for t in train for w in t.split())
    bi = Counter(" ".join(p) for t in train
                 for p in zip(t.split(), t.split()[1:]))
    T, V = sum(uni.values()), len(uni) + 1
    alpha = 0.4

    def p1(w):
        return (uni.get(w, 0) + 1.0) / (T + V)

    exp = {}
    for i, t, _l in rows:
        toks = t.split()
        if not toks:
            exp[i] = (0, None, None)
            continue
        lps = [math.log(p1(toks[0]))]
        for u, w in zip(toks, toks[1:]):
            g = f"{u} {w}"
            p = bi[g] / uni[u] if g in bi else alpha * p1(w)
            lps.append(math.log(p))
        avg = sum(lps) / len(lps)
        exp[i] = (len(toks), round(avg, 6), round(math.exp(-avg), 6))

    got = {r["doc_id"]: (r["n_tokens"], r["avg_logprob"], r["ppl"])
           for r in text.lm_perplexity(
               df, df.filter(F.col("lang") == "en")).collect()}
    assert set(got) == set(exp)
    for i in exp:
        assert got[i][0] == exp[i][0], (i, got[i], exp[i])
        if exp[i][1] is None:
            assert got[i][1] is None and got[i][2] is None
        else:
            assert got[i][1] == pytest.approx(exp[i][1], abs=2e-6)
            assert got[i][2] == pytest.approx(exp[i][2], rel=1e-5)
    # sanity: the French doc with unseen vocabulary is the most
    # perplexing scored doc under the English model
    assert got[3][2] == max(v[2] for v in got.values()
                            if v[2] is not None)


def test_lm_perplexity_self_train_no_backoff(spark):
    """Training on the scored corpus itself: every bigram is seen, so
    scores are pure conditional frequencies."""
    import math
    rows = [(0, "a b a b"), (1, "a b")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text.lm_perplexity(df).collect()}
    # corpus: C1(a)=3, C1(b)=3, T=6, V=3; C2("a b")=3, C2("b a")=1
    lp0 = (math.log(4 / 9) + math.log(3 / 3) + math.log(1 / 3)
           + math.log(3 / 3)) / 4
    lp1 = (math.log(4 / 9) + math.log(3 / 3)) / 2
    assert got[0]["avg_logprob"] == pytest.approx(round(lp0, 6), abs=2e-6)
    assert got[1]["avg_logprob"] == pytest.approx(round(lp1, 6), abs=2e-6)


def test_lm_perplexity_rejects_bad_alpha(spark):
    df = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        text.lm_perplexity(df, alpha=0.0)


def test_duplicate_spans_brute_force(spark):
    """Cross-document duplicate k-gram coverage vs a python
    reference (k=3): occurrences whose gram appears in >= 2 docs."""
    from collections import Counter
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "a quick brown fox jumps high above"),    # shares a span
        (2, "completely different text here indeed"),  # unique
        (3, "the quick brown fox jumps over the lazy dog"),  # clone of 0
        (4, "xy"),                                     # < k tokens
    ]
    k = 3
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    grams = {i: [" ".join(t.split()[j:j + k])
                 for j in range(len(t.split()) - k + 1)]
             for i, t in rows}
    docfreq = Counter(g for i in grams for g in set(grams[i]))
    exp = {}
    for i, gs in grams.items():
        nd = sum(1 for g in gs if docfreq[g] >= 2)
        exp[i] = (len(gs), nd,
                  round(nd / len(gs), 6) if gs else 0.0)
    got = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_frac"])
           for r in text.duplicate_spans(df, k=k).collect()}
    assert got == exp
    # the clone pair is fully covered; the partial overlap is not
    assert got[0][2] == 1.0 and got[3][2] == 1.0
    assert 0.0 < got[1][2] < 1.0 and got[2][2] == 0.0


def test_lm_and_spans_via_stream_through(spark, tmp_path):
    """Both r07 ops are reachable from the Pig DSL and agree with the
    direct library calls."""
    import piglet_spark as pg
    rows = [(0, "the cat sat on the mat", "en"),
            (1, "the cat sat on the mat", "fr"),
            (2, "dogs run fast today", "en")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    p = tmp_path / "docs.parquet"
    df.write.mode("overwrite").parquet(str(p))
    eng = pg.PigEngine(spark)
    env = eng.run(f"""
D = LOAD '{p}' USING ParquetStorage();
P = STREAM D THROUGH lm_perplexity('en');
S = STREAM D THROUGH duplicate_spans(3);
""")
    want_p = sorted(tuple(r) for r in text.lm_perplexity(
        df, df.filter(F.col("lang") == "en")).collect())
    want_s = sorted(tuple(r)
                    for r in text.duplicate_spans(df, k=3).collect())
    assert sorted(tuple(r) for r in env["P"].collect()) == want_p
    assert sorted(tuple(r) for r in env["S"].collect()) == want_s


def test_lm_perplexity_empty_reference_yields_null_scores(spark):
    """An empty reference corpus leaves the model undefined: NULL
    scores (not a silent uniform), token counts still reported."""
    df = spark.createDataFrame([(0, "a b", "fr")],
                               ["doc_id", "text", "lang"])
    out = text.lm_perplexity(
        df, df.filter(F.col("lang") == "en")).collect()
    assert [(r["doc_id"], r["n_tokens"], r["avg_logprob"], r["ppl"])
            for r in out] == [(0, 2, None, None)]


def test_knn_join_ivf_recall_and_determinism(spark, sf_dir):
    """IVF-Flat batch kNN: deterministic across runs; recall vs exact
    improves with n_probe and beats the hyperplane-LSH collapse
    regime on diffuse vectors (SCALE.md r07)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    key = lambda r: (r["qid"], r["nbr_id"], r["cos"])
    a = sorted(map(key, similarity.knn_join(
        emb, qs, k=5, method="ivf").collect()))
    b = sorted(map(key, similarity.knn_join(
        emb, qs, k=5, method="ivf").collect()))
    assert a == b and len(a) == qs.count() * 5
    exact = {(r["qid"], r["nbr_id"]) for r in similarity.knn_join(
        emb, qs, k=5, method="exact").collect()}
    r4 = len(exact & {(q, n) for q, n, _ in a}) / len(exact)
    p8 = {(r["qid"], r["nbr_id"]) for r in similarity.knn_join(
        emb, qs, k=5, method="ivf", n_probe=8).collect()}
    r8 = len(exact & p8) / len(exact)
    assert r4 >= 0.35
    assert r8 >= r4 and r8 >= 0.6
    # every returned score is the true cosine of that pair (the
    # kernel prunes candidates but never fabricates scores)
    all_scores = {(r["qid"], r["nbr_id"]): r["cos"]
                  for r in similarity.knn_join(
                      emb, qs, k=10 ** 6, method="exact").collect()}
    assert all(abs(all_scores[(q, n)] - c) <= 1e-6 for q, n, c in a)


def test_knn_join_cross_table_column_names(spark):
    """Corpus and query sides with DIFFERENT column names (the
    cross-table case: link documents' vectors to a label table) —
    q_vec_col/q_id_col must be honored and output named (qid,
    nbr_id, cos) regardless."""
    corpus = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(12)],
        "item_id int, vec array<double>")
    queries = spark.createDataFrame(
        [(100, [0.0, 1.0]), (101, [2.0, 1.0])],
        "probe_id int, qv array<double>")
    out = similarity.knn_join(
        corpus, queries, k=3, vec_col="vec", id_col="item_id",
        q_vec_col="qv", q_id_col="probe_id").collect()
    assert {r["qid"] for r in out} == {100, 101}
    assert len(out) == 6
    # query 100 = [0,1]: best matches are items with i%3==0 (cos 1.0)
    best100 = [r for r in out if r["qid"] == 100][0]
    assert best100["cos"] == 1.0
    blas = similarity.knn_join(
        corpus, queries, k=3, vec_col="vec", id_col="item_id",
        q_vec_col="qv", q_id_col="probe_id", method="blas").collect()
    key = lambda r: (r["qid"], r["nbr_id"], r["cos"])
    assert sorted(map(key, blas)) == sorted(map(key, out))


def test_minhash_cross_matches_full_subset(spark, sf_dir):
    """Cross-corpus pairs == the full self-join's (new, old) subset —
    same buckets by construction (shared _band_buckets), so an
    incremental ingest finds exactly what a full re-run would."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    got = {(r["id_new"], r["id_old"], r["jaccard"]) for r in
           dedup.minhash_lsh_pairs_cross(new, corpus,
                                         threshold=0.2).collect()}
    new_ids = {r["doc_id"] for r in new.collect()}
    old_ids = {r["doc_id"] for r in corpus.collect()}
    want = set()
    for r in dedup.minhash_lsh_pairs(docs, threshold=0.2).collect():
        a, b, j = r["id_a"], r["id_b"], r["jaccard"]
        if a in new_ids and b in old_ids:
            want.add((a, b, j))
        elif b in new_ids and a in old_ids:
            want.add((b, a, j))
    assert got == want and got  # non-empty at sf0.01/0.2


def test_minhash_cross_index_matches_fused(spark, sf_dir, tmp_path):
    """Index-served incremental dedup == the fused cross-corpus run:
    lsh_write_index persists the corpus's band buckets + shingles
    once; minhash_cross_index joins a new batch against the parquet
    tables and must produce the exact (id_new, id_old, jaccard) set
    minhash_lsh_pairs_cross computes from raw text. Also pins the
    staleness guard: an index whose data files no longer match the
    sidecar fingerprints is refused."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    idx = str(tmp_path / "lsh_idx")
    dedup.lsh_write_index(corpus, idx)
    key = lambda r: (r["id_new"], r["id_old"], r["jaccard"])
    got = sorted(map(key, dedup.minhash_cross_index(
        spark, idx, new, threshold=0.2).collect()))
    want = sorted(map(key, dedup.minhash_lsh_pairs_cross(
        new, corpus, threshold=0.2).collect()))
    assert got == want and got
    # staleness guard: drop a bucket data file → footer row counts
    # disagree with the sidecar → refuse
    import glob as _glob
    import os as _os
    victim = _glob.glob(f"{idx}/buckets/_band=*/part-*.parquet")[0]
    _os.remove(victim)
    with pytest.raises(ValueError, match="stale index"):
        dedup.minhash_cross_index(spark, idx, new, threshold=0.2)
    # verify=False skips the guard (hot path that already checked)
    assert dedup.minhash_cross_index(
        spark, idx, new, threshold=0.2, verify=False) is not None


def test_lsh_append_index_equals_rebuild(spark, sf_dir, tmp_path):
    """The incremental write half: building over half the corpus and
    appending the other half must answer queries identically to a
    fresh build over the whole corpus (and to the fused cross run)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    half1 = corpus.filter(F.col("doc_id") % 2 == 0)
    half2 = corpus.filter(F.col("doc_id") % 2 == 1)
    idx_a = str(tmp_path / "grown")
    dedup.lsh_write_index(half1, idx_a)
    dedup.lsh_append_index(half2, idx_a)
    idx_b = str(tmp_path / "fresh")
    dedup.lsh_write_index(corpus, idx_b)
    key = lambda r: (r["id_new"], r["id_old"], r["jaccard"])
    got = sorted(map(key, dedup.minhash_cross_index(
        spark, idx_a, new, threshold=0.2).collect()))
    want = sorted(map(key, dedup.minhash_cross_index(
        spark, idx_b, new, threshold=0.2).collect()))
    fused = sorted(map(key, dedup.minhash_lsh_pairs_cross(
        new, corpus, threshold=0.2).collect()))
    assert got == want == fused and got


def test_lsh_append_crosses_hot_bucket_cap(spark, tmp_path):
    """A bucket that crosses max_bucket only AFTER an append must
    drop out of candidate generation exactly like a fresh rebuild
    would drop it (query-time capping from full counts)."""
    T = "alpha beta gamma delta epsilon zeta eta theta"
    mk = lambda rows: spark.createDataFrame(rows, ["doc_id", "text"])
    idx = str(tmp_path / "idx")
    dedup.lsh_write_index(mk([(10, T), (11, T)]), idx, max_bucket=2)
    probe = mk([(1, T)])
    # 2 holders <= cap: the probe finds both corpus copies
    before = dedup.minhash_cross_index(spark, idx, probe,
                                       threshold=0.5).collect()
    assert {r["id_old"] for r in before} == {10, 11}
    dedup.lsh_append_index(mk([(12, T)]), idx)
    after = dedup.minhash_cross_index(spark, idx, probe,
                                      threshold=0.5).collect()
    fresh = str(tmp_path / "fresh")
    dedup.lsh_write_index(mk([(10, T), (11, T), (12, T)]), fresh,
                          max_bucket=2)
    fresh_rows = dedup.minhash_cross_index(spark, fresh, probe,
                                           threshold=0.5).collect()
    assert after == fresh_rows == []  # hot bucket dropped both ways


def test_lsh_compact_index_preserves_queries(spark, sf_dir, tmp_path):
    """Compaction after appends shrinks the file count and changes
    nothing else: identical query output, staleness guard still
    green on the refreshed fingerprints."""
    import glob
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    idx = str(tmp_path / "idx")
    dedup.lsh_write_index(corpus.filter(F.col("doc_id") % 3 == 0), idx)
    dedup.lsh_append_index(corpus.filter(F.col("doc_id") % 3 == 1), idx)
    dedup.lsh_append_index(corpus.filter(F.col("doc_id") % 3 == 2), idx)
    key = lambda r: (r["id_new"], r["id_old"], r["jaccard"])
    before = sorted(map(key, dedup.minhash_cross_index(
        spark, idx, new, threshold=0.2).collect()))
    nf = lambda: len(glob.glob(f"{idx}/buckets/_band=*/*.parquet")) \
        + len(glob.glob(f"{idx}/shingles/*.parquet"))
    n_before = nf()
    dedup.lsh_compact_index(spark, idx)
    assert nf() < n_before
    # exactly one file per band directory
    bands = glob.glob(f"{idx}/buckets/_band=*")
    assert bands and all(
        len(glob.glob(f"{d}/*.parquet")) == 1 for d in bands)
    after = sorted(map(key, dedup.minhash_cross_index(
        spark, idx, new, threshold=0.2).collect()))
    assert after == before and after


def test_minhash_cross_index_stream_cross_batch(spark, sf_dir,
                                                tmp_path):
    """Streaming ingest vs the persisted LSH index (stream-static
    join, stateless): per micro-batch, the emitted pairs — after the
    documented per-batch distinct over the per-band emissions —
    equal the batch index query on that batch's rows; across two
    micro-batches the union equals the batch query on the union.
    Also pins batch-input dispatch to the batch twin."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    idx = str(tmp_path / "lsh_idx")
    dedup.lsh_write_index(corpus, idx)
    # split the arriving batch into two micro-batches (one file each)
    half = new.filter(F.col("doc_id") % 2 == 0)
    rest = new.filter(F.col("doc_id") % 2 == 1)
    d = tmp_path / "arrivals"
    d.mkdir()
    half.coalesce(1).write.parquet(str(d / "b1"))
    sdf = (spark.readStream.schema(new.schema)
           .option("maxFilesPerTrigger", 1)
           .parquet(str(d / "*")))
    out = dedup.minhash_cross_index_stream(spark, idx, sdf,
                                           threshold=0.2)
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("t_mci")
         .outputMode("append").start())
    q.processAllAvailable()
    rest.coalesce(1).write.parquet(str(d / "b2"))
    q.processAllAvailable()
    q.stop()
    got = {(r["id_new"], r["id_old"], r["jaccard"]) for r in
           spark.sql("select distinct id_new, id_old, jaccard "
                     "from t_mci").collect()}
    want = {(r["id_new"], r["id_old"], r["jaccard"]) for r in
            dedup.minhash_cross_index(spark, idx, new,
                                      threshold=0.2).collect()}
    assert got == want and got
    # batch input dispatches to the batch twin (no band column)
    b = dedup.minhash_cross_index_stream(spark, idx, new,
                                         threshold=0.2)
    assert not b.isStreaming and b.columns == ["id_new", "id_old",
                                               "jaccard"]


def test_minhash_cross_index_stream_refuses_stale_index(spark,
                                                       tmp_path):
    """The streaming index query checks the sidecar fingerprints at
    plan-build time, like the batch query: a bucket data file removed
    after the write makes it refuse the index."""
    import glob as _glob
    import os as _os
    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta word{i} epsilon zeta")
         for i in range(8)], ["doc_id", "text"])
    idx = str(tmp_path / "lsh_idx")
    dedup.lsh_write_index(corpus, idx)
    arrivals = str(tmp_path / "arrivals")
    corpus.limit(2).write.parquet(arrivals)
    sdf = spark.readStream.schema(corpus.schema).parquet(arrivals)
    assert dedup.minhash_cross_index_stream(
        spark, idx, sdf, cache_static=False).isStreaming
    _os.remove(_glob.glob(f"{idx}/buckets/_band=*/part-*.parquet")[0])
    with pytest.raises(ValueError, match="stale index"):
        dedup.minhash_cross_index_stream(spark, idx, sdf)


def test_minhash_cross_shared_ids_and_bands_guard(spark):
    """Sides may reuse id values (verify joins each side's own
    shingles — no cross-contamination), and degenerate banding is
    refused like the self-join."""
    new = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta"),
         (2, "totally different words entirely here now")],
        ["doc_id", "text"])
    out = dedup.minhash_lsh_pairs_cross(new, corpus,
                                        threshold=0.3).collect()
    assert [(r["id_new"], r["id_old"]) for r in out] == [(1, 1)]
    assert 0.5 < out[0]["jaccard"] < 1.0  # each side's OWN shingles
    with pytest.raises(ValueError, match="bands"):
        dedup.minhash_lsh_pairs_cross(new, corpus, bands=7)


def test_bloom_decontaminate_brute_force(spark):
    """Per-doc bloom hits match a pure-Python bloom built with the
    same md5 probe family — false positives and all."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the dog")],
        ["doc_id", "text"])
    docs = spark.createDataFrame([
        (0, "the quick brown fox runs fast today ok"),
        (1, "completely different words here entirely now"),
        (2, "tiny"),                                    # no shingles
    ], ["doc_id", "text"])
    m, h, k = 4096, 3, 3
    got = {r["doc_id"]: r for r in dedup.bloom_decontaminate(
        docs, bench, k=k, m_bits=m, n_hashes=h).collect()}

    import hashlib

    def probe(i, g):
        return int(hashlib.md5(g.encode())
                   .hexdigest()[8 * i:8 * i + 8], 16) % m

    def sh(t):
        toks = t.split()
        return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}

    bloom = set()
    for g in sh("the quick brown fox jumps over the dog"):
        for i in range(h):
            bloom.add(probe(i, g))
    for did, text in [(0, "the quick brown fox runs fast today ok"),
                      (1, "completely different words here entirely now"),
                      (2, "tiny")]:
        s = sh(text)
        hits = sum(1 for g in s
                   if all(probe(i, g) in bloom for i in range(h)))
        assert got[did]["n_shingles"] == len(s)
        assert got[did]["n_bloom_hits"] == hits, did
        expected = round(hits / len(s), 6) if s else 0.0
        assert abs(got[did]["bloom_contamination"] - expected) < 1e-9


def test_bloom_decontaminate_no_false_negatives(spark, sf_dir):
    """Every exact-join contaminated shingle also hits the bloom:
    bloom hit count >= exact count per document, and with a
    generously sized bitmap the two coincide on this corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    exact = {r["doc_id"]: r["n_contaminated"] for r in
             dedup.contamination_scores(corpus, bench, k=5).collect()}
    bloom = {r["doc_id"]: r["n_bloom_hits"] for r in
             dedup.bloom_decontaminate(
                 corpus, bench, k=5, m_bits=1 << 17).collect()}
    assert set(exact) == set(bloom)
    assert all(bloom[d] >= exact[d] for d in exact)
    # false positives are EXPECTED bloom behavior, just rare: ~9k of
    # 2^17 bits set -> (0.07)^3 = 3e-4 per shingle, ~28k corpus
    # shingles -> E[excess] ~ 9. Bound it well above the mean.
    excess = sum(bloom[d] - exact[d] for d in exact)
    assert excess <= 60, excess


def test_bloom_decontaminate_empty_benchmark_and_guards(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], ["doc_id", "text"])
    empty = docs.filter(F.col("doc_id") < 0)
    out = dedup.bloom_decontaminate(docs, empty, k=2,
                                    m_bits=1024).collect()
    assert out[0]["n_bloom_hits"] == 0
    assert out[0]["bloom_contamination"] == 0.0
    with pytest.raises(ValueError, match="m_bits"):
        dedup.bloom_decontaminate(docs, empty, m_bits=1001)


def test_stream_through_bloom_decon(spark, sf_dir):
    """DSL surface: STREAM ... THROUGH bloom_decon(...)."""
    import piglet_spark as pg
    eng = pg.PigEngine(spark)
    eng.run(f"""
D = LOAD '{sf_dir}/documents.parquet' USING ParquetStorage();
C = STREAM D THROUGH bloom_decon('src0', 5, 131072, 3);
""")
    rows = eng.df("C").collect()
    assert rows and all(0.0 <= r["bloom_contamination"] <= 1.0
                        for r in rows)
    assert eng.df("C").columns == [
        "doc_id", "n_shingles", "n_bloom_hits", "bloom_contamination"]


def test_stream_through_minhash_cross_index(spark, sf_dir, tmp_path):
    """DSL surface: STREAM ... THROUGH minhash_cross_index(path, thr)
    — batch input dispatches to the batch index query."""
    import piglet_spark as pg
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = str(tmp_path / "lsh_idx")
    dedup.lsh_write_index(docs.filter(F.col("source") != "src0"), idx)
    eng = pg.PigEngine(spark)
    eng.run(f"""
D = LOAD '{sf_dir}/documents.parquet' USING ParquetStorage();
N = FILTER D BY source == 'src0';
P = STREAM N THROUGH minhash_cross_index('{idx}', 0.2);
""")
    got = {(r["id_new"], r["id_old"], r["jaccard"])
           for r in eng.df("P").collect()}
    want = {(r["id_new"], r["id_old"], r["jaccard"]) for r in
            dedup.minhash_cross_index(
                spark, idx, docs.filter(F.col("source") == "src0"),
                threshold=0.2).collect()}
    assert got == want and got


def test_bloom_write_load_matches_direct(spark, sf_dir, tmp_path):
    """A bitmap persisted by bloom_write and loaded via bloom_path
    reproduces the direct bench_df run exactly (false positives and
    all); sidecar parameters override mismatched call-site values."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    p = str(tmp_path / "bench.bloom.json")
    dedup.bloom_write(bench, p, k=5, m_bits=1 << 17, n_hashes=3)
    direct = sorted(tuple(r) for r in dedup.bloom_decontaminate(
        corpus, bench, k=5, m_bits=1 << 17, n_hashes=3).collect())
    # deliberately wrong call-site params — the sidecar must win
    loaded = sorted(tuple(r) for r in dedup.bloom_decontaminate(
        corpus, None, k=9, m_bits=1 << 14, n_hashes=1,
        bloom_path=p).collect())
    assert loaded == direct and loaded
    with pytest.raises(ValueError, match="bench_df or bloom_path"):
        dedup.bloom_decontaminate(corpus, None)


def test_bloom_build_job_failure_propagates(spark, monkeypatch):
    """A failed bitmap-fill job surfaces; it is not retried through
    the row-collect path."""
    bench = spark.createDataFrame([(0, "the quick brown fox jumps")],
                                  ["doc_id", "text"])

    def boom(self):
        raise RuntimeError("job failed")
    monkeypatch.setattr(type(bench), "toArrow", boom)
    with pytest.raises(RuntimeError, match="job failed"):
        dedup.bloom_decontaminate(bench, bench, k=2, m_bits=1 << 14)


def test_bloom_decontaminate_auto_sizing(spark):
    """m_bits='auto' sizes the bitmap from the measured benchmark
    (next pow2 >= 16 bits/shingle, floor 2^14) and behaves like the
    equivalent fixed size."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the dog")],
        ["doc_id", "text"])
    docs = spark.createDataFrame(
        [(0, "the quick brown fox runs fast today ok")],
        ["doc_id", "text"])
    auto = dedup.bloom_decontaminate(
        docs, bench, k=3, m_bits="auto").collect()
    fixed = dedup.bloom_decontaminate(
        docs, bench, k=3, m_bits=1 << 14).collect()  # floor applies
    assert [tuple(r) for r in auto] == [tuple(r) for r in fixed]
    with pytest.raises(ValueError, match="m_bits"):
        dedup.bloom_decontaminate(docs, bench, m_bits="big")


def test_corpus_report_brute_force(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s1"),
        (1, "the quick brown fox jumps over the lazy dog", "en", "s1"),
        (2, "der schnelle braune fuchs", "de", "s1"),
        (3, "one two three", "en", "s2"),
        (4, "uno dos tres cuatro cinco", None, "s2"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    got = {r["source"]: r for r in text.corpus_report(df).collect()}
    s1, s2 = got["s1"], got["s2"]
    assert s1["n_docs"] == 3 and s2["n_docs"] == 2
    assert s1["n_tokens"] == 9 + 9 + 4
    assert s2["n_tokens"] == 3 + 5
    # docs 0 and 1 are exact duplicates -> 1 extra copy of 3 docs
    assert abs(s1["dup_rate"] - round(1 / 3, 6)) < 1e-9
    assert s2["dup_rate"] == 0.0
    assert s1["n_langs"] == 2 and s2["n_langs"] == 2
    # s1 mode: en (2) over de (1); s2 tie 1-1 -> lexicographically
    # largest of {'en', 'unknown'}
    assert s1["top_lang"] == "en"
    assert s2["top_lang"] == "unknown"
    assert abs(s1["avg_doc_tokens"] - round(22 / 3, 6)) < 1e-9


def test_corpus_report_stream_through(spark, sf_dir):
    import piglet_spark as pg
    eng = pg.PigEngine(spark)
    eng.run(f"""
D = LOAD '{sf_dir}/documents.parquet' USING ParquetStorage();
R = STREAM D THROUGH corpus_report('source');
""")
    rows = eng.df("R").collect()
    assert rows and all(r["n_docs"] > 0 for r in rows)
    assert eng.df("R").columns == [
        "source", "n_docs", "n_tokens", "avg_doc_tokens",
        "avg_quality", "dup_rate", "n_langs", "top_lang"]


def test_rowwise_banded_matches_aggregated(spark, sf_dir):
    """The streaming (Arrow) signature/bucket kernel yields the values
    and dtypes of the aggregated batch path (minhash_signatures +
    _band_buckets) — the invariant that makes streaming ingest find
    exactly the buckets a batch re-run would."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .limit(60))
    fast = dedup._rowwise_banded_pandas(docs, "text", "doc_id", 32, 8, 3)
    batch = dedup._band_buckets(
        dedup.minhash_signatures(docs, "text", "doc_id", 32, 3), 8, 4,
        keep=("_sig",))
    cols = ["_id", "_sig", "_band", "_bucket"]
    assert fast.select(cols).dtypes == batch.select(cols).dtypes
    key = lambda df: {(r["_id"], r["_band"]): (r["_bucket"], tuple(r["_sig"]))
                      for r in df.collect()}
    got = key(fast)
    assert got == key(batch) and len(got) == 60 * 8


def test_neardup_first_seen_brute_force(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta iota"),   # near 0
        (2, "one two three four five six seven eight"),
        (3, "alpha beta gamma delta epsilon zeta eta theta"),  # exact 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["id_a"], r["id_b"], r["band"]): r["est_jaccard"]
           for r in dedup.neardup_pairs_first_seen(
               df, threshold=0.5).collect()}
    # brute force: sigs via the library, min-id holder per bucket
    sigs = {r["_id"]: list(r["_sig"]) for r in
            dedup.minhash_signatures(df, "text", "doc_id", 32, 3)
            .collect()}
    bkts = {}
    for r in dedup._band_buckets(
            dedup.minhash_signatures(df, "text", "doc_id", 32, 3),
            8, 4).collect():
        bkts.setdefault((r["_band"], r["_bucket"]), []).append(r["_id"])
    want = {}
    for (band, _), members in bkts.items():
        fid = min(members)
        for m in members:
            if m == fid:
                continue
            agree = sum(1 for a, b in zip(sigs[m], sigs[fid]) if a == b)
            est = round(agree / 32.0, 6)
            if est >= 0.5:
                want[(m, fid, band)] = est
    assert got == want and got
    # exact copy of doc 0 agrees on every hash in every shared bucket
    assert all(abs(v - 1.0) < 1e-9 for (a, b, _), v in got.items()
               if (a, b) == (3, 0))


def test_streaming_neardup_batch_dispatch(spark):
    """streaming_neardup_pairs on a BATCH frame dispatches to the
    first-seen twin."""
    rows = [(0, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon zeta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = sorted(map(tuple, dedup.streaming_neardup_pairs(df).collect()))
    b = sorted(map(tuple,
                   dedup.neardup_pairs_first_seen(df).collect()))
    assert a == b and a


def test_sessionize_brute_force(spark):
    from piglet_spark.datapipe import events as ev
    import datetime as dt
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        # user 1: two sessions (gap 100s, threshold 60)
        (1, 1, t0),
        (2, 1, t0 + dt.timedelta(seconds=30)),
        (3, 1, t0 + dt.timedelta(seconds=130)),
        # user 2: one session, tie on ts broken by event_id
        (4, 2, t0),
        (5, 2, t0),
        # sub-second boundary: 60.000001s gap -> NEW session
        (6, 3, t0),
        (7, 3, t0 + dt.timedelta(seconds=60, microseconds=1)),
        # exactly 60s gap -> SAME session (strict >)
        (8, 4, t0),
        (9, 4, t0 + dt.timedelta(seconds=60)),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    got = {r["event_id"]: (r["session_seq"], r["session_id"])
           for r in ev.sessionize(df, gap_sec=60).collect()}
    assert got[1] == (1, "1-1") and got[2] == (1, "1-1")
    assert got[3] == (2, "1-2")
    assert got[4] == (1, "2-1") and got[5] == (1, "2-1")
    assert got[6] == (1, "3-1") and got[7] == (2, "3-2")
    assert got[8] == (1, "4-1") and got[9] == (1, "4-1")
    st = {(r["user_id"], r["session_seq"]): (r["n_events"],
                                             r["duration_sec"])
          for r in ev.session_stats(df, gap_sec=60).collect()}
    assert st[(1, 1)] == (2, 30.0) and st[(1, 2)] == (1, 0.0)
    assert st[(4, 1)] == (2, 60.0)


def test_sessionize_single_exchange(spark):
    """Both window passes (lag + running sum) share one hash
    partitioning on the user key — exactly one Exchange in the
    plan."""
    from piglet_spark.datapipe import events as ev
    df = spark.createDataFrame(
        [(1, 1, "2026-01-01 00:00:00")], ["event_id", "user_id", "s"]
    ).withColumn("ts", F.to_timestamp("s")).drop("s")
    plan = ev.sessionize(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_session_stats_stream_cross_batch(spark, tmp_path):
    """Native session_window aggregation: events of one logical
    session arriving in different micro-batches merge into ONE
    session row once the watermark closes it."""
    from piglet_spark.datapipe import events as ev
    d = tmp_path / "ev"
    d.mkdir()
    (d / "b1.csv").write_text(
        "1,1,2026-01-01 00:00:00\n"
        "2,1,2026-01-01 00:00:30\n")
    schema = "event_id long, user_id long, raw string"
    sdf = (spark.readStream.schema(schema).csv(str(d))
           .withColumn("ts", F.to_timestamp("raw")).drop("raw"))
    out = ev.session_stats_stream(sdf, gap_sec=60, watermark="0 seconds")
    q = (out.writeStream.format("memory").queryName("t_sess")
         .outputMode("append").start())
    q.processAllAvailable()
    # batch 2: continues the session (30s gap), then a far-future
    # event pushes the watermark past the session's close
    (d / "b2.csv").write_text(
        "3,1,2026-01-01 00:01:00\n"
        "4,9,2026-01-02 00:00:00\n")
    q.processAllAvailable()
    (d / "b3.csv").write_text("5,9,2026-01-03 00:00:00\n")
    q.processAllAvailable()
    q.stop()
    rows = {(r["user_id"], r["n_events"])
            for r in spark.sql("select * from t_sess").collect()}
    assert (1, 3) in rows, rows  # the 3 events merged into 1 session


def test_sessionize_stream_through(spark, sf_dir):
    import piglet_spark as pg
    eng = pg.PigEngine(spark)
    eng.run(f"""
E = LOAD '{sf_dir}/events.parquet' USING ParquetStorage();
S = STREAM E THROUGH sessionize(1800);
T = STREAM E THROUGH session_stats(1800);
""")
    srows = eng.df("S").limit(5).collect()
    assert srows and all(r["session_seq"] >= 1 for r in srows)
    assert eng.df("T").columns == [
        "user_id", "session_seq", "n_events", "session_start",
        "session_end", "duration_sec"]


def test_compression_ratio_brute_force(spark):
    import zlib
    rows = [(0, "abab" * 50),                 # highly repetitive
            (1, "the quick brown fox jumps over one lazy dog"),
            (2, ""), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           text.compression_ratio(df).collect()}
    for did, t in rows:
        raw = (t or "").encode()
        assert got[did]["n_bytes"] == len(raw)
        assert got[did]["n_compressed"] == len(zlib.compress(raw, 6))
        want = round(len(zlib.compress(raw, 6)) / len(raw), 6) \
            if raw else 0.0
        assert abs(got[did]["compression_ratio"] - want) < 1e-9
    # the repetitive doc compresses far better than the natural one
    assert (got[0]["compression_ratio"]
            < got[1]["compression_ratio"] * 0.5)


def test_compression_ratio_stream_through(spark, sf_dir):
    import piglet_spark as pg
    eng = pg.PigEngine(spark)
    eng.run(f"""
D = LOAD '{sf_dir}/documents.parquet' USING ParquetStorage();
C = STREAM D THROUGH compression_ratio(1);
""")
    rows = eng.df("C").limit(20).collect()
    assert rows and all(0 < r["compression_ratio"] <= 1.2
                        for r in rows)


def test_bm25_topk_brute_force(spark):
    """bm25_topk vs a python brute-force reference: Lucene idf
    ln(1+(N-df+.5)/(df+.5)), dl = whitespace tokens of the raw text,
    round-6 before the per-query rank (ties -> ascending id)."""
    import math
    from collections import Counter
    rows = [
        (0, "apple banana apple cherry"),
        (1, "banana cherry cherry date"),
        (2, "apple apple apple elderberry date"),
        (3, ""),
        (4, "Apple, banana!  cherry date"),  # punctuation/space noise
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    queries = [(7, "apple date"), (8, "cherry"), (9, "missingword")]
    got = text.bm25_topk(df, queries, k=3).collect()

    import re
    toks = {i: re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().split()
            for i, t in rows if t.strip()}
    dls = {i: len(t.split()) for i, t in rows if t.strip()}
    n = len(rows)
    avgdl = sum(dls.get(i, 0) for i, t in rows) / n
    qterms = {qid: sorted(set(q.split())) for qid, q in queries}
    terms = {w for ws in qterms.values() for w in ws}
    tf = {(i, w): Counter(ws)[w] for i, ws in toks.items()
          for w in terms if Counter(ws)[w]}
    dfreq = Counter(w for (_, w) in tf)
    exp = {}
    for qid, ws in qterms.items():
        scored = {}
        for i in toks:
            s = 0.0
            for w in ws:
                f = tf.get((i, w), 0)
                if not f:
                    continue
                idf = math.log(1 + (n - dfreq[w] + 0.5) / (dfreq[w] + 0.5))
                s += idf * f * 2.2 / (f + 1.2 * (0.25 + 0.75
                                                 * dls[i] / avgdl))
            if s:
                scored[i] = round(s, 6)
        top = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        exp[qid] = [(i, s, r + 1) for r, (i, s) in enumerate(top)]
    got_by_q = {}
    for r in got:
        got_by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"], r["rank"]))
    for qid in got_by_q:
        got_by_q[qid].sort(key=lambda x: x[2])
    assert 9 not in got_by_q  # no doc matches -> no rows
    for qid, want in exp.items():
        if want:
            assert got_by_q[qid] == want, (qid, got_by_q[qid], want)
        else:
            assert qid not in got_by_q


def test_bm25_topk_validates_inputs(spark):
    df = spark.createDataFrame([(0, "a")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        text.bm25_topk(df, [])
    with pytest.raises(ValueError):
        text.bm25_topk(df, [(1, "...")])  # normalizes to no terms


def test_knn_join_band_hard_negatives(spark, sf_dir):
    """band=(lo, hi) (hard-negative mining): every returned cosine is
    inside [lo, hi); per query the result is the top-k of the FULL
    band-restricted candidate set (brute-force check); blas agrees
    with exact bit-for-bit under a band; invalid bands raise."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    lo, hi = 0.15, 0.30
    key = lambda r: (r["qid"], r["nbr_id"], r["cos"])
    ex = sorted(map(key, similarity.knn_join(
        emb, qs, k=5, method="exact", band=(lo, hi)).collect()))
    assert ex and all(lo <= c < hi for _, _, c in ex)

    # brute force: rank only band members
    import math
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.collect()}
    want = []
    for qid in sorted(v for v in vecs if v % 50 == 0):
        q = vecs[qid]
        nq = math.sqrt(sum(x * x for x in q))
        scored = []
        for nid, v in vecs.items():
            if nid == qid:
                continue
            dot = 0.0
            na = 0.0
            for a, b in zip(v, q):
                dot += a * b
                na += a * a
            c = round(dot / (math.sqrt(na) * nq), 6)
            if lo <= c < hi:
                scored.append((c, nid))
        top = sorted(scored, key=lambda t: (-t[0], t[1]))[:5]
        want += [(qid, nid, c) for c, nid in top]
    assert ex == sorted(want)

    bl = sorted(map(key, similarity.knn_join(
        emb, qs, k=5, method="blas", band=(lo, hi)).collect()))
    assert ex == bl

    with pytest.raises(ValueError):
        similarity.knn_join(emb, qs, band=(0.5, 0.5))


def test_bm25_and_hard_negatives_via_stream_through(spark, tmp_path):
    """bm25 and hard_negatives are reachable from the Pig DSL and
    agree with the direct library calls."""
    import piglet_spark as pg
    rows = [(0, "apple banana apple cherry"),
            (1, "banana cherry cherry date"),
            (2, "apple apple date elderberry")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    p = tmp_path / "docs.parquet"
    df.write.mode("overwrite").parquet(str(p))
    eng = pg.PigEngine(spark)
    env = eng.run(f"""
D = LOAD '{p}' USING ParquetStorage();
R = STREAM D THROUGH bm25('apple date|cherry', 2);
""")
    got = sorted(tuple(r) for r in env["R"].collect())
    want = sorted(tuple(r) for r in text.bm25_topk(
        df, [(1, "apple date"), (2, "cherry")], k=2).collect())
    assert got == want and len(got) > 0

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pe = tmp_path / "emb.parquet"
    emb.write.mode("overwrite").parquet(str(pe))
    env = eng.run(f"""
E = LOAD '{pe}' USING ParquetStorage();
H = STREAM E THROUGH hard_negatives(0.15, 0.30, 100, 5);
""")
    got = sorted(tuple(r) for r in env["H"].collect())
    want = sorted(tuple(r) for r in similarity.knn_join(
        emb, emb.filter(F.col("vec_id") % 100 == 0), k=5,
        method="exact", band=(0.15, 0.30)).collect())
    assert got == want and len(got) > 0


def test_scaled_max_df_formula_and_equivalence(spark):
    """_scaled_max_df: pure integer math with the documented clamps;
    max_df='scale' on a small corpus equals the explicit base cap
    (the cap never binds at oracle-gate scales)."""
    f = dedup._scaled_max_df
    assert f(1) == 256 and f(100_000) == 256
    assert f(500_000) == 114 and f(5_000_000) == 36
    assert f(10**12) == 16  # lo clamp
    rows = [(i, f"w{i} w{i+1} w{i+2} common gram here") for i in range(8)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    key = lambda r: (r["id_a"], r["id_b"], r["jaccard"])
    a = sorted(map(key, dedup.ngram_jaccard_pairs(
        df, threshold=0.1, max_df="scale").collect()))
    b = sorted(map(key, dedup.ngram_jaccard_pairs(
        df, threshold=0.1, max_df=256).collect()))
    assert a == b and len(a) > 0
    # n_docs hint skips the count job and gives the same cap path
    c = sorted(map(key, dedup.ngram_jaccard_pairs(
        df, threshold=0.1, max_df="scale", n_docs=8).collect()))
    assert c == a


def test_ngram_jaccard_slices_and_big_plan_invariant(docs):
    """The r09 scale plumbing never changes values: hash-sliced
    co-occurrence (any n_slices) and the known-big plan (width
    overrides + broadcast size joins, forced via the n_docs hint)
    both equal the single-pass plan exactly — each (doc, doc,
    shingle) triple lands in exactly one slice, partial counts sum."""
    ref = sorted(tuple(r) for r in dedup.ngram_jaccard_pairs(
        docs, threshold=0.2, n_slices=1).collect())
    assert ref  # non-vacuous
    for kw in ({"n_slices": 3},
               {"n_slices": 4, "max_df": 3},
               {"n_docs": 2_000_000},           # auto slices + width
               {"n_docs": 25_000_000}):         # big but no broadcast
        got = sorted(tuple(r) for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.2, **kw).collect())
        assert got == ref, kw
