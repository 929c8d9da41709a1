"""Training-set assembly operators (datapipe/pack.py): sequence
packing, mixture sampling, DSIR weights — each verified against a
brute-force pure-Python reference, plus STREAM THROUGH wiring."""

import hashlib
import math
import re

import pytest

from piglet_spark.datapipe import pack, util


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _norm(t: str) -> str:
    t = t.lower()
    t = re.sub("[^a-z0-9 ]", " ", t)
    return re.sub(" +", " ", t).strip()


@pytest.fixture(scope="module")
def corpus(spark):
    # ~50 docs, variable lengths, one empty and one whitespace-only
    rows = []
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    for i in range(50):
        n = (i * 7) % 13  # 0..12 tokens, several zero-length docs
        text = " ".join(words[(i + j) % len(words)] for j in range(n))
        rows.append((i, text, f"src{i % 4}"))
    rows.append((50, "   ", "src0"))  # whitespace-only → 0 tokens
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


# ------------------------------------------------------- chunk_pack

def test_chunk_pack_matches_bruteforce(corpus):
    seq_len = 8
    out = {r["doc_id"]: r for r in
           pack.chunk_pack(corpus, seq_len=seq_len).collect()}
    rows = sorted(corpus.collect(), key=lambda r: r["doc_id"])
    off = 0
    for r in rows:
        n = len(_ws_tokens(r["text"]))
        got = out[r["doc_id"]]
        assert got["n_tokens"] == n, r["doc_id"]
        assert got["start_tok"] == off, r["doc_id"]
        assert got["first_chunk"] == off // seq_len
        last = (off + n - 1) // seq_len if n > 0 else off // seq_len
        assert got["last_chunk"] == last, r["doc_id"]
        assert got["chunk_offset"] == off % seq_len
        off += n
    assert len(out) == len(rows)


def _ws_tokens(t: str):
    t = t.strip()
    return t.split() if t else []


def test_chunk_pack_precomputed_token_col(corpus, spark):
    from pyspark.sql import functions as F
    with_tok = corpus.withColumn("n_tok", F.lit(3))
    out = pack.chunk_pack(with_tok, seq_len=5,
                          token_col="n_tok").collect()
    by_id = {r["doc_id"]: r for r in out}
    # every doc contributes exactly 3 tokens → start = 3 * doc_id
    for r in out:
        assert r["n_tokens"] == 3
        assert r["start_tok"] == 3 * r["doc_id"]
    assert by_id[50]["first_chunk"] == (3 * 50) // 5


# --------------------------------------------------- mixture_sample

def test_mixture_sample_matches_hash_reference(corpus):
    rates = {"src0": 0.9, "src1": 0.4, "src2": 0.0}
    seed = 7
    kept = {r["doc_id"] for r in
            pack.mixture_sample(corpus, rates, seed=seed,
                                default_rate=0.25).collect()}
    expect = set()
    for r in corpus.collect():
        rate = rates.get(r["source"], 0.25)
        h = _h32(f"{seed}|{r['doc_id']}")
        if h < int(rate * 4294967296):
            expect.add(r["doc_id"])
    assert kept == expect
    # src2 rate 0 → none of its rows survive
    assert not any(d % 4 == 2 for d in kept if d < 50)


def test_mixture_sample_deterministic_and_clamped(corpus):
    a = {r["doc_id"] for r in
         pack.mixture_sample(corpus, {"src0": 5.0}).collect()}
    b = {r["doc_id"] for r in
         pack.mixture_sample(corpus, {"src0": 5.0}).collect()}
    assert a == b
    # rate ≥ 1 clamps to keep-all for that source
    src0 = {r["doc_id"] for r in corpus.collect() if r["source"] == "src0"}
    assert src0 <= a


# ----------------------------------------------------- dsir_weights

def _brute_dsir(raw_rows, tgt_rows, n_buckets, alpha=1.0):
    def buckets(rows):
        out = []
        for _id, text in rows:
            for tok in _norm(text).split():
                if tok:
                    out.append((_id, _h32(tok) % n_buckets))
        return out

    def probs(bks, total):
        from collections import Counter
        cnt = Counter(b for _, b in bks)
        tot = len(bks)
        return ({b: (c + alpha) / (tot + alpha * n_buckets)
                 for b, c in cnt.items()},
                alpha / (total + alpha * n_buckets))

    tb, rb = buckets(tgt_rows), buckets(raw_rows)
    # fallback denominators use ws-token totals of the *normalized*…
    # no: pack.py computes totals as ws_token_count(normalize_text)
    t_tot = sum(len(_norm(t).split()) for _, t in tgt_rows)
    r_tot = sum(len(_norm(t).split()) for _, t in raw_rows)
    pt, t_fb = probs(tb, t_tot)
    pr, r_fb = probs(rb, r_tot)
    out = {}
    for _id, b in rb:
        lr = math.log(pt.get(b, t_fb) / pr.get(b, r_fb))
        n, s = out.get(_id, (0, 0.0))
        out[_id] = (n + 1, s + lr)
    for _id, _ in raw_rows:
        out.setdefault(_id, (0, 0.0))
    return {k: (n, round(s, 6)) for k, (n, s) in out.items()}


def test_dsir_weights_match_bruteforce(corpus):
    from pyspark.sql import functions as F
    raw = corpus.filter(F.col("source") != "src0")
    tgt = corpus.filter(F.col("source") == "src0")
    got = {r["doc_id"]: (r["n_feat"], r["dsir_logw"])
           for r in pack.dsir_weights(raw, tgt, n_buckets=64).collect()}
    want = _brute_dsir(
        [(r["doc_id"], r["text"]) for r in raw.collect()],
        [(r["doc_id"], r["text"]) for r in tgt.collect()], 64)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert got[k][1] == pytest.approx(want[k][1], abs=2e-6), k


def test_dsir_target_docs_score_higher(corpus, spark):
    # raw corpus containing exact copies of target docs must rank the
    # copies above unrelated docs
    tgt = spark.createDataFrame(
        [(100, "machine learning models train on tokens"),
         (101, "tokens and models and machine learning")],
        ["doc_id", "text"])
    raw = spark.createDataFrame(
        [(0, "machine learning models train on tokens"),
         (1, "cooking recipes with garlic and butter pasta"),
         (2, "garlic butter recipes cooking pasta dinner")],
        ["doc_id", "text"])
    w = {r["doc_id"]: r["dsir_logw"]
         for r in pack.dsir_weights(raw, tgt, n_buckets=256).collect()}
    assert w[0] > w[1] and w[0] > w[2]


def test_mixture_repeat_matches_hash_reference(corpus):
    rates = {"src0": 2.5, "src1": 0.5, "src2": 0.0}
    seed = 11
    out = pack.mixture_repeat(corpus, rates, seed=seed,
                              default_rate=1.0).collect()
    got = {}
    for r in out:
        got.setdefault(r["doc_id"], []).append(r["epoch"])
    expect = {}
    for r in corpus.collect():
        rate = rates.get(r["source"], 1.0)
        whole = int(rate)
        frac = rate - whole
        h = _h32(f"{seed}|{r['doc_id']}")
        n = whole + (1 if h < int(frac * 4294967296) else 0)
        if n >= 1:
            expect[r["doc_id"]] = list(range(n))
    assert {k: sorted(v) for k, v in got.items()} == expect
    # src0 rows appear 2 or 3 times; src2 rows never
    for r in corpus.collect():
        if r["source"] == "src0":
            assert len(expect.get(r["doc_id"], [])) in (2, 3)
        if r["source"] == "src2":
            assert r["doc_id"] not in expect


def test_chunk_text_covers_all_tokens(corpus):
    from piglet_spark.datapipe import text as dt
    size, overlap = 5, 2
    stride = size - overlap
    out = {}
    for r in dt.chunk_text(corpus, size=size, overlap=overlap).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["n_chunk_tokens"], r["chunk_text"]))
    for r in corpus.collect():
        toks = _ws_tokens(r["text"])
        chunks = sorted(out.get(r["doc_id"], []))
        if not toks:
            assert chunks == []
            continue
        n_exp = max(1, -(-(len(toks) - overlap) // stride))
        assert len(chunks) == n_exp, r["doc_id"]
        for i, (idx, ntk, txt) in enumerate(chunks):
            assert idx == i
            want = toks[i * stride:i * stride + size]
            assert txt.split() == want
            assert ntk == len(want)
        # every token covered: concat of stride-prefixes + last chunk
        rebuilt = []
        for i, (_, _, txt) in enumerate(chunks[:-1]):
            rebuilt += txt.split()[:stride]
        rebuilt += chunks[-1][2].split()
        assert rebuilt == toks


def test_chunk_text_overlap_validation(corpus):
    from piglet_spark.datapipe import text as dt
    with pytest.raises(ValueError):
        dt.chunk_text(corpus, size=4, overlap=4)


def test_dsir_resample_gumbel_matches_bruteforce(corpus):
    from pyspark.sql import functions as F
    raw = corpus.filter(F.col("source") != "src0")
    tgt = corpus.filter(F.col("source") == "src0")
    frac, seed, nb = 0.3, 9, 64
    kept = {r["doc_id"]: r for r in pack.dsir_resample(
        raw, tgt, n_buckets=nb, frac=frac, seed=seed).collect()}
    # brute force: weights + deterministic Gumbel key, top ceil(frac·n)
    w = _brute_dsir(
        [(r["doc_id"], r["text"]) for r in raw.collect()],
        [(r["doc_id"], r["text"]) for r in tgt.collect()], nb)
    keys = {}
    for _id, (_, logw) in w.items():
        u = (_h32(f"{seed}|{_id}") + 0.5) / 4294967296.0
        keys[_id] = round(logw + -math.log(-math.log(u)), 6)
    n = len(w)
    k = math.ceil(frac * n)
    order = sorted(keys, key=lambda i: (-keys[i], i))
    expect = set(order[:k])
    assert set(kept) == expect
    assert len(kept) == k
    for i in expect:
        assert kept[i]["sel_key"] == pytest.approx(keys[i], abs=2e-6)


def _assert_regimes_agree(monkeypatch, run):
    """``run()`` returns the same schema (dtypes and nullability) and
    the same rows under the default ``util.SMALL_ROWS`` gate and with
    the TeraSort two-phase rank forced."""
    def result():
        df = run()
        return df.schema, sorted(tuple(r) for r in df.collect())
    small = result()
    with monkeypatch.context() as m:
        m.setattr(util, "SMALL_ROWS", 0)
        tera = result()
    assert small[0] == tera[0]
    assert small[1] == tera[1] and len(small[1]) > 0


def test_dsir_resample_regimes_agree(corpus, monkeypatch):
    """The one-window regime (default gate) and the TeraSort
    two-phase rank (util.SMALL_ROWS = 0 forces it) select the
    identical set with identical keys and schema."""
    from pyspark.sql import functions as F
    raw = corpus.filter(F.col("source") != "src0")
    tgt = corpus.filter(F.col("source") == "src0")
    _assert_regimes_agree(monkeypatch, lambda: pack.dsir_resample(
        raw, tgt, n_buckets=64, frac=0.3, seed=9))


def test_dsir_resample_topk_prefers_target_like(corpus, spark):
    tgt = spark.createDataFrame(
        [(100, "machine learning models train on tokens")],
        ["doc_id", "text"])
    raw = spark.createDataFrame(
        [(0, "machine learning models train on tokens"),
         (1, "cooking recipes with garlic and butter pasta"),
         (2, "garlic butter recipes cooking pasta dinner"),
         (3, "unrelated text about sailing boats at sea")],
        ["doc_id", "text"])
    kept = pack.dsir_resample(raw, tgt, n_buckets=256, frac=0.25,
                              method="topk").collect()
    assert [r["doc_id"] for r in kept] == [0]  # ceil(.25*4)=1, best doc


# --------------------------------------------- STREAM THROUGH wiring

def test_pack_ops_registered_in_dsl(corpus, spark, tmp_path):
    import piglet_spark as pg
    p = tmp_path / "docs.parquet"
    corpus.write.mode("overwrite").parquet(str(p))
    eng = pg.PigEngine(spark)
    script = f"""
D = LOAD '{p}' USING ParquetStorage();
P = STREAM D THROUGH chunk_pack(8);
M = STREAM D THROUGH mixture_sample('src0:0.9,src1:0.4,src2:0.0', 7, 0.25);
W = STREAM D THROUGH dsir_weights('src0', 64);
R = STREAM D THROUGH dsir_resample('src0', 0.3, 64, 9);
"""
    env = eng.run(script)
    packed = {r["doc_id"]: r for r in env["P"].collect()}
    assert packed[0]["start_tok"] == 0 and len(packed) == 51
    kept = {r["doc_id"] for r in env["M"].collect()}
    direct = {r["doc_id"] for r in pack.mixture_sample(
        corpus, {"src0": 0.9, "src1": 0.4, "src2": 0.0}, seed=7,
        default_rate=0.25).collect()}
    assert kept == direct
    w = env["W"].collect()
    assert {r["doc_id"] for r in w} == \
        {r["doc_id"] for r in corpus.collect() if r["source"] != "src0"}
    direct_r = {r["doc_id"] for r in pack.dsir_resample(
        corpus.filter(corpus.source != "src0"),
        corpus.filter(corpus.source == "src0"),
        n_buckets=64, frac=0.3, seed=9).collect()}
    assert {r["doc_id"] for r in env["R"].collect()} == direct_r


def test_cap_per_group(corpus, spark):
    from piglet_spark.datapipe import dedup as dp
    out = dp.cap_per_group(corpus, "source", "doc_id", n=3).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    # every group capped at 3, keeping the LOWEST ids
    all_rows = {}
    for r in corpus.collect():
        all_rows.setdefault(r["source"], []).append(r["doc_id"])
    for src, ids in all_rows.items():
        assert sorted(by_src[src]) == sorted(ids)[:3]
    # original columns intact, no helper column leaks
    assert set(out[0].asDict()) == {"doc_id", "text", "source"}
    # DSL wiring
    import piglet_spark as pg
    import tempfile
    p = tempfile.mkdtemp() + "/c.parquet"
    corpus.write.mode("overwrite").parquet(p)
    eng = pg.PigEngine(spark)
    env = eng.run(f"""
D = LOAD '{p}' USING ParquetStorage();
C = STREAM D THROUGH cap_per_group(3);
""")
    assert env["C"].count() == len(out)


# --------------------------------------------------- global_shuffle

def test_global_shuffle_matches_bruteforce(corpus):
    """Positions must equal the reference permutation: rank by
    md5('seed:' || id) with id tie-break, 0-based and dense."""
    out = {r["doc_id"]: r["shuffle_pos"]
           for r in pack.global_shuffle(corpus, seed=7).collect()}
    ids = [r["doc_id"] for r in corpus.collect()]
    expect = {d: i for i, d in enumerate(
        sorted(ids, key=lambda d: (hashlib.md5(f"7:{d}".encode())
                                   .hexdigest(), d)))}
    assert out == expect


def test_global_shuffle_partitioning_invariant(corpus):
    """Same seed → the same permutation regardless of input
    partitioning (the property orderBy(rand(seed)) lacks)."""
    a = {r["doc_id"]: r["shuffle_pos"]
         for r in pack.global_shuffle(corpus, seed=3).collect()}
    b = {r["doc_id"]: r["shuffle_pos"]
         for r in pack.global_shuffle(
             corpus.repartition(13), seed=3).collect()}
    c = {r["doc_id"]: r["shuffle_pos"]
         for r in pack.global_shuffle(
             corpus.coalesce(1), seed=3).collect()}
    assert a == b == c
    assert sorted(a.values()) == list(range(len(a)))  # dense 0-based
    # a different seed is a different permutation
    d = {r["doc_id"]: r["shuffle_pos"]
         for r in pack.global_shuffle(corpus, seed=4).collect()}
    assert d != a and sorted(d.values()) == sorted(a.values())


def test_global_shuffle_keeps_columns_and_guards(corpus):
    out = pack.global_shuffle(corpus, seed=1)
    assert set(out.columns) == {"doc_id", "text", "source",
                                "shuffle_pos"}
    assert out.count() == corpus.count()
    with pytest.raises(ValueError, match="shuffle_pos"):
        pack.global_shuffle(pack.global_shuffle(corpus))
    with pytest.raises(ValueError, match="'__pid'"):
        pack.global_shuffle(
            corpus.withColumnRenamed("text", "__pid"))


def test_global_shuffle_via_stream_through(corpus, spark, tmp_path):
    from piglet_spark.engine import PigEngine
    p = str(tmp_path / "gs_docs")
    corpus.write.mode("overwrite").parquet(p)
    eng = PigEngine(spark)
    env = eng.run(f"""
D = LOAD '{p}' USING ParquetStorage();
S = STREAM D THROUGH global_shuffle(7);
""")
    got = {r["doc_id"]: r["shuffle_pos"] for r in env["S"].collect()}
    direct = {r["doc_id"]: r["shuffle_pos"]
              for r in pack.global_shuffle(corpus, seed=7).collect()}
    assert got == direct


# ---------------------------------------------------- take_top_frac

def test_take_top_frac_matches_bruteforce(corpus):
    """Kept set = the ceil(frac·n) rows with the largest round-6
    score, ties on id — computed brute-force."""
    rows = corpus.collect()
    scored = sorted(rows, key=lambda r: (-round(float(len(r["text"])), 6),
                                         r["doc_id"]))
    df = corpus.withColumn("score", pack.F.length("text"))
    out = pack.take_top_frac(df, "score", 0.3)
    want = {r["doc_id"] for r in scored[:math.ceil(0.3 * len(rows))]}
    got = {r["doc_id"] for r in out.collect()}
    assert got == want
    assert set(out.columns) == {"doc_id", "text", "source", "score"}


def test_take_top_frac_regimes_agree(corpus, monkeypatch):
    """The one-window regime and the TeraSort rank
    (util.SMALL_ROWS = 0) keep the identical rows with the identical
    schema, both directions."""
    df = corpus.withColumn("score", pack.F.length("text"))
    for asc in (False, True):
        _assert_regimes_agree(monkeypatch, lambda: pack.take_top_frac(
            df, "score", 0.3, ascending=asc))


def test_take_top_frac_ascending_and_nulls(spark):
    """ascending=True keeps the SMALLEST scores; null scores rank
    worst in both directions (never crowd out scored rows)."""
    df = spark.createDataFrame(
        [(0, 5.0), (1, 1.0), (2, None), (3, 3.0)],
        "doc_id int, ppl double")
    lo = {r["doc_id"] for r in
          pack.take_top_frac(df, "ppl", 0.5, ascending=True).collect()}
    assert lo == {1, 3}
    hi = {r["doc_id"] for r in
          pack.take_top_frac(df, "ppl", 0.5).collect()}
    assert hi == {0, 3}


def test_take_top_frac_bounds_and_guards(corpus):
    df = corpus.withColumn("score", pack.F.length("text"))
    assert pack.take_top_frac(df, "score", 0.0).count() == 0
    assert pack.take_top_frac(df, "score", 1.0).count() == corpus.count()
    with pytest.raises(ValueError, match="frac"):
        pack.take_top_frac(df, "score", 1.5)
    with pytest.raises(ValueError, match="'__rk'"):
        pack.take_top_frac(df.withColumnRenamed("text", "__rk"),
                           "score", 0.5)


def test_take_top_frac_via_stream_through(corpus, spark, tmp_path):
    from piglet_spark.engine import PigEngine
    p = str(tmp_path / "ttf_docs")
    corpus.write.mode("overwrite").parquet(p)
    eng = PigEngine(spark)
    env = eng.run(f"""
D = LOAD '{p}' USING ParquetStorage();
Q = FOREACH D GENERATE doc_id, source, STRLEN(text) AS score;
T = STREAM Q THROUGH take_top_frac('score', 0.3);
""")
    got = {r["doc_id"] for r in env["T"].collect()}
    rows = corpus.collect()
    want = {r["doc_id"] for r in sorted(
        rows, key=lambda r: (-round(float(len(r["text"])), 6),
                             r["doc_id"]))[:math.ceil(0.3 * len(rows))]}
    assert got == want


# ----------------------------------------------------- split_assign

def test_split_assign_matches_hash_reference(corpus):
    """Labels equal the reference computation: md5('seed|id') 32-bit
    prefix vs cumulative boundaries in sorted-label order."""
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    got = {r["doc_id"]: r["split"]
           for r in pack.split_assign(corpus, w, seed=7).collect()}

    def ref(d):
        h = int(hashlib.md5(f"7|{d}".encode()).hexdigest()[:8], 16)
        if h < int(0.05 * 2**32):
            return "test"
        if h < int(0.95 * 2**32):
            return "train"
        return "val"

    assert got == {r["doc_id"]: ref(r["doc_id"])
                   for r in corpus.collect()}
    # partition: every row labeled, all three present at this n
    assert set(got.values()) == {"train", "val", "test"}


def test_split_assign_stability_and_guards(corpus, spark):
    """Same seed → identical assignment regardless of partitioning;
    different seed reassigns; guards reject bad weights."""
    a = {r["doc_id"]: r["split"]
         for r in pack.split_assign(corpus, seed=1).collect()}
    b = {r["doc_id"]: r["split"]
         for r in pack.split_assign(corpus.repartition(13),
                                    seed=1).collect()}
    assert a == b
    c = {r["doc_id"]: r["split"]
         for r in pack.split_assign(corpus, seed=2).collect()}
    assert c != a
    with pytest.raises(ValueError, match="sum"):
        pack.split_assign(corpus, {"a": 0.9, "b": 0.2})
    with pytest.raises(ValueError, match=">= 0"):
        pack.split_assign(corpus, {"a": -0.1, "b": 0.5})
    with pytest.raises(ValueError, match="non-empty"):
        pack.split_assign(corpus, {})
    with pytest.raises(ValueError, match="'split'"):
        pack.split_assign(corpus.withColumnRenamed("text", "split"))
    # single label → everything gets it (degenerate but legal)
    one = pack.split_assign(corpus, {"all": 1.0}).collect()
    assert {r["split"] for r in one} == {"all"}


def test_split_assign_via_stream_through(corpus, spark, tmp_path):
    from piglet_spark.engine import PigEngine
    p = str(tmp_path / "sa_docs")
    corpus.write.mode("overwrite").parquet(p)
    eng = PigEngine(spark)
    env = eng.run(f"""
D = LOAD '{p}' USING ParquetStorage();
S = STREAM D THROUGH split_assign('train:0.8,val:0.2', 7);
""")
    got = {r["doc_id"]: r["split"] for r in env["S"].collect()}
    direct = {r["doc_id"]: r["split"] for r in pack.split_assign(
        corpus, {"train": 0.8, "val": 0.2}, seed=7).collect()}
    assert got == direct


def test_pack_small_window_regimes_agree(corpus, monkeypatch):
    """The single-window regime (default gate) and the TeraSort
    two-phase plan (util.SMALL_ROWS = 0 forces it) produce identical
    rows AND identical schemas (dtypes, nullability) for chunk_pack,
    global_shuffle and token_budget_sample — shuffle_pos is BIGINT in
    both. A null group is a group of its own in both regimes."""
    _assert_regimes_agree(
        monkeypatch, lambda: pack.chunk_pack(corpus, seq_len=8))
    _assert_regimes_agree(
        monkeypatch, lambda: pack.global_shuffle(corpus, seed=5))
    with_null = corpus.union(corpus.sparkSession.createDataFrame(
        [(51, "alpha beta", None), (52, "gamma", None)], corpus.schema))
    _assert_regimes_agree(monkeypatch, lambda: pack.token_budget_sample(
        with_null, 20, seed=5))
