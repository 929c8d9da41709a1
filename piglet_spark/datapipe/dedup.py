"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design (the point of each algorithm):
- exact: one hash-shuffle on a 128-bit fingerprint, never on raw text.
- MinHash/LSH: one pipeline for every entry point — shingle base →
  signatures (min aggregates, map-side partial aggregation; streams
  use the equal-valued Arrow kernel) → band buckets → (band, bucket)
  join, buckets tiny by construction → exact Jaccard. No O(n²) stage.
- verification joins fetch candidate pairs only (semi-join pattern).

All hash math uses portable md5-prefix hashes (``conv(substr(md5(x),
1, n), 16, 10)``) — deterministic across runs/partitionings AND
reproducible in ANSI SQL engines (DuckDB: ``('0x' || substr(md5(x),
1, n))::BIGINT``), so the driver oracle checks MinHash-LSH and
SimHash value-for-value. md5 costs ~5-10× more per byte than
xxhash64, but hashing is a small slice of these pipelines (the
normalize/shingle regex scan dominates); swap in ``F.xxhash64`` for
the last few percent if oracle parity is not needed.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import normalize_text, fingerprint, text_ngrams
from . import util
from .util import spread as _spread, cached_parquet, footer_fingerprint

# Mersenne prime for the universal-hash family h_i(x) = (a_i x + b_i) mod p
_P = (1 << 31) - 1  # Mersenne prime 2^31-1 (see _hash_params)


def _resolve_mode(spark) -> str:
    """How a multi-consumer stage materializes, picked per session:
      - a reliable checkpoint dir is configured → ``"reliable"``
        (sparkContext checkpoint dir, HDFS/S3): survives executor
        loss AND truncates lineage; best for multi-hour runs;
      - master is local[*] (single JVM, no executor loss) →
        ``"checkpoint"``: localCheckpoint, fastest measured locally
        (persist's cached plan adds unified-memory pressure: cluster
        query 4.2s vs 6.5s at sf0.1), but truncated lineage means an
        executor loss after materialization fails the job — never the
        choice off-local for exactly that reason;
      - real cluster master → ``"persist"``: recomputable on executor
        loss."""
    sc = spark.sparkContext
    try:
        ckdir = sc.getCheckpointDir()
    except Exception:
        ckdir = None
    if ckdir:
        return "reliable"
    if sc.master.startswith("local"):
        return "checkpoint"
    return "persist"


def _materialize(df: DataFrame) -> DataFrame:
    mode = _resolve_mode(df.sparkSession)
    if mode == "persist":
        # intentionally not unpersisted here: the returned plan
        # references the persisted relation lazily, so eager cleanup
        # would defeat the sharing. StorageLevel MEMORY_AND_DISK is
        # LRU-evictable under memory pressure (degrades, never
        # breaks); long-lived sessions issuing many dedup queries can
        # reclaim explicitly via spark.catalog.clearCache()
        return df.persist()
    # EAGER checkpoints (r03): a lazy checkpoint materializes during
    # whichever later action first touches it — if the originating
    # query execution's SQL-metric accumulators have been GC'd by
    # then, every completing task logs a benign-but-noisy
    # 'non-existent accumulator' DAGScheduler error (the r02 bench-
    # tail stack traces). Eager runs the job while the execution is
    # alive; measured timing-neutral (ngram 1.71 lazy vs 1.68 eager).
    if mode == "reliable":
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact (normalized) text
    fingerprint. Returns (keep_id, n_copies)."""
    return (_spread(df, id_col)
            # normalize+md5 map pass on a 1-row-group local scan
            # otherwise runs on 1 core; tiny inputs stay put (r11)
            .select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
            .groupBy("fp")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def cap_per_group(df: DataFrame, group_col: str = "source",
                  id_col: str = "doc_id", n: int = 1000) -> DataFrame:
    """Per-group document cap — the classic web-corpus hygiene rule
    "at most N documents per domain/source" (prevents one crawl
    bucket from dominating the mixture). Keeps the ``n`` lowest-id
    rows of each group (deterministic — identical selection on any
    engine/partitioning, and reproducible in plain SQL via
    ``row_number() OVER (PARTITION BY g ORDER BY id)``).

    Scale shape: one hash shuffle on the group key + per-group sorted
    window — parallel across groups; a group hot enough to straggle
    here is exactly the group being capped, and the filter drops its
    tail immediately after the window (no further stages see it)."""
    from pyspark.sql.window import Window

    if "__rn" in df.columns:
        raise ValueError(
            "cap_per_group: input already has a '__rn' column; rename it "
            "first (the helper uses '__rn' as its internal rank column)")
    rn = F.row_number().over(
        Window.partitionBy(group_col).orderBy(F.col(id_col).asc()))
    return (df.withColumn("__rn", rn)
            .filter(F.col("__rn") <= int(n))
            .drop("__rn"))


def line_dedup_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", min_len: int = 1,
                     granularity: str = "line") -> DataFrame:
    """Corpus-level duplicate-LINE (or paragraph) statistics — the
    MassiveText/Gopher hygiene pass that strips boilerplate repeated
    across documents (nav bars, cookie banners, license headers).

    Returns one row per distinct normalized line that appears in MORE
    than one document: ``(line_fp, n_docs, n_occurrences,
    example_doc)``. Feed the fingerprints to :func:`strip_dup_lines`
    to rewrite the corpus.

    Scale shape: explode lines map-side → one shuffle on the 128-bit
    line fingerprint (never raw text; count + min aggregates get
    map-side partial agg). Duplicate detection is cross-document
    (``n_docs > 1``), so within-doc repetition alone doesn't flag a
    line."""
    sep = "\n\n" if granularity == "paragraph" else "\n"
    lines = (_spread(df, id_col).select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.col(text_col), sep)).alias("_line"))
        .select("_id", F.trim(F.col("_line")).alias("_line"))
        .filter(F.length("_line") >= min_len))
    return (lines
            .select("_id", F.md5(F.col("_line")).alias("line_fp"))
            .groupBy("line_fp")
            .agg(F.count_distinct("_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occurrences"),
                 F.min("_id").alias("example_doc"))
            .filter(F.col("n_docs") > 1))


def strip_dup_lines(df: DataFrame, dup_fps: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    granularity: str = "line") -> DataFrame:
    """Rewrite each document with the flagged duplicate lines removed
    (``dup_fps``: output of :func:`line_dedup_stats`, or any relation
    with a ``line_fp`` column). Explode → anti-join on the
    fingerprint → re-assemble in original line order (collect_list
    over a per-doc position, not a window sort)."""
    sep = "\n\n" if granularity == "paragraph" else "\n"
    lines = (_spread(df, id_col).select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), sep))
        .alias("_pos", "_line")))
    kept = (lines
            .withColumn("line_fp", F.md5(F.trim(F.col("_line"))))
            .join(dup_fps.select("line_fp"), on="line_fp", how="left_anti"))
    rebuilt = (kept.groupBy("_id")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct(F.col("_pos"), F.col("_line")))),
                       lambda s: s["_line"]),
                   sep).alias("__new_text")))
    # join back onto the ORIGINAL relation: documents whose every
    # line was boilerplate keep an empty-text row (not silently
    # vanish), and all non-text columns survive (r02 code review)
    out = (df.join(rebuilt.withColumnRenamed("_id", id_col),
                   on=id_col, how="left"))
    return out.select(*[
        F.coalesce(F.col("__new_text"), F.lit("")).alias(text_col)
        if c == text_col else F.col(c)
        for c in df.columns])


def tokens_of(text: Column) -> Column:
    return F.split(normalize_text(text), " ")


def shingles_of(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles. Normalized text is single-space
    separated, so the regex fast path applies (~5× over zip_with)."""
    return F.array_distinct(text_ngrams(normalize_text(text), k))


def _hash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via a simple LCG (no RNG import —
    reproducible everywhere) for the Carter-Wegman permutation
    ``(a·(x % P) + b) % P`` over the field Z_P, P = 2^31-1:
    a ∈ [1, P-1], b ∈ [0, P-1]; products ≤ 2^62 stay inside signed
    64-bit ANSI arithmetic, and — the point — a·x' is MANY multiples
    of P, so the modulo genuinely permutes the order.

    r07 fix: the previous form used P = 2^61-1 with a < 2^29 —
    a·x < 2^61 ≈ P meant the modulo almost never wrapped, and since
    +b shifts all elements of one function equally,
    argmin(a·x+b) = argmin(a·x) = argmin(x) for most functions:
    nearly every "permutation" picked the globally smallest shingle
    hash. Measured: two docs at Jaccard 0.8 agreed on 9/32 minhashes
    (expected ~26), so LSH recall silently depended on near-dups
    sharing their minimum-hash shingle. (An intermediate XOR-multiply
    attempt measured 16/32 — xor ordering is min-wise biased for
    fixed sets.) With the small-field form the same pair measures
    25/32 — the textbook estimator behavior. The 32-bit shingle
    hashes are reduced mod P first (2^31 collisions are ~n²/2P —
    harmless at any realistic per-doc vocabulary)."""
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        a = 1 + (state % (_P - 1))      # a ∈ [1, P-1]
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b = state % _P                   # b ∈ [0, P-1]
        params.append((a, b))
    return params


def shingle_hash32(s: Column) -> Column:
    """Portable 32-bit shingle hash (first 8 md5 hex chars), sized so
    the universal-hash products stay under 2^63 in ANSI mode.
    DuckDB: ``('0x' || substr(md5(s), 1, 8))::BIGINT``."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def _shingle_base(df: DataFrame, text_col: str, id_col: str,
                  shingle_k: int) -> DataFrame:
    """(_id, _sh): each document's distinct word k-shingles — the one
    relation every MinHash-LSH step starts from (signatures, the
    exact-Jaccard verify, the persisted index's shingle table)."""
    return _spread(df, id_col).select(
        F.col(id_col).alias("_id"),
        shingles_of(F.col(text_col), shingle_k).alias("_sh"))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 32,
                       shingle_k: int = 3) -> DataFrame:
    """(_id, _sig): ``df``'s MinHash signatures (:func:`_signatures`)."""
    return _signatures(_shingle_base(df, text_col, id_col, shingle_k),
                       num_hashes)


def _signatures(base: DataFrame, num_hashes: int) -> DataFrame:
    """(_id, _sig) of a (_id, _sh) shingle base — the batch signature
    kernel.

    Formulation: explode shingle hashes → num_hashes plain min()
    aggregates → array. All whole-stage-codegen (regular column
    expressions); map-side partial aggregation means the shuffle
    carries only num_hashes longs per document. Measured ~20× faster
    than per-row transform() lambdas (higher-order functions are
    interpreted per element). Streams cannot run an aggregate; they
    use the Arrow kernel :func:`_rowwise_banded_pandas`, which yields
    the same values."""
    # hash ONCE in its own projection — inlined in each agg, md5
    # would recompute per HASH FUNCTION (no cross-aggregate CSE)
    exploded = (base
                .select("_id", F.explode_outer(F.col("_sh")).alias("_s"))
                # reduce into Z_P once, shared by every hash function
                .select("_id",
                        (shingle_hash32(F.col("_s")) % F.lit(_P))
                        .alias("_x")))
    # ONE SQL-string expression for all num_hashes aggregates (r10):
    # the num_hashes Column-builder loop cost ~0.9 s of py4j round-
    # trips per plan BUILD (profiled — the bench pays it on every
    # run; same finding as simhash), and aggregating straight into
    # array(...) also drops the post-agg projection. One JVM parse
    # builds the identical expression tree.
    arr = "array(" + ",".join(
        f"coalesce(min((_x * {a}L + {b}L) % {_P}L), {_P}L)"
        for a, b in _hash_params(num_hashes)) + ")"
    return exploded.groupBy("_id").agg(F.expr(arr).alias("_sig"))


def _cap_buckets(bucketed: DataFrame, keys: list[str],
                 max_bucket: int | None) -> DataFrame:
    """Drop rows in LSH buckets larger than ``max_bucket`` before a
    bucket self-join. Within a bucket the join is quadratic; real
    corpora have pathological buckets (boilerplate → one bucket with
    10⁶ docs → 5·10¹¹ candidate pairs), so candidate generation must
    be bounded. The hot-bucket list is tiny (≤ n/max_bucket keys), so
    AQE broadcasts the anti-join. Recall note: pairs whose every
    shared bucket is hot are missed — run ``exact_dedup`` first so
    exact copies don't pile into one bucket. ``None`` disables."""
    if max_bucket is None:
        return bucketed
    hot = (bucketed.groupBy(*keys).agg(F.count(F.lit(1)).alias("_bsz"))
           .filter(F.col("_bsz") > max_bucket).select(*keys))
    return bucketed.join(hot, on=keys, how="left_anti")


def _split_hot_clusters(df: DataFrame, cid_col: str, id_col: str,
                        max_cluster: int | None) -> DataFrame:
    """Sub-split clusters larger than ``max_cluster`` into
    ~``max_cluster``-sized cells (adds a ``_sub`` column; pair joins
    must match on it). Unlike :func:`_cap_buckets` — which DROPS hot
    LSH buckets outright, the right call for pathological boilerplate
    buckets — a big k-means cluster is ordinary data: dropping it
    would silently disable dedup for most of the corpus whenever k is
    undersized. Splitting keeps every vector in play under the same
    per-cell quadratic bound; the cost is missed cross-cell pairs
    inside a split cluster (recall trade, mitigated by sizing
    k ~ sqrt(n) — the ``n_clusters=None`` default). The size relation
    has ≤ k rows, so the join broadcasts."""
    if max_cluster is None:
        return df.withColumn("_sub", F.lit(0))
    sizes = df.groupBy(cid_col).agg(F.count(F.lit(1)).alias("_csz"))
    return (df.join(F.broadcast(sizes), on=cid_col)
            .withColumn("_nsub",
                        F.ceil(F.col("_csz") / F.lit(max_cluster))
                        .cast("int"))
            .withColumn("_sub",
                        F.pmod(F.xxhash64(F.col(id_col)),
                               F.greatest(F.col("_nsub"), F.lit(1)))
                        .cast("int"))
            .drop("_csz", "_nsub"))


def _check_bands(bands: int, num_hashes: int) -> int:
    """rows-per-band, refusing degenerate banding: bands > num_hashes
    degenerates to rows_per_band=0 (every doc collides, _cap_buckets
    drops everything → silent ZERO pairs, r05 review); non-divisible
    values silently ignore trailing hashes."""
    if bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}); "
            f"rows per band = num_hashes/bands sets the LSH threshold "
            f"(~(1/bands)^(1/rows_per_band))")
    return num_hashes // bands


def _band_buckets(sigs: DataFrame, bands: int, rows_per_band: int,
                  keep: tuple[str, ...] = ()) -> DataFrame:
    """(_id, *keep, _band, _bucket): one row per (doc, band) — the
    portable md5-prefix band-bucket construction of every batch LSH
    path (self-join, cross-corpus, persisted index, first-seen), so an
    incremental ingest finds exactly the pairs a full re-run would.
    ``keep`` names ``sigs`` columns to carry along (``_sig``)."""
    # one SQL-string expression for the whole band array (r10: the
    # per-band Column-builder loop was ~0.6 s of py4j per plan build)
    band_exprs = []
    for b in range(bands):
        elems = ",".join(
            f"cast(element_at(_sig, {b * rows_per_band + i + 1}) as string)"
            for i in range(rows_per_band))
        piece = f"concat_ws(',', '{b}', {elems})"
        band_exprs.append(
            f"cast(conv(substring(md5({piece}), 1, 15), 16, 10) as bigint)")
    return sigs.selectExpr(
        "_id", *keep,
        "posexplode(array(" + ",".join(band_exprs)
        + ")) as (_band, _bucket)")


def _lsh_buckets(base: DataFrame, num_hashes: int, bands: int,
                 keep: tuple[str, ...] = ()) -> DataFrame:
    """(_id, *keep, _band, _bucket) of a (_id, _sh) shingle base:
    aggregated signatures, then band buckets."""
    rows_per_band = _check_bands(bands, num_hashes)
    return _band_buckets(_signatures(base, num_hashes), bands,
                         rows_per_band, keep)


def _bucket_pairs(left: DataFrame, right: DataFrame,
                  self_join: bool = False) -> DataFrame:
    """(id_a, id_b) candidates: a ``left`` and a ``right`` document
    sharing a (band, bucket), once however many bands they share.
    ``self_join`` keeps only id_a < id_b. Only (id, band, bucket)
    travels through this shuffle — the shingle arrays stay out."""
    on = [F.col("l._band") == F.col("r._band"),
          F.col("l._bucket") == F.col("r._bucket")]
    if self_join:
        on.append(F.col("l._id") < F.col("r._id"))
    return (left.alias("l").join(right.alias("r"), on=on, how="inner")
            .select(F.col("l._id").alias("id_a"),
                    F.col("r._id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))


def _jaccard(sh_a: str, sh_b: str) -> Column:
    """Exact Jaccard of two shingle-set columns, rounded to 6 places
    (0.0 when both are empty)."""
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(F.array_union(sh_a, sh_b)).cast("double")
    return F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)),
                   6)


def _verify_jaccard_pairs(cand: DataFrame, base: DataFrame,
                          threshold: float,
                          base_b: DataFrame | None = None) -> DataFrame:
    """Exact-Jaccard verify of (id_a, id_b) candidates against the
    (_id, _sh) shingle relation — shared by the MinHash-LSH and
    prefix-filter plans so a fix to the verify math lands in both.
    ``base_b``: separate shingle relation for the id_b side (the
    cross-corpus generator — sides may reuse id values)."""
    out = (cand
           .join(base.select(F.col("_id").alias("id_a"),
                             F.col("_sh").alias("sh_a")), on="id_a")
           .join((base_b if base_b is not None else base)
                 .select(F.col("_id").alias("id_b"),
                         F.col("_sh").alias("sh_b")), on="id_b"))
    return (out.select("id_a", "id_b",
                       _jaccard("sh_a", "sh_b").alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


_BUCKET_KEYS = ["_band", "_bucket"]


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 32,
                      bands: int = 8, shingle_k: int = 3,
                      threshold: float = 0.5,
                      max_bucket: int | None = 1024) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verify.

    signature (map-side partial aggregate) → explode bands → bucket
    self-join (the only shuffle) → exact Jaccard on candidates →
    filter ≥ threshold. Returns (id_a, id_b, jaccard) with
    id_a < id_b. ``max_bucket`` bounds the per-bucket quadratic
    blowup (see ``_cap_buckets``).
    """
    # NOT materialized (r03): the shared-shingle checkpoint was the
    # one r02 bench regression (2.14 -> 2.53 s) — minhash's verify
    # join touches only the tiny candidate subset, so re-running the
    # shingle regex for it costs less than writing the full shingle
    # relation to block storage. ngram_jaccard keeps its _materialize
    # (5 consumers over the full relation, measured 3.2 -> 1.8 s).
    base = _shingle_base(df, text_col, id_col, shingle_k)
    # r10: the bucket relation is materialized ONCE (narrow: id + two
    # ints per band row — carrying _sig here would write 32 longs per
    # band row). Its consumers — the hot-bucket stats, the cap anti-
    # join, and BOTH sides of the candidate self-join — previously
    # each re-ran the scan → shingle regex → 32-min signature
    # aggregation subtree (the broadcast join gives ReuseExchange
    # nothing to dedupe): 6 corpus scans in the plan, now 3 (one
    # here, two in the candidate-only verify, which the r03
    # measurement showed is cheaper left unmaterialized).
    bucketed = _lsh_buckets(base, num_hashes,
                            bands).localCheckpoint(eager=False)
    banded = _cap_buckets(bucketed, _BUCKET_KEYS, max_bucket)
    # exact-Jaccard verification only for candidate pairs, on the
    # shingle strings themselves (candidates are a tiny subset, so
    # the string arrays in this join are cheap; hash the shingles
    # first if verify-shuffle volume ever matters)
    return _verify_jaccard_pairs(
        _bucket_pairs(banded, banded, self_join=True), base, threshold)


def _cross_pairs(base_n: DataFrame, banded_c: DataFrame,
                 base_c: DataFrame, num_hashes: int, bands: int,
                 threshold: float) -> DataFrame:
    """(id_new, id_old, jaccard) of a new batch's (_id, _sh) shingle
    base against a corpus's (capped) band buckets and shingle sets —
    the fused and the index-served cross generators differ only in
    where the corpus side comes from."""
    cand = _bucket_pairs(_lsh_buckets(base_n, num_hashes, bands),
                         banded_c)
    out = _verify_jaccard_pairs(cand, base_n, threshold, base_b=base_c)
    return (out.withColumnRenamed("id_a", "id_new")
            .withColumnRenamed("id_b", "id_old"))


def minhash_lsh_pairs_cross(new: DataFrame, corpus: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            num_hashes: int = 32, bands: int = 8,
                            shingle_k: int = 3, threshold: float = 0.5,
                            max_bucket: int | None = 1024) -> DataFrame:
    """Incremental-ingest near-dup pairs: every NEW document against
    an EXISTING corpus — (id_new, id_old, jaccard), jaccard ≥
    threshold. The shape a continuously-fed corpus needs: a daily
    batch is checked against the standing index WITHOUT re-pairing
    the corpus against itself (the self-join is
    :func:`minhash_lsh_pairs`; reference Piglet has no dedup surface
    at all).

    Same signatures, band hashes, and exact-Jaccard verify as the
    self-join — bucket ids are identical by construction
    (:func:`_band_buckets`), so ingest finds exactly the cross pairs
    a full re-run would. The equi-join on (band, bucket) makes the
    corpus side streamable: at scale, persist the corpus's banded
    relation once and hash-join each arriving batch against it.
    ``max_bucket`` caps the CORPUS side's hot buckets (boilerplate
    buckets are a corpus property; the new batch is typically small).
    """
    base_c = _shingle_base(corpus, text_col, id_col, shingle_k)
    # NOT checkpointed — re-decided AGAIN at sf1 this round (r11,
    # VERDICT item 5) and the r10 lazy call stands: a 2 MB-gated
    # non-eager localCheckpoint of this relation read 2.3-2.9 s vs
    # 3.14 s lazy in a direct same-session A/B, but under the bench
    # methodology (fresh session, warmups, min-of-2 — what the
    # driver measures) the SAME gate read 3.12-3.29 s vs 2.44-3.20 s
    # lazy at ≤2.4% steal: the parallel recompute of the bucket
    # subtree rides cores the materialization barrier leaves idle.
    # Plan diff evidence for the tried gate: 5 parquet scans → 3 +
    # 2 checkpoint reads, 6 → 4 Exchanges — fewer scans, more wall.
    banded_c = _cap_buckets(_lsh_buckets(base_c, num_hashes, bands),
                            _BUCKET_KEYS, max_bucket)
    return _cross_pairs(_shingle_base(new, text_col, id_col, shingle_k),
                        banded_c, base_c, num_hashes, bands, threshold)


_LSH_PARAMS = ("num_hashes", "bands", "shingle_k", "max_bucket",
               "id_col", "text_col")


def _lsh_meta(path: str, verify: bool = False) -> dict:
    """The persisted LSH index's sidecar. ``verify`` refuses an index
    whose data files no longer hold the row counts the sidecar was
    written for (parquet footers only, no data read)."""
    with open(f"{path}/_lsh_meta.json") as fh:
        meta = json.load(fh)
    if verify:
        nb, _ = footer_fingerprint(f"{path}/buckets")
        ns, _ = footer_fingerprint(f"{path}/shingles")
        if nb is not None and (nb != meta["n_bucket_rows"]
                               or ns != meta["n_shingle_rows"]):
            raise ValueError(
                f"stale index at {path}: data files hold {nb} bucket "
                f"/ {ns} shingle rows but the sidecar was written for "
                f"{meta['n_bucket_rows']} / {meta['n_shingle_rows']} "
                f"— rebuild with lsh_write_index")
    return meta


def _lsh_write_meta(path: str, params: dict) -> None:
    """Write/refresh the LSH index sidecar: parameters + row-count
    fingerprints read from the parquet footers just written."""
    n_buckets, _ = footer_fingerprint(f"{path}/buckets")
    n_shingles, _ = footer_fingerprint(f"{path}/shingles")
    with open(f"{path}/_lsh_meta.json", "w") as fh:
        json.dump({**{k: params[k] for k in _LSH_PARAMS},
                   "n_bucket_rows": n_buckets,
                   "n_shingle_rows": n_shingles}, fh)


def _lsh_write(df: DataFrame, path: str, mode: str,
               params: dict) -> None:
    """Write ``df``'s band buckets and shingle sets into the index
    tables under ``path`` (parquet write ``mode``), then the sidecar."""
    base = _shingle_base(df, params["text_col"], params["id_col"],
                         params["shingle_k"])
    banded = _lsh_buckets(base, params["num_hashes"], params["bands"])
    (banded.select("_band", "_bucket", "_id")
     .write.mode(mode).partitionBy("_band")
     .parquet(f"{path}/buckets"))
    base.write.mode(mode).parquet(f"{path}/shingles")
    _lsh_write_meta(path, params)


def lsh_write_index(df: DataFrame, path: str, text_col: str = "text",
                    id_col: str = "doc_id", num_hashes: int = 32,
                    bands: int = 8, shingle_k: int = 3,
                    max_bucket: int | None = 1024) -> None:
    """Persist an LSH near-dup index: the standing corpus's band
    buckets and shingle sets, computed ONCE and written as parquet,
    with the LSH parameters in a JSON sidecar. The
    build-once/query-many analog of :func:`ivf_write_index
    <piglet_spark.datapipe.similarity.ivf_write_index>` for
    INCREMENTAL-CRAWL DEDUP — the shape a continuously-fed corpus
    actually runs: :func:`minhash_lsh_pairs_cross` re-shingles and
    re-minhashes the ENTIRE standing corpus on every arriving batch
    (at 100 TB, a full text scan + 32 hash aggregations per day),
    whereas querying the index (:func:`minhash_cross_index`) reads
    only the precomputed bucket table for candidates and fetches the
    shingle sets of candidate ids alone for the exact-Jaccard verify.

    Layout under ``path``:
      - ``buckets/`` — ``(_bucket, _id)`` partitioned by ``_band``,
        UNCAPPED (hot-bucket capping happens at QUERY time with the
        sidecar's ``max_bucket``, exactly the fused path's
        :func:`_cap_buckets` — so :func:`lsh_append_index` stays
        trivially correct: a bucket that crosses the cap only after
        an append drops out of candidate generation just like a
        fresh rebuild would drop it);
      - ``shingles/`` — ``(_id, _sh)`` shingle-string sets for the
        verify join (the index stores them like FAISS stores raw
        vectors: ~corpus-sized, the price of never re-scanning the
        raw text);
      - ``_lsh_meta.json`` — parameters + row-count fingerprints so
        a query refuses a stale/foreign index.

    Buckets use the same portable md5-prefix construction as the
    self-join (shared :func:`_band_buckets`), so index-served ingest
    finds exactly the cross pairs a full re-run would."""
    _lsh_write(df, path, "overwrite", {
        "num_hashes": num_hashes, "bands": bands, "shingle_k": shingle_k,
        "max_bucket": max_bucket, "id_col": id_col, "text_col": text_col})


def lsh_append_index(df: DataFrame, path: str) -> None:
    """ACCEPT a new batch into a persisted LSH index
    (:func:`lsh_write_index`) — the write half of the incremental
    ingest loop: check an arriving batch with
    :func:`minhash_cross_index`, drop/cluster the near-dups, then
    append the accepted rows so the NEXT batch is checked against
    them too. Computes the batch's band buckets and shingle sets
    with the SIDECAR's parameters (a batch can never be hashed
    differently than the corpus) and appends them to the parquet
    tables — no corpus rescan, cost ∝ batch size. Queries after an
    append equal a fresh :func:`lsh_write_index` over the grown
    corpus (pinned by pytest), including hot-bucket capping, which
    is applied at query time from full bucket counts. The caller
    owns id uniqueness across appends (duplicate ids would verify
    against themselves at jaccard 1.0, like any re-ingested row)."""
    _lsh_write(df, path, "append", _lsh_meta(path))


def lsh_compact_index(spark, path: str) -> None:
    """Compact a persisted LSH index's parquet tables
    (:func:`lsh_write_index`): every :func:`lsh_append_index` adds a
    task's worth of new files per partition, and a daily append
    cadence turns the bucket table into thousands of small files —
    the classic small-file problem (footer reads and task scheduling
    start to dominate the partition-pruned scans the index exists
    for). Rewrites each table with one file per band directory
    (shingles: ``bands`` files), swaps the
    rewritten directories in, and refreshes the sidecar fingerprints
    — row contents identical (query equality pinned by pytest), so
    it can run any time between ingest batches."""
    import os as _os
    import shutil as _shutil
    meta = _lsh_meta(path)
    b = cached_parquet(spark, f"{path}/buckets")
    # keyed on the band alone: each band directory is one task's file
    (b.repartition(int(meta["bands"]), "_band")
     .write.mode("overwrite").partitionBy("_band")
     .parquet(f"{path}/buckets_compact"))
    s = cached_parquet(spark, f"{path}/shingles")
    (s.repartition(int(meta["bands"]))
     .write.mode("overwrite").parquet(f"{path}/shingles_compact"))
    for t in ("buckets", "shingles"):
        _shutil.rmtree(f"{path}/{t}")
        _os.rename(f"{path}/{t}_compact", f"{path}/{t}")
    _lsh_write_meta(path, meta)


def _index_buckets(spark, path: str, meta: dict) -> DataFrame:
    """The persisted index's bucket table, hot buckets capped at query
    time from FULL bucket counts — identical to the fused path's
    corpus-side _cap_buckets, and append-safe (a bucket crossing the
    cap via lsh_append_index drops out exactly as a fresh rebuild
    would drop it); the extra narrow aggregation rides the bucket-
    table scan the join needs anyway."""
    return _cap_buckets(cached_parquet(spark, f"{path}/buckets"),
                        _BUCKET_KEYS, meta["max_bucket"])


def minhash_cross_index(spark, path: str, new: DataFrame,
                        text_col: str | None = None,
                        id_col: str | None = None,
                        threshold: float = 0.5,
                        verify: bool = True) -> DataFrame:
    """Incremental-ingest near-dup pairs against a PERSISTED LSH
    index (:func:`lsh_write_index`): (id_new, id_old, jaccard),
    jaccard ≥ threshold — value-identical to
    :func:`minhash_lsh_pairs_cross` on the same corpus with the same
    parameters (pinned by pytest), but the corpus side costs a
    parquet read instead of a full re-shingle + re-minhash:
      - candidates: the new batch's banded relation (batch·bands
        rows, typically tiny → AQE broadcast) equi-joins the
        precomputed bucket table on (band, bucket);
      - verify: exact Jaccard joins the stored shingle sets for
        CANDIDATE ids only (semi-join pattern — the corpus-sized
        shingle table is probed, never fully shuffled).
    LSH parameters come from the index sidecar, so a batch can never
    be hashed with different parameters than the corpus was."""
    meta = _lsh_meta(path, verify)
    base_n = _shingle_base(new, text_col or meta["text_col"],
                           id_col or meta["id_col"], meta["shingle_k"])
    return _cross_pairs(base_n, _index_buckets(spark, path, meta),
                        cached_parquet(spark, f"{path}/shingles"),
                        meta["num_hashes"], meta["bands"], threshold)


def minhash_cross_index_stream(spark, path: str, df: DataFrame,
                               text_col: str | None = None,
                               id_col: str | None = None,
                               threshold: float = 0.5,
                               cache_static: bool = True) -> DataFrame:
    """Near-dup detection ON INGEST against a PERSISTED LSH index
    (:func:`lsh_write_index`) — the Structured Streaming face of
    :func:`minhash_cross_index`: a continuously-arriving document
    stream checked against the standing corpus as a STREAM-STATIC
    join, entirely STATELESS (no watermark, no state store — the
    corpus lives in the index's parquet tables, not in stream state,
    unlike :func:`streaming_neardup_pairs`, whose stream-vs-stream
    state grows with everything ever accepted).

    Per micro-batch: per-row signatures + band buckets + shingle
    sets via the Arrow row-wise pass (aggregation-free, so legal on
    unbounded streams) → inner join against the static bucket table
    → exact-Jaccard verify against the static shingle table for
    candidate ids only. Emits ``(id_new, id_old, jaccard, band)``
    in append mode — one row per COLLIDING BAND (the
    streaming_neardup_pairs precedent; distinct downstream if
    needed). After a per-batch distinct on (id_new, id_old,
    jaccard), each micro-batch's pair set equals
    :func:`minhash_cross_index` on the same rows (pinned by
    cross-batch pytest). Batch input dispatches to the batch twin
    (which dedups bands itself).

    Staleness is checked ONCE at plan-build time; a corpus rebuild
    requires restarting the query (the standard stream-static
    contract — Spark re-lists static files per batch but the plan's
    schema/meta are fixed).

    Plan-shape note for big corpora: streaming plans fix the join
    strategy at plan time (no AQE), so the per-micro-batch joins
    against the static tables run as shuffle joins — with
    ``cache_static`` (default) both index relations persist
    MEMORY_AND_DISK after the first trigger, so later triggers
    re-shuffle from cache instead of re-reading parquet (measured:
    the dominant per-trigger cost on small batches). When the index
    is too large to re-shuffle per trigger at all, drive the ingest
    with ``foreachBatch`` over the BATCH query instead —
    ``q = stream.writeStream.foreachBatch(lambda b, _:
    sink(minhash_cross_index(spark, path, b, verify=False)))`` —
    which plans each micro-batch adaptively (AQE broadcasts the
    arriving batch into the bucket and shingle scans)."""
    if not df.isStreaming:
        return minhash_cross_index(spark, path, df, text_col, id_col,
                                   threshold)
    meta = _lsh_meta(path, verify=True)
    banded_n = _rowwise_banded_pandas(
        df, text_col or meta["text_col"], id_col or meta["id_col"],
        meta["num_hashes"], meta["bands"], meta["shingle_k"],
        keep_shingles=True)
    banded_c = _index_buckets(spark, path, meta)
    base_c = cached_parquet(spark, f"{path}/shingles")
    if cache_static:
        from pyspark import StorageLevel
        banded_c = banded_c.persist(StorageLevel.MEMORY_AND_DISK)
        base_c = base_c.persist(StorageLevel.MEMORY_AND_DISK)
    cand = (banded_n.alias("l").join(
                banded_c.alias("r"),
                on=[F.col("l._band") == F.col("r._band"),
                    F.col("l._bucket") == F.col("r._bucket")],
                how="inner")
            .select(F.col("l._id").alias("id_new"),
                    F.col("r._id").alias("id_old"),
                    F.col("l._sh").alias("sh_a"),
                    F.col("l._band").alias("band")))
    out = cand.join(base_c.select(F.col("_id").alias("id_old"),
                                  F.col("_sh").alias("sh_b")),
                    on="id_old")
    return (out.select("id_new", "id_old",
                       _jaccard("sh_a", "sh_b").alias("jaccard"), "band")
            .filter(F.col("jaccard") >= threshold))


def _scaled_max_df(n_docs: int, base: int = 256, ref: int = 100_000,
                   lo: int = 16) -> int:
    """Corpus-size-aware document-frequency cap for the inverted
    shingle index: ``clamp(isqrt(base² · ref / n), lo, base)`` —
    pure integer math, so any SQL oracle regenerates it from
    COUNT(*) (the ``lsh_planes`` precedent). Rationale: the
    candidate-join volume is Σ min(df, cap)² and the number of
    at-cap (boilerplate) shingles grows ∝ n, so candidates grow
    ∝ n·cap²; cap ∝ 1/√n pins the candidate volume ≈ constant —
    the bound a single box (or one executor's spill disk) needs.
    ≤ ``ref`` docs keep the full ``base`` cap (the cap never binds
    at oracle-gate scales, so correctness comparisons are
    cap-free)."""
    from math import isqrt
    return max(lo, min(base, isqrt(base * base * ref
                                   // max(int(n_docs), 1))))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.5,
                        max_df: "int | str | None" = 256,
                        method: str = "auto",
                        n_docs: int | None = None,
                        n_slices: "int | str" = "auto") -> DataFrame:
    """Exact n-gram Jaccard pairs via inverted shingle index — a
    distributed exact algorithm, no LSH approximation.

    Two plans, same exact output:

    - ``cooccur`` (default): co-occurrence counting (explode →
      self-join → count shared), with hot-shingle top-up so values
      stay exact under ``max_df``. Fastest measured plan up to
      moderate overlap density (fewer passes over the shingling
      regex, one wide shuffle).
    - ``prefix``: AllPairs/PPJoin-style prefix filtering. Shingles
      get a global (df, shingle) order; each document indexes only
      its first n - ceil(t·n) + 1 shingles in that order (its RAREST
      ones). Any pair with Jaccard ≥ t must share a prefix shingle
      (the smallest shared shingle is in both prefixes — standard
      AllPairs theorem), so the candidate join sees a ~(1-t)-fraction
      index biased toward rare shingles: use this on corpora where
      pairs sharing ≥1 shingle vastly outnumber pairs above the
      threshold (the regime where co-occurrence counting blows up
      even under ``max_df``). Candidates verify on full shingle
      arrays (array_intersect — exact, hot shingles included).

    ``max_df`` (default 256): document-frequency cap bounding the
    candidate join in BOTH plans (hot shingles never enter the
    index). Reported values are always exact; recall caveat: a pair
    is missed only if every shared shingle is hot (cooccur) / its
    required prefix extends into the hot tail (prefix). Run
    ``exact_dedup`` first so boilerplate never piles up that hot.
    ``max_df=None`` disables the cap (test-scale only).
    ``max_df='scale'`` (r08): corpus-size-aware cap
    :func:`_scaled_max_df` — ``clamp(isqrt(256²·100k/N), 16, 256)``
    from one ``count()`` (or the ``n_docs`` hint). The r08 sf100
    sweep measured why: at 5M docs the fixed 256 cap admits ~1.7B
    candidate pairs whose (id_a, id_b) shuffle has no map-side
    merge (a pair repeats once per SHARED shingle, each landing in a
    different shingle partition) — ~75 GB of spill, disk-death on
    local[32]. cap=36 at 5M docs bounds candidates near the sf10
    volume while values stay exact (the cap only ever costs recall
    on pairs whose EVERY shared shingle is boilerplate-hot).

    Choosing ``max_df`` (measured regime guidance, SCALE.md): the
    candidate-join cost is Σ_shingles C(min(df, max_df), 2) ≈
    Σ min(df, cap)² / 2 — QUADRATIC in the cap wherever the corpus
    has shingles at the cap. At sf10 the default 256 produced 171.4M
    candidates (82 s); the same corpus at max_df=64 would bound the
    hot tail at 1/16 the pairs. On noisy corpora (scraped web text,
    heavy boilerplate) lower the cap to 32-64 or pre-strip
    boilerplate with ``strip_dup_lines``; on clean deduplicated
    corpora the cap rarely binds and 256 keeps recall.
    ``max_df='auto'`` (r05, opt-in) runs that pre-pass for you: one
    aggregate job takes the 99.9th-percentile document frequency of
    the inverted index, clamped to [16, 256].

    ``n_slices`` (r09): bound the cooccur plan's PEAK state by
    slicing the candidate join on the SMALLER doc id
    (``pmod(xxhash64(id_a), S) == i``) and running each slice as
    its own eagerly-materialized job. A pair (a, b), a < b, forms
    in exactly ONE slice, so every slice's pair counts are FINAL —
    the size join, hot-set upper-bound prefilter, and threshold all
    run inside the slice, each slice checkpoint holds only
    output-sized rows, and a GC nudge between slice jobs releases
    the finished slice's shuffle files (peak disk ≈ one slice's
    join, not the sum). Same exact output for every S (the sf100
    decade measured identical 260,595 rows across two structurally
    different plans; SCALE.md r09 records why id-slicing beats
    shingle-hash slicing 1.94×: the latter needs a cross-slice
    re-aggregation of the full candidate stream). ``'auto'`` = 1
    below 1M docs (single-pass, identical to r08, whenever the
    corpus is known small or unknown) else
    ``clamp(ceil(n_docs/2M), 2, 8)``; corpus size comes from
    ``n_docs`` or the ``max_df='scale'`` count. Known-big corpora
    also get scale-aware shuffle WIDTH (the pair aggregation
    repartitions to ``clamp(n_docs/10k, parallelism, 2048)``
    reducers — the r08c sf100 heap death was 5M docs' pair state
    forced through 32 reducers) and the narrow per-doc size table
    broadcasts instead of sort-merge-joining the pair stream
    (n_docs ≤ 20M — ≤20 B/doc)."""
    # _materialize: the shingling regex pass feeds sizes, the
    # inverted index (plus its df/hot aggregates) and the final
    # verify/size joins — up to 5 consumers that would each re-run
    # the regex scan (measured 3.2s → 1.8s at sf0.1)
    base = _spread(df).select(F.col(id_col).alias("_id"),
                              shingles_of(F.col(text_col), k).alias("_sh"))
    base = _materialize(base)
    sizes = base.select("_id", F.size("_sh").alias("_n"))
    # the inverted index carries xxhash64(shingle), not the shingle
    # string: the candidate self-join + co-occurrence shuffle is the
    # dominant cost at scale and 8-byte keys shuffle ~3× less than
    # multi-word strings. Values stay exact — intersection counts per
    # doc pair are off only on a 64-bit collision *within one pair's
    # shingle sets* (~|sh|²/2⁶⁴, vanishing); the hot top-up and the
    # prefix plan operate on the same hashed key space (r04)
    inv = base.select("_id", F.explode("_sh").alias("_s")) \
              .select("_id", F.xxhash64("_s").alias("_s"))
    if max_df == "scale":
        if n_docs is None:
            from .util import memo_on_df
            n_docs = memo_on_df(df, "count", df.count)
        max_df = _scaled_max_df(n_docs)
    elif max_df == "auto":
        # df-histogram pre-pass (one aggregate job): cap at the
        # 99.9th-percentile document frequency so only true
        # boilerplate is excluded, clamped to [16, 256] (cost is
        # quadratic in the cap — see the docstring's regime law)
        p = (inv.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
             .agg(F.expr("approx_percentile(_df, 0.999)")).collect()
             [0][0])
        max_df = max(16, min(256, int(p or 256)))
    use_prefix = method == "prefix"
    if use_prefix and (n_docs or 0) >= util.JACCARD_BIG_DOCS:
        # r10: the prefix plan DIED at sf100 (5M dup-dense docs) —
        # its per-candidate verify join spilled shuffle until a
        # 252 GB disk filled. Its regime is many-candidates-few-
        # matches (diffuse corpora); dup density isn't knowable a
        # priori, so warn rather than refuse (SCALE.md "measured
        # refusal" for the numbers).
        import warnings
        warnings.warn(
            f"ngram_jaccard_pairs(method='prefix') on {n_docs} docs: "
            f"on dup-dense corpora the prefix plan's verify join is "
            f"candidate-sized and has filled local disk at 5M docs; "
            f"method='cooccur' (the default regime choice) bounds "
            f"per-slice state — see SCALE.md's regime rule")
    if use_prefix:
        dftab = inv.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
        if max_df is not None:
            dftab = dftab.filter(F.col("_df") <= max_df)
        # per-doc shingles in global (df, shingle) order; prefix
        # length uses the FULL distinct-set size n (theorem), slice
        # caps at the cold-list length
        ranked = inv.join(dftab, on="_s")
        pref = (ranked.groupBy("_id")
                .agg(F.array_sort(
                    F.collect_list(F.struct("_df", "_s"))).alias("_o"))
                .join(sizes, on="_id"))
        ell = (F.col("_n")
               - F.ceil(F.lit(float(threshold)) * F.col("_n")) + 1)
        pref_inv = (pref
                    .withColumn("_ell", ell.cast("int"))
                    .select("_id",
                            F.explode(F.expr(
                                "slice(transform(_o, x -> x._s), 1, _ell)"))
                            .alias("_s")))
        cand = (pref_inv.alias("a").join(
                    pref_inv.alias("b"),
                    on=[F.col("a._s") == F.col("b._s"),
                        F.col("a._id") < F.col("b._id")])
                .select(F.col("a._id").alias("id_a"),
                        F.col("b._id").alias("id_b"))
                .dropDuplicates(["id_a", "id_b"]))
        return _verify_jaccard_pairs(cand, base, threshold)
    doc_hot = None
    hot = None
    inv_raw = inv
    if max_df is not None:
        hot = (inv.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
               .filter(F.col("_df") > max_df).select("_s"))
        # per-doc hot-shingle sets: ≤ a handful of entries per doc
        doc_hot = (inv.join(hot, on="_s", how="left_semi")
                   .groupBy("_id").agg(F.collect_set("_s").alias("_hs")))
        inv = inv.join(hot, on="_s", how="left_anti")
    # ---- scale plumbing (engages only on a KNOWN-big corpus; with
    # n_docs unknown or < 1M the plan below is the r08 single-pass
    # one — oracle-gate scales never see slices or width overrides)
    big = n_docs is not None and int(n_docs) >= util.JACCARD_BIG_DOCS
    if n_slices == "auto":
        n_slices = (max(2, min(8, -(-int(n_docs) // 2_000_000)))
                    if big else 1)
    n_slices = max(1, int(n_slices))
    pair_parts = None
    if big:
        sc = df.sparkSession.sparkContext
        pair_parts = max(sc.defaultParallelism,
                         min(2048, int(n_docs) // 10_000))

    def _cooccur(part: DataFrame) -> DataFrame:
        pairs = (part.alias("a").join(
                     part.alias("b"),
                     on=[F.col("a._s") == F.col("b._s"),
                         F.col("a._id") < F.col("b._id")])
                 .select(F.col("a._id").alias("id_a"),
                         F.col("b._id").alias("id_b")))
        if pair_parts:
            # the pair count has NO map-side merge (a pair repeats
            # once per SHARED shingle, each in a different shingle
            # partition) — aggregate at corpus-proportional width,
            # not spark.sql.shuffle.partitions
            pairs = pairs.repartition(pair_parts, "id_a", "id_b")
        return (pairs.groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("_inter")))

    if n_slices > 1 and doc_hot is not None:
        # checkpoint the global small relations BEFORE anything
        # derives from them: the side tables and hot joins below are
        # re-executed inside EVERY slice job (broadcasts re-run per
        # action), and an un-truncated doc_hot lineage would re-run
        # the full inverted-index aggregation each time
        from pyspark import StorageLevel as _SL
        hot = hot.localCheckpoint(
            eager=True, storageLevel=_SL.DISK_ONLY)
        doc_hot = doc_hot.localCheckpoint(
            eager=True, storageLevel=_SL.DISK_ONLY)
        inv = inv_raw.join(F.broadcast(hot), on="_s", how="left_anti")
    # per-doc side table: sizes (+ hot-set SIZE, not the set) —
    # narrow (≤20 B/doc), broadcast on big corpora so the pair
    # stream never sort-merge-shuffles for it
    side = sizes
    if doc_hot is not None:
        side = side.join(doc_hot.select("_id", F.size("_hs")
                                        .alias("_nh")),
                         on="_id", how="left") \
                   .fillna({"_nh": 0})
    sd_a = side.select(F.col("_id").alias("id_a"),
                       F.col("_n").alias("_na"),
                       *([F.col("_nh").alias("_nha")]
                         if doc_hot is not None else []))
    sd_b = side.select(F.col("_id").alias("id_b"),
                       F.col("_n").alias("_nb"),
                       *([F.col("_nh").alias("_nhb")]
                         if doc_hot is not None else []))
    if big and int(n_docs) <= util.JACCARD_BROADCAST_DOCS:
        sd_a, sd_b = F.broadcast(sd_a), F.broadcast(sd_b)

    def _finish(shared: DataFrame) -> DataFrame:
        """Pair counts → exact jaccard ≥ threshold (shared by the
        single-pass and per-slice plans)."""
        out = shared.join(sd_a, on="id_a").join(sd_b, on="id_b")
        inter = F.col("_inter").cast("double")
        if doc_hot is not None:
            # Upper-bound prefilter (r09): the hot top-up adds at
            # most min(|hot_a|, |hot_b|) to the intersection, so any
            # pair below threshold even WITH that bonus is provably
            # below threshold — dropped map-side from the narrow
            # broadcast columns alone. Only survivors (≈ the output
            # size, not the candidate volume) carry the hot-set
            # ARRAYS through a join: the r09a sf100 run OOM'd
            # sort-merge-joining 2×arrays onto ~1e9 candidate rows.
            bonus = F.least("_nha", "_nhb").cast("double")
            ub = ((inter + bonus)
                  / (F.col("_na") + F.col("_nb") - inter - bonus)
                  .cast("double"))
            # the final filter keeps round(jaccard, 6) >= threshold,
            # so a pair sitting within 5e-7 BELOW threshold still
            # rounds up into the output — the prefilter must be a
            # true superset of the rounded filter, hence the 1e-6
            # slack (r10 ADVICE: float-boundary hole)
            out = out.filter(ub >= threshold - 1e-6)
            ha = doc_hot.withColumnRenamed("_id", "id_a") \
                        .withColumnRenamed("_hs", "_ha")
            hb = doc_hot.withColumnRenamed("_id", "id_b") \
                        .withColumnRenamed("_hs", "_hb")
            out = out.join(ha, on="id_a", how="left")
            out = out.join(hb, on="id_b", how="left")
            hot_inter = F.when(
                F.col("_ha").isNotNull() & F.col("_hb").isNotNull(),
                F.size(F.array_intersect("_ha", "_hb"))) \
                .otherwise(F.lit(0))
            inter = inter + hot_inter.cast("double")
        jac = inter / (F.col("_na") + F.col("_nb") - inter) \
            .cast("double")
        return (out.select("id_a", "id_b",
                           F.round(jac, 6).alias("jaccard"))
                .filter(F.col("jaccard") >= threshold))

    if n_slices <= 1:
        return _finish(_cooccur(inv))
    # ---- sliced plan (r09b): slice by the SMALLER doc id, not the
    # shingle hash. A pair (a, b), a < b, forms ONLY in slice
    # pmod(hash(a), S) — every slice's pair counts are already
    # FINAL, so the whole verify pipeline (size join, upper-bound
    # prefilter, hot top-up, threshold) runs inside the slice and
    # only rows ≥ threshold (output-sized) are kept. The r09a
    # shingle-hash slicing needed a cross-slice re-aggregation of
    # the full candidate stream — a second full pair shuffle that
    # took the sf100 run to 59 GB of simultaneous shuffle files;
    # this shape caps live state at ONE slice's join (the b-side
    # index re-shuffles per slice — (1+1/S)·|inv| per slice, but
    # the GC nudge below lets finished slices' files delete, so
    # peak disk ≈ one slice, not the sum).
    from pyspark import StorageLevel
    spark = df.sparkSession
    parts = []
    for i in range(n_slices):
        inv_a = inv.filter(
            F.pmod(F.xxhash64("_id"), F.lit(n_slices)) == F.lit(i))
        pairs_i = (inv_a.alias("a").join(
                       inv.alias("b"),
                       on=[F.col("a._s") == F.col("b._s"),
                           F.col("a._id") < F.col("b._id")])
                   .select(F.col("a._id").alias("id_a"),
                           F.col("b._id").alias("id_b")))
        if pair_parts:
            pairs_i = pairs_i.repartition(pair_parts, "id_a", "id_b")
        shared_i = (pairs_i.groupBy("id_a", "id_b")
                    .agg(F.count(F.lit(1)).alias("_inter")))
        # EAGER checkpoint runs the slice as its own job and keeps
        # only threshold survivors (tiny); the slice's shuffle files
        # become unreachable once this returns
        parts.append(_finish(shared_i).localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY))
        try:
            # let ContextCleaner delete the finished slice's shuffle
            # files before the next slice writes its own (same
            # rationale as bench.py's inter-query nudge: local-mode
            # drivers with big heaps may otherwise never GC the
            # ShuffleDependency, and disk needs SUM not MAX)
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def contamination_scores(df: DataFrame, bench_df: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         k: int = 5) -> DataFrame:
    """Benchmark decontamination: per document, the fraction of its
    distinct k-gram shingles that appear anywhere in the benchmark
    corpus — the standard pre-training hygiene check (shape follows
    public practice: GPT-3 used 13-gram, most open pipelines 8-13;
    k is a parameter).

    Returns (id, n_shingles, n_contaminated, contamination) with
    contamination = n_contaminated / n_shingles (0.0 for shingle-less
    docs).

    Scale shape: benchmark shingles are DISTINCT'd first (an
    aggregate, so AQE sizes it — broadcast when the benchmark is
    small, shuffle-join on the shingle otherwise); document shingles
    explode map-side; one left-semi-style join + per-doc count. No
    n² stage; shuffle ∝ total shingles."""
    doc_sh = _shingle_base(df, text_col, id_col, k)
    sizes = doc_sh.select("_id", F.size("_sh").alias("n_shingles"))
    exploded = doc_sh.select("_id", F.explode("_sh").alias("_s"))
    bench_sh = (bench_df
                .select(F.explode(shingles_of(F.col(text_col), k))
                        .alias("_s"))
                .distinct())
    hits = (exploded.join(bench_sh, on="_s", how="left_semi")
            .groupBy("_id").agg(F.count(F.lit(1)).alias("n_contaminated")))
    out = (sizes.join(hits, on="_id", how="left")
           .select(
               F.col("_id").alias(id_col),
               "n_shingles",
               F.coalesce(F.col("n_contaminated"), F.lit(0))
                .alias("n_contaminated"),
               F.round(
                   F.when(F.col("n_shingles") > 0,
                          F.coalesce(F.col("n_contaminated"), F.lit(0))
                          .cast("double") / F.col("n_shingles"))
                   .otherwise(F.lit(0.0)), 6).alias("contamination")))
    return out


def _bloom_build(bench_df: DataFrame, text_col: str, k: int,
                 m_bits: "int | str", n_hashes: int) -> "tuple[bytes, int]":
    """(bitmap bytes, resolved m_bits) for the benchmark side of
    :func:`bloom_decontaminate` — factored out so
    :func:`bloom_write` can persist the same bitmap."""
    bench_sh_cached = None
    if m_bits == "auto":
        bench_sh_cached = (bench_df
                           .select(F.explode(
                               shingles_of(F.col(text_col), k))
                               .alias("_g"))
                           .distinct().cache())
        n_elems = bench_sh_cached.count()
        m_bits = max(1 << 14,
                     1 << (16 * max(n_elems, 1) - 1).bit_length())
        m_bits = min(m_bits, 1 << 27)
    if not isinstance(m_bits, int) or m_bits % 8 != 0 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 8 "
                         f"or 'auto', got {m_bits}")

    def probe(i: int, s: Column) -> Column:
        # probe i = 32-bit slice i%4 of md5 number i//4 — one md5
        # evaluation serves four probes (measured 3 md5/shingle →
        # 1 at the default n_hashes=3)
        digest = F.md5(s) if i < 4 else \
            F.md5(F.concat(F.lit(f"{i // 4}|"), s))
        return (F.conv(F.substring(digest, 8 * (i % 4) + 1, 8), 16, 10)
                .cast("long") % m_bits)

    bench_sh = bench_sh_cached if bench_sh_cached is not None else (
        bench_df
        .select(F.explode(shingles_of(F.col(text_col), k))
                .alias("_g"))
        .distinct())
    pos_df = (bench_sh
              .select(F.explode(F.array(
                  *[probe(i, F.col("_g")) for i in range(n_hashes)]))
                  .alias("_p"))
              .distinct())                      # ≤ m_bits rows, bounded
    try:
        import numpy as np
        import pyarrow  # noqa: F401  (toArrow needs it)
    except ImportError:
        np = None
    if np is not None:
        # Arrow transfer + vectorized bitmap fill (r11): the py4j
        # row collect + per-row Python loop cost ~1 s at 300k set
        # positions; toArrow + numpy bitwise_or build the identical
        # bitmap (pinned equal in the A/B) in ~0.25 s. A failed job
        # raises here — it is never retried through the row path.
        col = pos_df.toArrow()["_p"]
        assert col.null_count == 0, "bloom probe positions are never null"
        arr = col.to_numpy(zero_copy_only=False).astype(np.int64)
        bm = np.zeros(m_bits // 8, dtype=np.uint8)
        np.bitwise_or.at(bm, arr // 8,
                         (1 << (arr % 8)).astype(np.uint8))
        bitmap = bytearray(bm.tobytes())
    else:  # no pyarrow/numpy → row path, same values
        bitmap = bytearray(m_bits // 8)
        for r in pos_df.collect():
            p = r["_p"]
            bitmap[p // 8] |= 1 << (p % 8)
    if bench_sh_cached is not None:
        bench_sh_cached.unpersist()
    return bytes(bitmap), m_bits


def bloom_write(bench_df: DataFrame, path: str,
                text_col: str = "text", k: int = 5,
                m_bits: "int | str" = "auto",
                n_hashes: int = 3) -> None:
    """Persist the decontamination Bloom bitmap
    (:func:`bloom_decontaminate`'s benchmark side) — benchmarks
    change rarely while corpus batches arrive daily, so the bitmap
    belongs with the persisted-index family (LSH/IVF): build once
    from the full benchmark suite, then every ingest batch loads a
    ≤16 MiB JSON sidecar instead of re-aggregating the benchmark
    k-grams. Parameters ride in the sidecar so a batch can never be
    probed with different hashing than the bitmap was built with."""
    import base64 as _b64
    import json as _json
    bitmap, m = _bloom_build(bench_df, text_col, k, m_bits, n_hashes)
    with open(path, "w") as fh:
        _json.dump({"k": k, "m_bits": m, "n_hashes": n_hashes,
                    "n_set_bits": sum(bin(b).count("1")
                                      for b in bitmap),
                    "bitmap_b64":
                        _b64.b64encode(bitmap).decode("ascii")}, fh)


def bloom_decontaminate(df: DataFrame, bench_df: DataFrame | None,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 5, m_bits: int | str = 1 << 20,
                        n_hashes: int = 3,
                        bloom_path: str | None = None) -> DataFrame:
    """Bloom-filter benchmark decontamination: like
    ``contamination_scores`` but the benchmark side is compressed to
    an m-bit Bloom bitmap instead of joined exactly — the standard
    trick when the benchmark suite is itself huge (all MMLU + GSM8K +
    … k-grams) and re-joining it against every corpus shard is the
    bottleneck.

    Returns (id, n_shingles, n_bloom_hits, bloom_contamination). A
    shingle "hits" when all ``n_hashes`` Bloom probes are set, so
    hits ⊇ the exact-join hits (no false negatives; false-positive
    rate ≈ (1-e^{-kn/m})^k, sized by ``m_bits``).

    Scale shape — the whole point vs the exact join:
      * benchmark → DISTINCT shingles → ≤ ``m_bits`` distinct bit
        positions (one aggregation), collected into an
        ``m_bits/8``-byte bitmap (128 KiB at the default 2^20 —
        bounded by construction, like the IVF training sample) and
        embedded as a binary literal;
      * corpus side probes shingles against the literal bitmap with
        PLAIN column expressions over an explode — whole-stage
        codegen end-to-end (a per-element array-lambda formulation
        measured 8× slower at sf10: higher-order functions are
        interpreted, the same effect recorded in the MinHash
        docstring) — then one partial-aggregated groupBy(id), so the
        only shuffle carries ONE row per document. At 100 TB the
        corpus pass is a scan plus a doc-count-sized shuffle; only
        the (small) benchmark is ever aggregated.

    Probes are portable md5 constructions: probe i is the 32-bit hex
    slice ``i % 4`` of digest ``i // 4``, where digest 0 is plain
    ``md5(g)`` and digest d>0 is ``md5(d || '|' || g)`` — so probes
    0-3 slice ``md5(g)`` directly and only probes ≥4 carry the
    ``'d|'`` prefix (DuckDB for probe i<4:
    ``('0x' || substr(md5(g), 8*i+1, 8))::BIGINT % m``). Hence
    the result — false positives included — is value-hash
    oracle-checkable: bit p set in the bitmap ⟺ p ∈ the benchmark
    position set, which ANSI SQL reproduces with an IN-join.

    Sizing: a bloom saturates (all docs "contaminated") when
    ``n_hashes × |bench shingles|`` approaches ``m_bits`` — at sf10
    the benchmark carries 1.2M distinct 5-shingles, so the old 2^17
    default filled every bit. Pass ``m_bits="auto"`` to size the
    bitmap from the measured benchmark: next power of two ≥ 16 bits
    per distinct shingle (fp ≈ 5e-3 at n_hashes=3), floor 2^14, cap
    2^27 (16 MiB — still broadcast-literal friendly). Auto mode costs
    one extra count over the (cached) benchmark shingles and is data-
    dependent, so the fixed-m oracle queries don't use it.

    ``bloom_path`` (r10): load a bitmap persisted by
    :func:`bloom_write` instead of aggregating ``bench_df`` — the
    per-ingest-batch path once the benchmark suite's bitmap is
    built; k/m_bits/n_hashes come from the sidecar (call-site values
    are ignored so probing always matches the build)."""
    if bloom_path is not None:
        # persisted-bitmap path (bloom_write): k/m/n_hashes come
        # from the sidecar so probing always matches the build
        import base64 as _b64
        import json as _json
        with open(bloom_path) as fh:
            meta = _json.load(fh)
        k, m_bits = int(meta["k"]), int(meta["m_bits"])
        n_hashes = int(meta["n_hashes"])
        bitmap = _b64.b64decode(meta["bitmap_b64"])
    else:
        if bench_df is None:
            raise ValueError("bloom_decontaminate: pass bench_df or "
                             "bloom_path")
        bitmap, m_bits = _bloom_build(bench_df, text_col, k, m_bits,
                                      n_hashes)
    blit = F.lit(bitmap)

    def bit_set(p: Column) -> Column:
        # byte extract via substring-on-binary (1-based) + hex; the
        # bit shift is exact double math (byte value ≤ 255 « 2^53)
        byte = F.conv(F.hex(F.substring(
            blit, (F.floor(p / 8) + 1).cast("int"), F.lit(1))),
            16, 10).cast("int")
        return (F.floor(byte / F.pow(
            F.lit(2.0), (p % 8).cast("double"))).cast("int") % 2) == 1

    def slice_probe(digest: Column, i: int) -> Column:
        # probe i = 32-bit slice i%4 of md5 number i//4 (one digest
        # serves four probes) — must stay in sync with probe() above
        if i >= 4:
            raise ValueError("slice_probe handles n_hashes <= 4; "
                             "extend with a second digest column")
        return (F.conv(F.substring(digest, 8 * (i % 4) + 1, 8), 16, 10)
                .cast("long") % m_bits)

    if n_hashes > 4:
        raise ValueError("n_hashes > 4 not supported (one md5 digest "
                         "yields four 32-bit probe slices)")
    doc_sh = _shingle_base(df, text_col, id_col, k)
    if df.isStreaming:
        # TRULY map-only formulation (no aggregation — an
        # unwatermarked streaming groupBy can't run append):
        # per-element array filter. Interpreted HOF lambdas are fine
        # at ingest rates; the batch path below is the codegen'd one.
        def shingle_hit(s: Column) -> Column:
            cond = bit_set(slice_probe(F.md5(s), 0))
            for i in range(1, n_hashes):
                cond = cond & bit_set(slice_probe(F.md5(s), i))
            return cond
        counted = doc_sh.select(
            "_id",
            F.size("_sh").alias("n_shingles"),
            F.size(F.filter("_sh", shingle_hit)).alias("n_bloom_hits"))
    else:
        # explode_outer (empty-shingle docs keep a null row) + an
        # explicit shared digest column, then plain-column bit tests
        exploded = (doc_sh
                    .select("_id", F.size("_sh").alias("_n"),
                            F.explode_outer("_sh").alias("_g"))
                    .withColumn("_d", F.md5("_g")))
        hit = F.lit(True)
        for i in range(n_hashes):
            hit = hit & bit_set(slice_probe(F.col("_d"), i))
        counted = (exploded
                   .withColumn("_hit", F.when(F.col("_g").isNull(),
                                              F.lit(0))
                               .otherwise(hit.cast("int")))
                   .groupBy("_id")
                   .agg(F.first("_n").alias("n_shingles"),
                        F.sum("_hit").cast("int")
                        .alias("n_bloom_hits")))
    return counted.select(
        F.col("_id").alias(id_col), "n_shingles", "n_bloom_hits",
        F.round(
            F.when(F.col("n_shingles") > 0,
                   F.col("n_bloom_hits").cast("double")
                   / F.col("n_shingles"))
            .otherwise(F.lit(0.0)), 6).alias("bloom_contamination"))


# SimHash width: 15 hex chars of md5 = 60 bits. md5 (not xxhash64)
# so the token hash is portable to ANSI SQL engines and the whole
# pipeline is oracle-checkable; 60 bits keeps every intermediate
# (including the folded hash) positive in a signed 64-bit long.
_SIMHASH_BITS = 60


def token_hash60(t: Column) -> Column:
    """Portable 60-bit token hash: first 15 hex chars of md5.
    DuckDB computes the identical value as
    ``('0x' || substr(md5(t), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) table.

    Formulation: explode tokens → one plain ``sum(±1)`` aggregate per
    bit → fold sign bits (disjoint powers of two, so a plain sum).
    All whole-stage codegen; map-side partial aggregation means the
    shuffle carries 60 longs per document — same explode+agg shape
    that made MinHash ~20× faster than per-element higher-order
    lambdas."""
    base = _spread(df, id_col).select(
        F.col(id_col).alias("_id"),
        tokens_of(F.col(text_col)).alias("_tk"))
    # materialize the token hash ONCE in its own projection — inlining
    # it in each agg recomputes md5 per BIT (no cross-aggregate
    # subexpression elimination; measured 3×)
    expl = (base.select("_id", F.explode_outer("_tk").alias("_t"))
            .select("_id", token_hash60(F.col("_t")).alias("_h")))
    # per-bit POPCOUNT sums (plain shift+and, no CASE per row) + one
    # count; the ±1-majority sign is recovered as 2·s_b > n, which is
    # exactly sum(±1) > 0 — identical simhash values (cross-checked in
    # tests), ~6% cheaper per row across the 60 aggregates (r03).
    # r10 (guide §1 "measure first"): the bench's per-run cost was
    # DOMINATED by building this expression tree from Python — ~480
    # py4j Column calls at ~2.3 s/build vs ~1.0 s of execution. The
    # identical expressions as SQL strings (one JVM parse each) cut
    # the build to ~0.3 s: dedup_simhash 4.7→2.3 s same-session A/B,
    # bit-identical signatures (collect-compared + oracle).
    # A packed dual-field accumulator (30 sums of bit_b+bit_{b+30}·2³¹)
    # was tried first and measured 0.95× — the aggregate buffer count
    # was never the bottleneck; plan-build time was.
    # the whole majority-fold as ONE aggregate expression: each bit's
    # sum appears once, the repeated count(_h) is deduplicated by
    # Catalyst's aggregate-expression sharing — one py4j call total
    fold = " + ".join(
        f"if(2 * sum(shiftright(_h, {b}) & 1) > count(_h), {1 << b}L, 0L)"
        for b in range(_SIMHASH_BITS))
    return (expl.groupBy(F.col("_id").alias(id_col))
            .agg(F.expr(fold).alias("simhash")))


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  max_bucket: int | None = 1024) -> DataFrame:
    """Near-dup pairs by SimHash: band the 60-bit hash into 4 15-bit
    chunks, bucket-join, verify bit_count(xor) ≤ max_hamming.

    Recall guarantee (pigeonhole): with 4 chunks every pair at
    hamming ≤ 3 shares a chunk and is found — unless a chunk bucket
    exceeds ``max_bucket`` and is dropped (see ``_cap_buckets``).
    Larger max_hamming values are permitted but approximate — a pair
    whose differing bits spread across all 4 chunks is never a
    candidate."""
    # _materialize: the 60-aggregate signature pass is the
    # expensive stage and has THREE consumers (bucket-size agg + both
    # self-join sides); without the materialization each one re-runs
    # it (measured 3.45s → 2.95s at sf0.1). minhash doesn't get the
    # same treatment — its signature stage is cheap enough that the
    # checkpoint write costs more than the recompute.
    base = (simhash(df, text_col, id_col)
            .select(F.col(id_col).alias("_id"),
                    F.col("simhash").alias("_h")))
    base = _materialize(base)
    chunks = base.select(
        "_id", "_h",
        F.posexplode(F.array(*[
            F.shiftright(F.col("_h"), i * 15).bitwiseAND(F.lit(0x7FFF))
            for i in range(4)
        ])).alias("_chunk_i", "_chunk"),
    )
    chunks = _cap_buckets(chunks, ["_chunk_i", "_chunk"], max_bucket)
    # The hamming test is INSIDE the join condition, so candidates
    # stream through the sort-merge join and die in-stage; only true
    # near-dups (linear in the corpus) reach the dropDuplicates
    # shuffle. The r07 formulation deduped FIRST — a shuffle of every
    # candidate pair, which saturates at scale because the 15-bit
    # chunk space is fixed: at 5M docs the average chunk bucket holds
    # ~153 rows, ≈1.5e9 candidate pairs, and the sf100 sweep died on
    # ~70 GB of dropDuplicates spill. Same result set either way
    # (hamming is a pure function of the pair); measured sf100:
    # disk-death → 170 s.
    ham = F.bit_count(F.col("a._h").bitwiseXOR(F.col("b._h")))
    return (chunks.alias("a").join(
                chunks.alias("b"),
                on=[F.col("a._chunk_i") == F.col("b._chunk_i"),
                    F.col("a._chunk") == F.col("b._chunk"),
                    F.col("a._id") < F.col("b._id"),
                    ham <= F.lit(int(max_hamming))])
            .select(F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b"),
                    ham.alias("hamming"))
            .dropDuplicates(["id_a", "id_b"]))


def neardup_clusters(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     pairs: DataFrame | None = None,
                     max_iters: int = 24,
                     **lsh_kwargs) -> DataFrame:
    """Connected components over near-duplicate candidate pairs →
    one row per document ``(doc_id, cluster_id, is_canonical)``.

    ``cluster_id`` is the minimum doc id in the component; exactly one
    document per cluster (the minimum) is canonical — the keep-list of
    a corpus-level dedup pass is ``is_canonical = true``. Documents in
    no pair are their own singleton cluster (via the final left join,
    they never enter the iteration).

    Algorithm, two regimes keyed on the edge count (the broadcast-
    threshold philosophy):

    - ``|E| <=`` :data:`~piglet_spark.datapipe.util.DRIVER_CC_EDGES`
      (1M) and estimated driver memory ``<=``
      :data:`~piglet_spark.datapipe.util.DRIVER_CC_BYTES`: union-find ON THE
      DRIVER. The LSH pair set is a vanishing fraction of the corpus
      — that is LSH's whole point — so even a billion-document run
      usually lands here; 1M edges cost a one-off collect plus a
      python dict of ≤2M entries (a few hundred MB of driver memory
      at the default cap, seconds of CPU) vs O(log diameter)
      distributed rounds each paying full job latency. Exact same
      labels as the distributed path (min id per component).
    - larger edge sets: distributed min-label propagation + pointer
      jumping, restricted to the edge subgraph. Each round takes min
      over {own label, neighbors' labels, label-of-label l(l(v))};
      the pointer jump doubles propagation distance per round, so
      convergence is O(log diameter) — a 2^20-long path converges
      within the default 24 rounds. Raises if the cap is still hit
      (a silently split component would leave documents with no
      canonical representative).

    Either way the full corpus is touched exactly twice (pair
    generation + the final left join).

    Iteration materialization: each round the label relation is
    checkpointed to truncate lineage (the plan would otherwise grow
    exponentially in the round count). If a reliable checkpoint dir is
    configured (``spark.sparkContext.setCheckpointDir``) rounds use
    ``checkpoint()`` — executor-loss-safe, the right setting for a
    multi-hour cluster run. Otherwise ``localCheckpoint`` is used
    (fine on local[*]; on a cluster an executor loss mid-iteration
    fails the job and you should configure a checkpoint dir).
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(df, text_col, id_col, **lsh_kwargs)
    spark = df.sparkSession
    try:
        reliable = bool(spark.sparkContext.getCheckpointDir())
    except Exception:
        reliable = False

    def _ckpt(d: DataFrame, eager: bool = True) -> DataFrame:
        if reliable:
            return d.checkpoint(eager=eager)
        return d.localCheckpoint(eager=eager)

    # materialize the pair set ONCE before anything fans out: the
    # edge union reads it twice and every propagation round reads the
    # edges again — without this the whole LSH pipeline re-runs per
    # consumer (r03: replaces the shared-shingle checkpoint that was
    # inside minhash_lsh_pairs and caused the r02 bench regression)
    pairs = _ckpt(pairs.select("id_a", "id_b"))
    n_edges = pairs.count()  # reads the materialized blocks: cheap
    # the driver regime is gated on BYTES, not just edge count: with
    # string doc ids (URLs, UUID paths — the common corpus case) 1M
    # collected edges can be 10-50× larger on the driver than the
    # ~16 B/edge the numeric-id sizing assumed (r04, VERDICT r03)
    if (n_edges <= util.DRIVER_CC_EDGES
            and _edge_bytes_estimate(pairs, n_edges)
            <= util.DRIVER_CC_BYTES):
        labels = _driver_union_find(spark, pairs)
    else:
        labels = _distributed_cc(pairs, max_iters, _ckpt)
    out = (df.select(F.col(id_col).alias("doc_id"))
           .join(labels.withColumnRenamed("v", "doc_id"),
                 on="doc_id", how="left"))
    cluster = F.coalesce(F.col("l"), F.col("doc_id"))
    return out.select(
        "doc_id", cluster.alias("cluster_id"),
        (F.col("doc_id") == cluster).alias("is_canonical"))


def _edge_bytes_estimate(pairs: DataFrame, n_edges: int) -> int:
    """Estimated driver-side memory for collecting the edge list and
    building the union-find dict. Numeric ids are a fixed ~56 B/edge
    (two boxed python ints + dict-entry overhead); string ids sample
    up to 256 materialized rows for the average id width and add the
    per-str object overhead (~49 B + data, ×2 ids, + dict entries)."""
    numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if all(isinstance(pairs.schema[c].dataType, numeric)
           for c in ("id_a", "id_b")):
        return n_edges * 56
    sample = pairs.limit(256).collect()  # pairs is checkpointed: cheap
    if not sample:
        return 0
    avg = sum(len(str(r[0])) + len(str(r[1])) for r in sample) / len(sample)
    return int(n_edges * (avg + 2 * 49 + 100))


def _driver_union_find(spark, pairs: DataFrame) -> DataFrame:
    """Exact connected components of a SMALL edge list via driver-side
    union-find with path halving; labels = min id per component,
    identical to the distributed path. Bounded by
    ``util.DRIVER_CC_EDGES`` edges AND ``util.DRIVER_CC_BYTES`` of
    estimated driver memory (see ``_edge_bytes_estimate``)."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while r != parent[r]:
            parent[r] = parent[parent[r]]
            r = parent[r]
        parent[x] = r
        return r

    # one collect, not toLocalIterator: the edge set is bounded by
    # util.DRIVER_CC_EDGES (~16 MB at 1M numeric edges) and a per-
    # partition fetch pays 32× the round-trip latency
    for r in pairs.collect():
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    from pyspark.sql.types import StructField, StructType
    vt = pairs.schema["id_a"].dataType
    rows = [(v, find(v)) for v in list(parent)]
    schema = StructType([StructField("v", vt), StructField("l", vt)])
    return spark.createDataFrame(rows, schema)


def _distributed_cc(pairs: DataFrame, max_iters: int, _ckpt) -> DataFrame:
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .union(pairs.select(F.col("id_b").alias("src"),
                                 F.col("id_a").alias("dst"))))
    labels = _ckpt(edges.select(F.col("src").alias("v")).distinct()
                   .select("v", F.col("v").alias("l")))
    # convergence check folded into the per-round job (r01 ran a
    # second join+count action per round), ONE job per round (the
    # lazy localCheckpoint materializes inside the action that
    # computes the metric). Two exact variants by id type:
    # - numeric ids: the vertex set is fixed and labels only
    #   decrease, so sum(l) strictly decreases iff any label changed;
    #   decimal(38,0) keeps the sum exact at any corpus size.
    # - string ids (URLs/UUIDs — no arithmetic): count labels that
    #   changed vs the previous round via a co-partitioned self-join
    #   on v (both sides hash-partitioned on v already).
    numeric_ids = isinstance(
        pairs.schema["id_a"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
    label_sum = F.sum(F.col("l").cast("decimal(38,0)")).alias("s")
    prev_sum = labels.agg(label_sum).first()["s"] if numeric_ids else None
    converged = False
    for _ in range(max_iters):
        neighbor = (edges.join(labels, on=edges.dst == labels.v)
                    .select(F.col("src").alias("v"), F.col("l")))
        jump = (labels.alias("a")
                .join(labels.alias("b"), on=F.col("a.l") == F.col("b.v"))
                .select(F.col("a.v").alias("v"), F.col("b.l").alias("l")))
        new_labels = _ckpt(labels.union(neighbor).union(jump)
                           .groupBy("v").agg(F.min("l").alias("l")),
                           eager=False)
        if numeric_ids:
            cur_sum = new_labels.agg(label_sum).first()["s"]
            labels = new_labels
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
        else:
            changed = (new_labels.alias("n")
                       .join(labels.alias("o"), on="v")
                       .filter(F.col("n.l") != F.col("o.l")).count())
            labels = new_labels
            if changed == 0:
                converged = True
                break
    if not converged:
        raise RuntimeError(
            f"neardup_clusters did not converge within max_iters="
            f"{max_iters} label-propagation rounds — the component "
            f"diameter exceeds ~2^{max_iters}; raise max_iters")
    return labels


def semantic_pairs(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", threshold: float = 0.9,
                   n_clusters: int | None = None, refine_iters: int = 1,
                   train_sample: int = 256,
                   max_cluster: int | None = 4096):
    """Within-cluster cosine pairs for SemDeDup (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space (bounded-sample
    driver Lloyd, broadcast centroids — the ivf_topk trainer), then
    pair members of the SAME cluster with cosine ≥ threshold.

    Returns (pairs, ccos): the pair relation (id_a, id_b, cos) and a
    per-id relation (_id, _ccos) holding each vector's cosine to its
    own centroid — the keeper-selection key for :func:`semantic_dedup`.

    Scale shape: assignment is a broadcast crossJoin + min_by partial
    agg (one row per vector shuffles); pairing shuffles once on the
    cluster id, so candidate volume is Σ_c C(|c|, 2). Clusters larger
    than ``max_cluster`` are sub-split into ~``max_cluster``-sized
    cells (see :func:`_split_hot_clusters`) so every vector still
    participates under a bounded per-cell quadratic; only cross-cell
    pairs inside a split cluster are missed. SemDeDup's own recipe
    sizes k ~ sqrt(n) so |c| stays ~sqrt(n) — the ``n_clusters=None``
    default does exactly that."""
    from .similarity import (_argmin_assign, _as_double, cosine_with_norms,
                             norm_expr, probe_dim, train_centroids)
    dim = probe_dim(df, vec_col)
    if n_clusters is None:
        # the SemDeDup recipe sizes k ~ sqrt(n) so expected cluster
        # size is ~sqrt(n) and Σ C(|c|,2) stays ~n^1.5 / 2 — one
        # count job, clamped to the trainer's sample budget (raise
        # train_sample for corpora beyond train_sample² vectors)
        import math as _math
        from .util import memo_on_df
        n_clusters = max(4, min(
            _math.isqrt(max(memo_on_df(df, "count", df.count), 1)),
            train_sample))
    cent_rows, cents_lit = train_centroids(
        df, vec_col, id_col, n_clusters, refine_iters, train_sample)
    rows = (_spread(df, id_col)
            .select(F.col(id_col).alias(id_col),
                    _as_double(F.col(vec_col)).alias("_v"))
            .withColumn("_nv", norm_expr("_v", dim)))
    if not cent_rows:  # empty corpus
        empty = rows.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cos double")
        return empty, rows.select(F.col(id_col).alias("_id"),
                                  F.lit(0.0).alias("_ccos"))
    # _argmin_assign is narrow (id, _cid) since r08; re-attach _v by
    # one id-keyed join — paid once, the result materializes below
    assigned = rows.join(
        _argmin_assign(rows, cents_lit, id_col, dim), on=id_col)
    assigned = (assigned
                .join(F.broadcast(cents_lit), on="_cid")
                .withColumn("_nv", norm_expr("_v", dim))
                .withColumn("_ccos", cosine_with_norms(
                    "_v", "_cv", "_nv", "_ncv", dim))
                .select(F.col(id_col).alias("_id"), "_v", "_nv",
                        "_cid", "_ccos"))
    assigned = _materialize(assigned)  # feeds pairing AND keeper choice
    ccos = assigned.select("_id", "_ccos")
    capped = _split_hot_clusters(assigned, "_cid", "_id", max_cluster)
    cand = (capped.alias("a").join(
                capped.alias("b"),
                on=[F.col("a._cid") == F.col("b._cid"),
                    F.col("a._sub") == F.col("b._sub"),
                    F.col("a._id") < F.col("b._id")])
            .select(F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b"),
                    F.col("a._v").alias("v_a"), F.col("b._v").alias("v_b"),
                    F.col("a._nv").alias("n_a"), F.col("b._nv").alias("n_b")))
    cos = cosine_with_norms("v_a", "v_b", "n_a", "n_b", dim)
    pairs = (cand.select("id_a", "id_b", F.round(cos, 6).alias("cos"))
             .filter(F.col("cos") >= threshold))
    return pairs, ccos


def semantic_dedup(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", threshold: float = 0.9,
                   **kwargs) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication over an
    embedding column. k-means clusters the space, within-cluster
    pairs with cosine ≥ threshold form duplicate groups (connected
    components), and each group KEEPS the member with the LOWEST
    cosine to its cluster centroid — the paper's diversity-preserving
    choice (outliers survive, prototypical repeats drop).

    Returns one row per vector: (id, group_id, keep). Vectors in no
    qualifying pair are their own group with keep=true. The component
    step reuses :func:`neardup_clusters`' two-regime machinery
    (driver union-find under the byte-aware gate, else distributed
    label propagation)."""
    pairs, ccos = semantic_pairs(df, vec_col, id_col, threshold, **kwargs)
    comp = neardup_clusters(df, id_col=id_col, pairs=pairs)
    # keeper per group: argmin centroid-cosine, ties → smallest id
    scored = comp.join(ccos.withColumnRenamed("_id", "doc_id"),
                       on="doc_id", how="left")
    keepers = (scored.groupBy("cluster_id")
               .agg(F.min_by(F.col("doc_id"),
                             F.struct(F.coalesce(F.col("_ccos"),
                                                 F.lit(0.0)),
                                      F.col("doc_id"))).alias("_keep_id")))
    return (scored.join(keepers, on="cluster_id")
            .select(F.col("doc_id").alias(id_col),
                    F.col("cluster_id").alias("group_id"),
                    (F.col("doc_id") == F.col("_keep_id")).alias("keep")))


def embedding_neardup_pairs(df: DataFrame, vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            threshold: float = 0.95,
                            n_planes: int = 8,
                            max_bucket: int | None = 1024) -> DataFrame:
    """Embedding near-dups: random-hyperplane LSH bucket (map-only,
    deterministic planes) → cosine verify on candidates.
    ``max_bucket`` bounds the per-bucket quadratic blowup
    (see ``_cap_buckets``)."""
    from .similarity import cosine_with_norms, hyperplane_bucket, \
        norm_expr, probe_dim
    base = _spread(df).select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    # hyperplanes must match the embedding dimensionality — zip_with
    # null-pads mismatched lengths, which would bucket every row to 0
    dim = probe_dim(df, vec_col)
    bucketed = (base
                .withColumn("_bucket", hyperplane_bucket("_v", dim, n_planes))
                .withColumn("_n", norm_expr("_v", dim)))
    bucketed = _cap_buckets(bucketed, ["_bucket"], max_bucket)
    cand = (bucketed.alias("a").join(
                bucketed.alias("b"),
                on=[F.col("a._bucket") == F.col("b._bucket"),
                    F.col("a._id") < F.col("b._id")])
            .select(F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b"),
                    F.col("a._v").alias("v_a"),
                    F.col("b._v").alias("v_b"),
                    F.col("a._n").alias("n_a"),
                    F.col("b._n").alias("n_b")))
    cos = cosine_with_norms("v_a", "v_b", "n_a", "n_b", dim)
    return (cand.select("id_a", "id_b", F.round(cos, 6).alias("cos"))
            .filter(F.col("cos") >= threshold))


# ---------------------------------------------------- streaming LSH
# First-seen near-dup detection on ingest: bounded state (one holder
# signature per LSH bucket), usable on unbounded streams.

def _rowwise_banded_pandas(df: DataFrame, text_col: str, id_col: str,
                           num_hashes: int, bands: int,
                           shingle_k: int,
                           keep_shingles: bool = False) -> DataFrame:
    """(_id, _sig, _band, _bucket[, _sh]) via an Arrow ``mapInPandas``
    pass — the streaming signature kernel: values and dtypes equal to
    the batch :func:`_signatures` + :func:`_band_buckets` path (pinned
    by test), so a stream lands in the buckets a batch re-run would.
    Aggregation-free (hashlib md5 + one numpy (num_hashes ×
    n_shingles) min per row), so it applies to unbounded streams; this
    is the path :func:`streaming_neardup_pairs` and
    :func:`minhash_cross_index_stream` use. On batch input the
    aggregate is faster, so batch paths keep it.
    ``keep_shingles`` rides the shingle-string SET out alongside (the
    same set :func:`shingles_of` computes, order irrelevant to the
    set-based Jaccard) — the index-served streaming ingest needs it
    for the exact verify; duplicated ×bands, so only sensible on
    batch-sized (stream micro-batch) inputs."""
    import re as _re
    import numpy as _np

    rows_per_band = _check_bands(bands, num_hashes)
    params = _np.array(_hash_params(num_hashes), dtype=_np.object_)
    a_vec = params[:, 0].astype(object)   # python ints: exact mod-P
    b_vec = params[:, 1].astype(object)
    out_t = ("_id long, _sig array<bigint>, _band int, _bucket long")
    if keep_shingles:
        out_t += ", _sh array<string>"

    def emit(batches):
        import hashlib
        import pandas as pd
        for pdf in batches:
            ids, sigs, bnds, bkts, shs = [], [], [], [], []
            for _id, text in zip(pdf[id_col], pdf[text_col]):
                norm = _re.sub(r"[^a-z0-9]+", " ",
                               ("" if text is None else text)
                               .lower()).strip()
                toks = norm.split(" ") if norm else []
                seen, sh = set(), []
                for i in range(len(toks) - shingle_k + 1):
                    g = " ".join(toks[i:i + shingle_k])
                    if g not in seen:
                        seen.add(g)
                        sh.append(g)
                if sh:
                    xs = _np.array(
                        [int(hashlib.md5(g.encode()).hexdigest()[:8],
                             16) % _P for g in sh],
                        dtype=_np.int64)
                    # (num_hashes, n) products stay < 2^62: int64 ok
                    prods = (_np.asarray(a_vec, dtype=_np.int64)[:, None]
                             * xs[None, :]
                             + _np.asarray(b_vec,
                                           dtype=_np.int64)[:, None])
                    sig = (prods % _P).min(axis=1).tolist()
                else:
                    sig = [_P] * num_hashes
                for b in range(bands):
                    piece = ",".join(
                        [str(b)] + [str(sig[b * rows_per_band + i])
                                    for i in range(rows_per_band)])
                    bkt = int(hashlib.md5(piece.encode())
                              .hexdigest()[:15], 16)
                    ids.append(_id)
                    sigs.append(sig)
                    bnds.append(b)
                    bkts.append(bkt)
                    if keep_shingles:
                        shs.append(sh)
            if ids:
                out = {"_id": ids, "_sig": sigs,
                       "_band": bnds, "_bucket": bkts}
                if keep_shingles:
                    out["_sh"] = shs
                yield pd.DataFrame(out)

    return (df.select(F.col(id_col).cast("long").alias(id_col),
                      text_col)
            .mapInPandas(emit, out_t))


def streaming_neardup_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            threshold: float = 0.5,
                            num_hashes: int = 32, bands: int = 8,
                            shingle_k: int = 3,
                            ttl_sec: int | None = None,
                            n_shards: int = 1 << 10) -> DataFrame:
    """MinHash-LSH near-duplicate detection ON INGEST — the streaming
    counterpart of :func:`minhash_lsh_pairs`, for "is this new
    document a near-dup of anything we've already accepted?".

    Per-row signatures (map-only, aggregation-free; Arrow fast path
    — :func:`_rowwise_banded_pandas`) → band buckets →
    ``applyInPandasWithState`` keyed on (band, bucket % n_shards):
    per shard the state is a dict {bucket → first-seen (id,
    signature)} — one holder per OCCUPIED bucket, never a growing
    list per bucket. Sharding matters: the state function is invoked
    per GROUP per trigger, so raw (band, bucket) keys cost one Python
    call per occupied bucket (measured 40 s for 50k docs — pure
    invocation overhead); 2^10 shards/band amortize it to ~8k calls.
    Each later arrival in a bucket is compared against its holder and
    a ``(id_a, id_b, est_jaccard, band)`` row is emitted when the
    signature-agreement estimate ≥ ``threshold``.
    A pair colliding in several bands emits once per band (distinct
    downstream if needed). Batch counterpart with identical
    first-seen-is-min-id semantics: :func:`neardup_pairs_first_seen`
    (the DuckDB-oracled twin); they agree whenever ids arrive in
    ascending order (pinned by test).

    Scale shape: state is one signature per OCCUPIED bucket,
    pickled per shard — ``ttl_sec`` bounds it on endless streams
    (processing-time GC, per SHARD: an idle shard drops all its
    holders together); the shuffle is the bands-per-doc explode,
    nothing quadratic. Works on batch DataFrames too (dispatches to
    the twin).

    Caveat: with ``ttl_sec`` set, drive the query with an
    ``availableNow`` trigger (or a real long-running trigger) —
    ``processAllAvailable()`` never settles while processing-time
    timeouts are pending."""
    if not df.isStreaming:
        return neardup_pairs_first_seen(
            df, text_col, id_col, threshold=threshold,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k)
    from pyspark.sql import types as _T
    # The streaming state/output schema types the doc id as LONG; a
    # string/UUID id would silently cast to null and then crash in
    # the stateful detector (int(None)). The batch twin accepts any
    # orderable id type — fail loudly here rather than diverge
    # silently by input mode. (Callers with string ids: pre-hash,
    # e.g. .withColumn(id, xxhash64(id)), accepting collision odds.)
    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (_T.ByteType, _T.ShortType,
                                _T.IntegerType, _T.LongType)):
        raise ValueError(
            f"streaming_neardup_pairs: id column {id_col!r} must be "
            f"an integral type (state schema is long), got "
            f"{id_type.simpleString()}; hash string ids to long "
            f"first (e.g. F.xxhash64) on BOTH the stream and any "
            f"batch corpus you compare against")
    from pyspark.sql.streaming.state import GroupStateTimeout
    banded = _rowwise_banded_pandas(df, text_col, id_col, num_hashes,
                                    bands, shingle_k)
    n_shards = int(n_shards)  # sweepable: SCALE.md shards×throughput
    banded = banded.withColumn(
        "_shard", (F.col("_bucket") % n_shards).cast("int"))
    thr = float(threshold)
    ttl = None if ttl_sec is None else int(ttl_sec) * 1000

    def detect(key, pdf_iter, state):
        import pickle
        import pandas as pd
        if state.hasTimedOut:
            state.remove()
            return
        parts = [p for p in pdf_iter if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts).sort_values("_id")
        holders = (pickle.loads(state.get[0]) if state.exists
                   else {})
        rows = []
        band = int(key[0])
        for _id, sig, bkt in zip(pdf["_id"], pdf["_sig"],
                                 pdf["_bucket"]):
            got = holders.get(bkt)
            if got is None:
                holders[bkt] = (int(_id), [int(v) for v in sig])
                continue
            fid, fsig = got
            if int(_id) == fid:
                continue
            agree = sum(1 for a, b in zip(sig, fsig) if int(a) == b)
            est = round(agree / float(len(fsig)), 6)
            if est >= thr:
                rows.append((int(_id), fid, est, band))
        state.update((pickle.dumps(holders),))
        if ttl is not None:
            state.setTimeoutDuration(ttl)
        if rows:
            yield pd.DataFrame(
                rows, columns=["id_a", "id_b", "est_jaccard", "band"])

    return (banded.groupBy("_band", "_shard").applyInPandasWithState(
        detect,
        "id_a long, id_b long, est_jaccard double, band int",
        "holders binary",
        "append",
        GroupStateTimeout.ProcessingTimeTimeout if ttl is not None
        else GroupStateTimeout.NoTimeout))


def neardup_pairs_first_seen(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             threshold: float = 0.5,
                             num_hashes: int = 32, bands: int = 8,
                             shingle_k: int = 3) -> DataFrame:
    """Batch twin of :func:`streaming_neardup_pairs`: per LSH bucket
    the first-seen holder is the MINIMUM id; every other member is
    compared against it by signature agreement. Uses the aggregated
    (whole-stage-codegen) signature path; the zip_with agreement runs
    only on bucket-mates, a small subset. DuckDB-oracle-checkable."""
    banded = _lsh_buckets(_shingle_base(df, text_col, id_col, shingle_k),
                          num_hashes, bands, keep=("_sig",))
    # holder id AND its signature via one bucket window (r10): the
    # former groupBy+double-join evaluated the scan→shingle→signature
    # subtree three times (banded on both join sides + the sigs
    # join-back for the holder's signature). min_by is deterministic
    # here — ids are unique within a (band, bucket). Same rows, one
    # signature pass, one (band, bucket) exchange.
    from pyspark.sql import Window as _W
    w = _W.partitionBy("_band", "_bucket")
    cand = (banded
            .withColumn("_fid", F.min("_id").over(w))
            .withColumn("_fsig", F.min_by("_sig", "_id").over(w))
            .filter(F.col("_id") != F.col("_fid")))
    agree = F.aggregate(
        F.zip_with("_sig", "_fsig",
                   lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v)
    est = F.round(agree.cast("double") / num_hashes, 6)
    scored = cand.select(
        F.col("_id").alias("id_a"), F.col("_fid").alias("id_b"),
        est.alias("est_jaccard"), F.col("_band").cast("int").alias("band"))
    return scored.filter(F.col("est_jaccard") >= float(threshold))
