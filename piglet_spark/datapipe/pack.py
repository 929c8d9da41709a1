"""Training-set assembly operators: sequence packing, deterministic
mixture sampling, and DSIR-style importance weighting.

These cover the last mile of an LLM data pipeline — after cleaning and
dedup, documents are weighted/resampled toward a target distribution
and packed into fixed-length training sequences. All three operators
are pure DataFrame compositions (no Python UDFs) built on the repo's
portable-hash idioms, so every one is exactly reproducible in ANSI SQL
for the correctness oracle.

No counterpart exists in the reference (its surface ends at relational
+ streaming operators); these follow the published recipes:
- concat-and-chunk packing: standard LLM pretraining practice (GPT-2/
  GPT-3 style — concatenate documents, split every seq_len tokens).
- mixture sampling: per-source rates as in Pile/ROOTS-style corpus
  mixing.
- DSIR: Xie et al. 2023 (arXiv:2302.03169), hashed n-gram importance
  resampling; the unigram variant here keeps the oracle exact.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import normalize_text, ws_token_count
from .util import SPREAD_MIN_BYTES, prefix_rank, spread


def _hash32(col: Column, salt: str = "") -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5 (DuckDB:
    ``('0x' || substr(md5(x), 1, 8))::BIGINT``)."""
    v = F.concat(F.lit(salt), col.cast("string")) if salt else \
        col.cast("string")
    return F.conv(F.substring(F.md5(v), 1, 8), 16, 10).cast("bigint")


def chunk_pack(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", seq_len: int = 2048,
               token_col: Optional[str] = None) -> DataFrame:
    """Concat-and-chunk sequence packing: documents concatenated in
    ``id_col`` order and split into fixed ``seq_len``-token training
    sequences. Returns one row per document:
    (id, n_tokens, start_tok, first_chunk, last_chunk, chunk_offset)
    where start_tok is the document's global token offset, first/last
    chunk are the training-sequence ids it lands in, and chunk_offset
    is its position inside the first chunk.

    Scale shape: start_tok is :func:`datapipe.util.prefix_rank` of
    the token counts in id order over a pinned narrow (id, n_tokens)
    projection — one window up to ``util.SMALL_ROWS`` rows, the
    TeraSort two-phase rank above.

    Token counts default to whitespace tokens of ``text_col``; pass
    ``token_col`` to use a precomputed count (e.g. a real tokenizer's
    output carried in the table).
    """
    toks = (F.col(token_col) if token_col
            else ws_token_count(F.col(text_col))).cast("long")
    # tokenize once: the regime count and the range sampler would
    # re-run the token-count scan over the full text otherwise.
    # spread first — the tokenize on a 1-row-group local scan
    # otherwise runs on 1 core (r11, guide §6; no-op at scale)
    counted = spread(df, min_bytes=SPREAD_MIN_BYTES).select(
        F.col(id_col), toks.alias("n_tokens")).localCheckpoint()
    out, _ = prefix_rank(counted, [F.col(id_col)], F.col("n_tokens"),
                         "start_tok")
    end = F.col("start_tok") + F.col("n_tokens") - 1
    return out.select(
        id_col, "n_tokens", "start_tok",
        F.floor(F.col("start_tok") / seq_len).alias("first_chunk"),
        # an empty doc occupies no chunk span: last = first
        F.when(F.col("n_tokens") > 0, F.floor(end / seq_len))
         .otherwise(F.floor(F.col("start_tok") / seq_len))
         .alias("last_chunk"),
        (F.col("start_tok") % seq_len).alias("chunk_offset"))


def global_shuffle(df: DataFrame, id_col: str = "doc_id",
                   seed: int = 42,
                   pos_col: str = "shuffle_pos") -> DataFrame:
    """Deterministic global shuffle: every row gets a reproducible
    pseudo-random global position ``pos_col`` (0-based, dense), the
    order a training run reads the corpus in. Same seed → the same
    permutation on any cluster size, any partitioning, any engine —
    the property that makes a data-loading order auditable and a
    crashed run resumable (Spark's ``orderBy(rand(seed))`` is
    partitioning-dependent; this is not).

    Sort key = md5('<seed>:' || id) with the id as tie-break, so the
    permutation is the oracle-portable
    ``ROW_NUMBER() OVER (ORDER BY md5(...), id) - 1``.

    ``id_col`` must be unique (it is the join-back key; a duplicated
    id would fan out its rows) — the same precondition every dedup/
    pack operator in this module carries.

    Scale shape: positions are :func:`datapipe.util.prefix_rank` with
    weight 1 on a CHECKPOINTED NARROW (id, key) projection, then
    hash-joined to the full rows by id — the wide payload is neither
    checkpointed nor range-sampled.

    No counterpart in the reference (its ORDER BY is value-order
    only, op/OrderBy.scala); recipe is standard pretraining practice
    (shuffle-before-pack)."""
    for c in (pos_col, "__key", "__pid", "__off"):
        if c in df.columns:
            raise ValueError(
                f"global_shuffle: input already has a {c!r} column — "
                "rename it first")
    keyed = (df.select(
        F.col(id_col),
        F.md5(F.concat(F.lit(f"{seed}:"),
                       F.col(id_col).cast("string"))).alias("__key"))
        .localCheckpoint())  # narrow: range sampler re-scans ~32 B/row
    pos, _ = prefix_rank(keyed, [F.col("__key"), F.col(id_col)],
                         F.lit(1), pos_col)
    return df.join(pos.select(id_col, pos_col), on=id_col)


def take_top_frac(df: DataFrame, by_col: str, frac: float,
                  id_col: str = "doc_id",
                  ascending: bool = False) -> DataFrame:
    """Quality gate: keep exactly ``ceil(frac · n)`` rows — the best
    by ``by_col`` (descending by default; ``ascending=True`` keeps
    the smallest, e.g. a perplexity score). The rank-based form of
    the filter every cleaning pipeline ends with ("keep the top 60%
    by quality"): unlike a fixed threshold it is calibration-free,
    and unlike approx_percentile it is exact and reproducible —
    round-6 score ties break on the id, so the kept set is identical
    on any engine (the oracle contract, same as dsir_resample's topk
    mode).

    ``id_col`` must be unique (join-back key; a duplicated id would
    fan out its rows and defeat the exact-count contract).

    Scale shape: the rank is :func:`datapipe.util.prefix_rank` with
    weight 1 on a checkpointed narrow (id, score) projection, kept
    where < k, then one hash join back to the full rows — the wide
    payload is never range-sampled."""
    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"take_top_frac: frac must be in [0,1], "
                         f"got {frac}")
    for c in ("__key", "__pid", "__off", "__rk"):
        if c in df.columns:
            raise ValueError(
                f"take_top_frac: input already has a {c!r} column — "
                "rename it first")
    key = F.round(F.col(by_col).cast("double"), 6)
    keyed = (df.select(F.col(id_col), key.alias("__key"))
             .localCheckpoint())  # narrow (id, score) projection
    # nulls rank WORST in either direction (asc_nulls_last matches
    # DuckDB's default NULLS LAST; Spark's bare asc() is nulls-FIRST,
    # which would let unscored rows crowd out real ones)
    order = [F.col("__key").asc_nulls_last() if ascending
             else F.col("__key").desc_nulls_last(),
             F.col(id_col).asc()]
    ranked, total = prefix_rank(keyed, order, F.lit(1), "__rk")
    k = int(math.ceil(frac * total))
    kept = ranked.filter(F.col("__rk") < k).select(id_col)
    return df.join(kept, on=id_col)


def mixture_sample(df: DataFrame, rates: dict[str, float],
                   source_col: str = "source", id_col: str = "doc_id",
                   seed: int = 42,
                   default_rate: float = 0.0) -> DataFrame:
    """Corpus mixing: keep each row with its source's rate, decided by
    a deterministic per-row hash (no RNG — identical membership on any
    engine/partitioning, the seeded-SAMPLE idiom). Rows from sources
    not in ``rates`` keep with ``default_rate``. Map-only: a literal
    CASE over the source column plus one md5 per row — runs at scan
    speed and pushes down through column pruning.

    ``rates`` values may exceed 1.0 conceptually in mixture recipes
    (epoch repetition); values are clamped to [0, 1] here — repetition
    is a separate explode step (:func:`mixture_repeat`), not a
    sampling decision.
    """
    # nested whens: default first, then per-source overlays (sorted
    # for deterministic codegen)
    thr = F.lit(int(max(0.0, min(1.0, default_rate)) * 4294967296))
    for src, rate in sorted(rates.items()):
        r = max(0.0, min(1.0, float(rate)))
        thr = F.when(F.col(source_col) == src,
                     F.lit(int(r * 4294967296))).otherwise(thr)
    h = _hash32(F.col(id_col), salt=f"{seed}|")
    return df.filter(h < thr)


def split_assign(df: DataFrame, weights: dict[str, float] | None = None,
                 id_col: str = "doc_id", seed: int = 42,
                 split_col: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment: every row gets a
    ``split_col`` label drawn from ``weights`` (default
    train 0.98 / val 0.01 / test 0.01) by a per-id hash — no RNG, so
    the SAME row lands in the SAME split on any engine, any
    partitioning, any cluster size, and on every re-run: the property
    that makes eval splits trustworthy (a rand()-based split silently
    reshuffles rows between train and test across runs — eval
    contamination by nondeterminism). Map-only: one md5 per row + a
    literal CASE ladder; runs at scan speed.

    Label boundaries are cumulative fractions of 2³² in sorted-label
    order, exactly reproducible in SQL for the oracle (same idiom as
    ``mixture_sample``/seeded SAMPLE). Weights must be positive and
    sum to ≤ 1 + 1e-9; any remainder goes to the LAST label in sorted
    order (so weights that sum to 1 partition exactly)."""
    if weights is not None and not weights:
        raise ValueError("split_assign: weights must be non-empty")
    if weights is None:
        weights = {"train": 0.98, "val": 0.01, "test": 0.01}
    if any(w < 0 for w in weights.values()):
        raise ValueError("split_assign: weights must be >= 0")
    tot = sum(weights.values())
    if tot > 1.0 + 1e-9:
        raise ValueError(
            f"split_assign: weights sum to {tot}, must be <= 1")
    if split_col in df.columns:
        raise ValueError(
            f"split_assign: input already has a {split_col!r} column "
            "— rename it first")
    h = _hash32(F.col(id_col), salt=f"{seed}|")
    labels = sorted(weights)
    cum = 0.0
    bounds = []  # ascending (label, upper-bound) CASE ladder
    for lab in labels[:-1]:
        cum += weights[lab]
        bounds.append((lab, int(cum * 4294967296)))
    expr = None
    for lab, b in bounds:
        cond = h < F.lit(b)
        expr = F.when(cond, F.lit(lab)) if expr is None \
            else expr.when(cond, F.lit(lab))
    out = expr.otherwise(F.lit(labels[-1])) if expr is not None \
        else F.lit(labels[-1])
    return df.withColumn(split_col, out)


def mixture_repeat(df: DataFrame, rates: dict[str, float],
                   source_col: str = "source", id_col: str = "doc_id",
                   seed: int = 42,
                   default_rate: float = 1.0) -> DataFrame:
    """Epoch repetition — the other half of corpus mixing (rates > 1
    mean a source is seen multiple times per epoch, e.g. Wikipedia
    3.4× in GPT-3's mix). Each row is emitted
    ``floor(rate) + Bernoulli(frac(rate))`` times, with the Bernoulli
    decided by the same deterministic per-id hash as
    :func:`mixture_sample` — expected copies = rate exactly, zero RNG.
    Output = input columns + ``epoch`` (0-based copy index). Map-side
    sequence-explode: no shuffle, runs at scan speed."""
    rate = F.lit(float(max(0.0, default_rate)))
    for src, r in sorted(rates.items()):
        rate = F.when(F.col(source_col) == src,
                      F.lit(float(max(0.0, r)))).otherwise(rate)
    whole = F.floor(rate).cast("long")
    frac = rate - whole
    h = _hash32(F.col(id_col), salt=f"{seed}|")
    extra = (h < (frac * F.lit(4294967296.0)).cast("bigint")).cast("long")
    n = whole + extra
    copies = F.when(n >= 1, F.sequence(F.lit(0), (n - 1).cast("int"))) \
        .otherwise(F.array().cast("array<int>"))
    return (df.withColumn("epoch", F.explode(copies)))


def dsir_weights(raw: DataFrame, target: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id",
                 n_buckets: int = 4096,
                 alpha: float = 1.0) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    score each raw document by how target-like its hashed-token
    distribution is. Returns (id, n_feat, dsir_logw) where dsir_logw =
    Σ_tokens log(p_target[bucket] / p_raw[bucket]) with Laplace-
    smoothed bucket probabilities over ``n_buckets`` hashed unigram
    features. Resample the corpus by keeping the top-w fraction or by
    Gumbel-top-k on the weights.

    The paper hashes n-grams (n=2); this implementation uses unigrams
    so the DuckDB oracle reproduces values exactly — the bucketing,
    smoothing, and log-ratio math are the paper's. Scale shape: both
    bucket tables aggregate to ≤ n_buckets rows (map-side partial
    aggs) and broadcast into the per-document scoring join; the only
    data-sized shuffle is the per-document sum on the id.
    """
    def buckets_of(d: DataFrame) -> DataFrame:
        tok = F.explode(F.split(normalize_text(F.col(text_col)),
                                " ")).alias("_tok")
        # project the token string away immediately: only the bucket id
        # survives, so the pinned raw-side relation is two ints per
        # token. spread first: the normalize+explode+md5 pass on a
        # 1-row-group local scan otherwise runs on 1 core (r11).
        return (spread(d, id_col, min_bytes=SPREAD_MIN_BYTES)
                .select(F.col(id_col).alias("_id"), tok)
                .filter(F.col("_tok") != "")
                .select("_id",
                        (_hash32(F.col("_tok")) % n_buckets).alias("_b")))

    # r10 (guide §1.2 "don't compute things twice"): the raw side's
    # exploded bucket relation feeds BOTH the raw probability counts
    # and the per-document scoring join — pin the narrow (_id, _b)
    # rows once instead of running normalize→split→explode→hash over
    # the raw corpus twice. Two ints/token materialized vs a second
    # full regex-tokenize pass; the target side has one consumer and
    # stays lazy.
    raw_bk = buckets_of(raw).localCheckpoint(eager=False)
    # BOTH sides' bucket counts in ONE side-tagged aggregation job
    # (r10b): the former per-side probs() ran an eager checkpoint +
    # a total-collect per side — four driver-synchronized jobs; the
    # union aggregates once (≤ 2·n_buckets rows, map-side partials),
    # one checkpoint, one collect for both totals, and the two
    # tokenize scans overlap inside the one job. Values unchanged:
    # counts, totals and the smoothing formulas are per-side exactly
    # as before.
    cnt = (buckets_of(target).select(F.lit(0).alias("_side"), "_b")
           .unionByName(raw_bk.select(F.lit(1).alias("_side"), "_b"))
           .groupBy("_side", "_b")
           .agg(F.count(F.lit(1)).alias("_n"))
           .localCheckpoint())
    # bucket-entry count == normalized ws-token total (normalize
    # squeezes whitespace, so the split yields no empty tokens);
    # the collected scalars go back in as literals — no crossJoin
    tots = dict(cnt.groupBy("_side").agg(F.sum("_n")).collect())
    t_tot = tots.get(0, 0) or 0
    r_tot = tots.get(1, 0) or 0
    pt = (cnt.filter(F.col("_side") == 0)
          .select("_b", ((F.col("_n") + F.lit(alpha))
                         / F.lit(float(t_tot + alpha * n_buckets))
                         ).alias("_pt")))
    pr = (cnt.filter(F.col("_side") == 1)
          .select("_b", ((F.col("_n") + F.lit(alpha))
                         / F.lit(float(r_tot + alpha * n_buckets))
                         ).alias("_pr")))
    # missing buckets get the pure-smoothing probability via coalesce
    # with a per-side fallback computed against each side's total
    t_fb = alpha / (t_tot + alpha * n_buckets)
    r_fb = alpha / (r_tot + alpha * n_buckets)
    ratio = (pt.join(pr, on="_b", how="full_outer")
             .select("_b", F.log(
                 F.coalesce(F.col("_pt"), F.lit(t_fb))
                 / F.coalesce(F.col("_pr"), F.lit(r_fb))).alias("_lr")))
    scored = (raw_bk
              .join(F.broadcast(ratio), on="_b", how="left")
              .groupBy("_id")
              .agg(F.count(F.lit(1)).alias("n_feat"),
                   F.round(F.sum("_lr"), 6).alias("dsir_logw")))
    # docs with zero tokens never appear in buckets_of — restore them
    # with weight 0 so every input row gets a verdict
    all_ids = raw.select(F.col(id_col).alias("_id")).distinct()
    return (all_ids.join(scored, on="_id", how="left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce(F.col("n_feat"), F.lit(0)).alias("n_feat"),
                    F.coalesce(F.col("dsir_logw"),
                               F.lit(0.0)).alias("dsir_logw")))


def dsir_resample(raw: DataFrame, target: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n_buckets: int = 4096, frac: float = 0.1,
                  seed: int = 42, alpha: float = 1.0,
                  method: str = "gumbel") -> DataFrame:
    """DSIR resampling (the paper's step after weighting): keep the
    ``ceil(frac · n)`` most target-like documents. Returns
    (id, dsir_logw, sel_key) of the kept docs.

    - ``gumbel`` (default): Gumbel-top-k — sel_key = logw + G where
      G = -ln(-ln(u)) with u a deterministic per-id hash in (0, 1);
      top-k by this key samples WITHOUT replacement with probability
      ∝ exp(logw), the paper's sampling semantics, yet is exactly
      reproducible on any engine (no RNG).
    - ``topk``: sel_key = logw — hard top-fraction selection.

    sel_key is rounded to 6 decimals before ranking (ties break on
    the id) so the selected set is identical across engines whose
    ``ln`` differs in the last ulp — the correctness-oracle contract.

    Scale shape: selection is :func:`take_top_frac`'s top-k — the
    rows whose :func:`datapipe.util.prefix_rank` in (sel_key desc, id)
    order is < k — taken directly on the pinned (id, logw, key)
    relation: it is already narrow, so take_top_frac's join back to
    full rows would only add an exchange (measured +18% on the sf0.1
    cell, local[4]). The weights themselves come from :func:`dsir_weights`
    (broadcast bucket tables)."""
    w = dsir_weights(raw, target, text_col, id_col,
                     n_buckets=n_buckets, alpha=alpha)
    if method == "gumbel":
        u = (_hash32(F.col(id_col), salt=f"{seed}|") + F.lit(0.5)) \
            / F.lit(4294967296.0)
        key = F.round(F.col("dsir_logw") + -F.log(-F.log(u)), 6)
    elif method == "topk":
        key = F.round(F.col("dsir_logw"), 6)
    else:
        raise ValueError(f"unknown dsir_resample method {method!r}")
    # materialize the 3-column weights ONCE: the regime count, the
    # range sampler and the rank would otherwise each re-execute the
    # whole weights pipeline (measured 2.6× the whole query at sf10)
    keyed = w.select(F.col(id_col), F.col("dsir_logw"),
                     key.alias("sel_key")).localCheckpoint()
    order = [F.col("sel_key").desc(), F.col(id_col).asc()]
    ranked, total = prefix_rank(keyed, order, F.lit(1), "__rk")
    k = int(math.ceil(frac * total))
    return (ranked.filter(F.col("__rk") < k)
            .select(id_col, "dsir_logw", "sel_key"))


def token_budget_sample(df: DataFrame,
                        budgets: "dict[str, int] | int",
                        group_col: str = "source",
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        token_col: Optional[str] = None,
                        seed: int = 42) -> DataFrame:
    """Deterministic TOKEN-budget mixture sampling: per group, keep
    documents in seeded md5-hash order while the group's running
    token total (EXCLUSIVE of the current doc) is under the budget —
    the "sample 10B tokens of web, 2B of code" pass a pre-training
    mixture runs when quotas are token counts, not document counts
    (:func:`mixture_sample` rates / :func:`stratified_sample_n`
    doc quotas). The doc that crosses the budget is kept (overshoot
    ≤ one document — the standard greedy-prefix contract), so a
    group's selection is a deterministic prefix of its hash order:
    same seed → same docs on any cluster size or partitioning.
    ``budgets``: one int for every group, or a dict {group: budget}
    — groups absent from the dict get budget 0 (excluded).

    Scale shape: the per-group running sum is
    :func:`datapipe.util.prefix_rank` of the token counts grouped by
    ``group_col`` — above ``util.SMALL_ROWS`` rows its two-phase
    regime keeps a 100 TB group off a single reducer. Token counts
    default to whitespace tokens; pass ``token_col`` for a real
    tokenizer's counts carried in the table."""
    toks = (F.col(token_col) if token_col
            else ws_token_count(F.col(text_col))).cast("long")
    if isinstance(budgets, dict):
        if not budgets:
            raise ValueError("token_budget_sample: empty budgets")
        pairs = []
        for g, b in sorted(budgets.items()):
            pairs += [F.lit(g), F.lit(int(b))]
        budget = F.coalesce(
            F.element_at(F.create_map(*pairs), F.col(group_col)),
            F.lit(0))
    else:
        budget = F.lit(int(budgets))
    key = F.md5(F.concat(F.lit(f"{seed}:"),
                         F.col(id_col).cast("string")))
    # tokenize once (chunk_pack lesson: the regime count and the range
    # sampler would re-run the token scan otherwise); spread first —
    # the tokenize pass on a 1-row-group local scan otherwise runs on
    # 1 core (r11, guide §6; no-op at scale)
    counted = (spread(df, min_bytes=SPREAD_MIN_BYTES)
               .select(F.col(group_col), F.col(id_col),
                       toks.alias("_tok"))
               .withColumn("_k", key).localCheckpoint())
    ranked, _ = prefix_rank(counted, [F.col("_k"), F.col(id_col)],
                            F.col("_tok"), "_cb", groups=[group_col])
    picked = ranked.filter(F.col("_cb") < budget).select(id_col)
    return df.join(picked, on=id_col).select(*df.columns)


def stratified_sample_n(df: DataFrame, n_per_group: int,
                        group_col: str = "source",
                        id_col: str = "doc_id",
                        seed: int = 42) -> DataFrame:
    """Deterministic stratified sample: exactly ``n_per_group`` rows
    per group (fewer iff the group is smaller), selected by md5-hash
    order — the balanced-evaluation-set / per-domain-quota pass a
    mixture pipeline runs when it needs exact counts rather than
    :func:`mixture_sample`'s Bernoulli rates. Same seed → the same
    rows on any cluster size or partitioning.

    Selection = the first ``n_per_group`` rows per group under
    ``ORDER BY md5('<seed>:' || id), id`` — oracle-portable as a
    plain ROW_NUMBER. Returns the input columns (``id_col`` must be
    unique, the shared precondition of this module's samplers).

    Scale shape — why not one window: a per-group window shuffles
    EVERY row into |groups| partitions, and a corpus with 10 sources
    lands 100 TB on 10 reducers (catastrophic skew). Instead the
    rank runs in two phases: (1) per (group, salt) — 64 salt lanes
    from the hash key's low bits — a partial ROW_NUMBER keeps each
    lane's first ``n``: candidates shrink to ≤ 64·n per group while
    every reducer holds a bounded heap-sized slice; (2) the final
    per-group ROW_NUMBER ranks only those ≤ 64·n survivors. Phase 1
    can never evict a final winner (a group's global top-n by the
    key is a subset of the union of its per-lane top-n), so the
    result is EXACTLY the single-window answer; both shuffles after
    phase 1 are candidate-sized. The wide payload joins back by id
    at the end — the sort key never drags the full row through the
    rank shuffles."""
    from pyspark.sql.window import Window

    n = int(n_per_group)
    if n <= 0:
        raise ValueError("stratified_sample_n: n_per_group must be >= 1")
    key = F.md5(F.concat(F.lit(f"{seed}:"),
                         F.col(id_col).cast("string")))
    narrow = df.select(group_col, id_col).withColumn("_k", key)
    # salt from the key's trailing hex — independent of its leading
    # sort order, deterministic, partitioning-free
    salted = narrow.withColumn(
        "_s", F.conv(F.substring("_k", 29, 4), 16, 10).cast("int") % 64)
    w1 = (Window.partitionBy(group_col, "_s")
          .orderBy("_k", id_col))
    cand = (salted.withColumn("_r", F.row_number().over(w1))
            .filter(F.col("_r") <= n).drop("_r", "_s"))
    w2 = Window.partitionBy(group_col).orderBy("_k", id_col)
    picked = (cand.withColumn("_r", F.row_number().over(w2))
              .filter(F.col("_r") <= n)
              .select(id_col))
    return df.join(picked, on=id_col).select(*df.columns)
