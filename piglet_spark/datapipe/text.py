"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure Column expressions (JVM-side, whole-stage
codegen) — no Python UDFs — so they run at scan speed on 100 TB and
are exactly reproducible in ANSI SQL for the correctness oracle.
Sole exception: :func:`compression_ratio` (zlib has no SQL
equivalent) — an Arrow-batched ``mapInPandas`` pass, still map-only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import half_up, spread as _spread

# BPE-ish tokenization: word pieces or single non-space punctuation.
# Same regex is valid RE2 (DuckDB) and Java (Spark) syntax.
TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

# tiny per-language marker lexicons for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "de", "los"],
}


def ws_token_count(text: Column) -> Column:
    """Whitespace token count; NULL text counts 0 tokens (r05 —
    size(split(NULL)) is -1 under Spark's legacy sizeOfNull and the
    NULL slipped past the empty-string guard). r10: counts separator
    runs (regexp_count + 1) instead of materializing the token array
    with split() — same value on trimmed text (tokens = whitespace
    runs + 1), no per-row array allocation (the quality_filter_chain
    profile showed the old form dominating a 500k-doc map pass)."""
    t = F.trim(F.coalesce(text, F.lit("")))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.regexp_count(t, F.lit(r"\s+")) + 1)


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count: word pieces + punctuation marks."""
    return F.regexp_count(text, F.lit(TOKEN_RE))


_ASCII_ALPHA = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                "abcdefghijklmnopqrstuvwxyz")


def char_stats(text: Column) -> dict[str, Column]:
    """Per-class character counts. r10: counted as length deltas via
    translate()/replace() (single char-map pass, no new string per
    regex) instead of length(regexp_replace(…)) — identical values,
    measured ~5× on the quality_filter_chain map pass where these
    inline into several rule expressions per row."""
    n = F.length(text)
    alpha = n - F.length(F.translate(text, _ASCII_ALPHA, ""))
    digit = n - F.length(F.translate(text, "0123456789", ""))
    space = n - F.length(F.replace(text, F.lit(" "), F.lit("")))
    punct = n - alpha - digit - space
    return {"n_chars": n, "n_alpha": alpha, "n_digit": digit,
            "n_space": space, "n_punct": punct}


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0,1]:
    0.4·length_score + 0.3·alpha_ratio + 0.3·mean-word-length score.
    (Shape follows public quality-filter practice: C4/Gopher-style
    length & symbol-ratio rules.)"""
    # NULL text scores like empty text (r05: F.least SKIPS nulls, so
    # length(NULL)/500 gave length_score 1.0 and NULL docs scored 0.4
    # — above real short documents)
    text = F.coalesce(text, F.lit(""))
    st = char_stats(text)
    n = st["n_chars"].cast("double")
    ntok = ws_token_count(text).cast("double")
    length_score = F.least(n / F.lit(500.0), F.lit(1.0))
    alpha_ratio = F.when(n > 0, st["n_alpha"] / n).otherwise(F.lit(0.0))
    mwl = F.when(ntok > 0, (n - st["n_space"]) / ntok).otherwise(F.lit(0.0))
    mwl_score = F.when((mwl >= 3) & (mwl <= 10), F.lit(1.0)).otherwise(
        F.lit(0.0))
    return half_up(
        F.lit(0.4) * length_score + F.lit(0.3) * alpha_ratio
        + F.lit(0.3) * mwl_score, 1e6)


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-word hit counts per language (padded word match)."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    out = {}
    for lang, words in LANG_MARKERS.items():
        score = None
        for w in words:
            # occurrences of " w " via length arithmetic (SQL-portable)
            hits = (F.length(padded)
                    - F.length(F.replace(padded, F.lit(f" {w} "), F.lit("")))
                    ) / F.lit(len(w) + 2)
            score = hits if score is None else score + hits
        out[lang] = score.cast("long")
    return out


def lang_id(text: Column) -> Column:
    """argmax over marker-hit counts, 'und' when all zero; ties break
    by language-code order (deterministic)."""
    scores = lang_scores(text)
    langs = sorted(scores)
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("long")
    for lang in langs:
        s = scores[lang]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


def normalize_text(text: Column) -> Column:
    """lowercase, strip non-alphanumerics, squeeze whitespace — the
    canonical form for near-exact fingerprinting.

    One regex pass: a maximal run of ``[^a-z0-9]+`` (spaces included)
    collapsing to a single space is exactly strip-then-squeeze —
    verified zero disagreements with the two-pass form over the full
    sf10 corpus, and measured 3.7× faster (normalize was HALF the
    cost of every shingling pipeline: 18.4 s of the 36 s sf10 corpus
    shingle pass). The DuckDB oracles keep the two-pass spelling;
    outputs are identical."""
    return F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))


def fingerprint(text: Column) -> Column:
    """128-bit document fingerprint of the normalized text."""
    return F.md5(normalize_text(text))


def doc_stats(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Per-document stats table — the standard pre-filter pass.
    r11: spread — sf1 documents arrive as ONE row group, so this
    regex/translate map pass ran on 1 of 32 cores (guide §6 scan
    parallelism; a no-op at scale)."""
    df = _spread(df, id_col)
    t = F.col(text_col)
    st = char_stats(t)
    return df.select(
        F.col(id_col),
        ws_token_count(t).alias("n_tokens"),
        bpe_token_count(t).alias("n_bpe_tokens"),
        st["n_chars"].alias("n_chars"),
        st["n_alpha"].alias("n_alpha"),
        st["n_punct"].alias("n_punct"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fp"),
    )


def text_ngrams(text: Column, n: int) -> Column:
    """Word n-grams straight off a normalized text column (single
    codegen'd regex pass, no higher-order functions).

    One lookahead regex — ``(?=(\\S+ \\S+ …))\\S+`` — captures the
    n-gram starting at every token and consumes one token per match,
    so matches overlap correctly. Measured ~5× faster than the
    zip_with formulation in :func:`ngrams` (higher-order-function
    lambdas are interpreted per element; a regex scan is one JVM call
    per row). Only valid when tokens are single-space separated with
    no empty tokens — exactly what :func:`normalize_text` produces.
    For arbitrary token arrays use :func:`ngrams`."""
    pat = "(?=(" + " ".join([r"\S+"] * n) + r"))\S+"
    return F.regexp_extract_all(text, F.lit(pat), 1)


def ngrams(tokens: Column, n: int) -> Column:
    """Word n-grams of a token array (space-joined).

    Implementation note: zip_with over n shifted slices — measured
    ~20× faster than transform(sequence, i -> element_at(...)):
    per-index lambda evaluation of element_at is interpreted and
    dominates at scale."""
    m = F.size(tokens) - (n - 1)
    out = F.slice(tokens, 1, m)
    for i in range(1, n):
        out = F.zip_with(out, F.slice(tokens, i + 1, m),
                         lambda x, y: F.concat_ws(" ", x, y))
    return F.when(
        F.size(tokens) < n, F.array().cast("array<string>")
    ).otherwise(out)


# ---------------------------------------------------------------- PII
# C4/RefinedWeb-style hygiene: redact personally identifiable
# information before training. All patterns are RE2-compatible (no
# lookaround) so a DuckDB oracle can reproduce the scrub exactly;
# conservative by design — false redactions destroy data, so only
# high-precision shapes are matched. Order matters: the more specific
# pattern runs first so e.g. an SSN is not half-eaten by the phone
# pattern.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("credit_card", r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b", "<CARD>"),
    # octets constrained to 0-255 so dotted version strings such as
    # "1.2.3.400" / "10.1.2.300" are not falsely redacted (r04,
    # ADVICE); RE2-compatible alternation, no lookaround
    ("ipv4", r"\b(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
     r"(\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}\b", "<IP>"),
    # no \b before '+': a word boundary needs a word char on one side
    ("phone", r"\+\d{7,15}\b|\(\d{3}\) ?\d{3}[- ]\d{4}\b"
     r"|\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
]


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace PII spans with typed placeholder tokens, preserving all
    other columns. One chained ``regexp_replace`` projection — a
    single codegen'd map stage, no shuffle, no Python."""
    t = F.col(text_col)
    for _name, pat, repl in PII_PATTERNS:
        t = F.regexp_replace(t, pat, repl)
    return df.select(*[t.alias(c) if c == text_col else F.col(c)
                       for c in df.columns])


def pii_stats(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Per-document PII match counts (one column per category) plus
    the total — the audit pass you run before deciding to scrub.
    Map-only (``regexp_count`` per category)."""
    t = F.col(text_col)
    cols = [F.col(id_col)]
    total = None
    for name, pat, _repl in PII_PATTERNS:
        c = F.regexp_count(t, F.lit(pat))
        cols.append(c.alias(f"n_{name}"))
        total = c if total is None else total + c
    cols.append(total.alias("n_pii"))
    return df.select(*cols)


# ----------------------------------------------- repetition (Gopher)
# Within-document repetition signals from the Gopher/MassiveText
# quality rules (Rae et al. 2021, Table A1): documents dominated by
# repeated lines/n-grams are boilerplate or spam. All fractions are
# computed on the normalized text.


def _repetition_exprs(t: Column) -> "dict[str, Column]":
    """The :func:`repetition_stats` output columns as pure map-only
    expressions over the text column (r11: factored out so
    quality_filter_chain can inline the repetition rule into its one
    map pass instead of scanning the corpus a second time and
    joining back on the id)."""
    norm = normalize_text(t)
    lines = F.filter(F.transform(F.split(t, "\n"), F.trim),
                     lambda x: x != "")

    def dup_frac(arr: Column) -> Column:
        n = F.size(arr)
        return F.when(n > 0, F.round(
            1.0 - F.size(F.array_distinct(arr)) / n.cast("double"), 6)
        ).otherwise(F.lit(0.0))

    top = _top2(F.array_sort(text_ngrams(norm, 2)))
    out = {"dup_line_frac": dup_frac(lines)}
    for n in (2, 3, 4):
        out[f"dup_{n}gram_frac"] = dup_frac(text_ngrams(norm, n))
    out["top_2gram_count"] = top["_c"]
    # count×len over-counts characters shared by OVERLAPPING
    # occurrences ('a a a a': 3 hits × 3 chars over 7), so clamp
    # at 1.0 — full coverage (r05; exact union coverage needs
    # per-occurrence positions)
    out["top_2gram_char_frac"] = F.round(F.least(F.coalesce(
        top["_c"] * top["_l"]
        / F.nullif(F.length(norm), F.lit(0)).cast("double"),
        F.lit(0.0)), F.lit(1.0)), 6)
    return out


def _top2(sorted_grams: Column) -> Column:
    """Per-doc most-frequent 2-gram as (count, gram-length) — sort
    the (already computed) gram array and fold equal-neighbor runs
    with one aggregate(); no explode, no (doc, gram) shuffle, no
    join-back (r10 — the r07 explode formulation shuffled every gram
    occurrence; at sf100 that shuffle + join was most of the query).
    Tie-break mirrors the old max(struct(count, length)) exactly:
    lexicographic (c, l) max."""
    def step(acc, x):
        is_run = acc["prev"] == x
        run = F.when(is_run, acc["run"] + 1).otherwise(F.lit(1))
        close = (~is_run) & (acc["prev"] != "")
        cand_c, cand_l = acc["run"], F.length(acc["prev"])
        better = close & (
            (cand_c > acc["bc"])
            | ((cand_c == acc["bc"]) & (cand_l > acc["bl"])))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.when(better, cand_c).otherwise(acc["bc"]).alias("bc"),
            F.when(better, cand_l).otherwise(acc["bl"]).alias("bl"))

    def fin(acc):
        cand_c, cand_l = acc["run"], F.length(acc["prev"])
        better = (acc["prev"] != "") & (
            (cand_c > acc["bc"])
            | ((cand_c == acc["bc"]) & (cand_l > acc["bl"])))
        return F.struct(
            F.when(better, cand_c).otherwise(acc["bc"]).alias("_c"),
            F.when(better, cand_l).otherwise(acc["bl"]).alias("_l"))

    zero = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                    F.lit(0).alias("bc"), F.lit(0).alias("bl"))
    return F.aggregate(sorted_grams, zero, step, fin)


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition fractions:

    - ``dup_line_frac``: 1 − distinct/total over trimmed non-empty
      lines (array exprs, map-only).
    - ``dup_{2,3,4}gram_frac``: 1 − distinct/total over word n-grams
      (map-only; the n-gram scan is the one-regex-pass formulation).
    - ``top_2gram_char_frac``: fraction of normalized characters
      covered by occurrences of the single most frequent 2-gram —
      explode → per-(doc, gram) count → per-doc max. One shuffle on
      (doc, gram) with map-side partial aggregation; the only
      non-map-only metric here.

    Thresholds are the caller's choice; :func:`gopher_repetition_ok`
    applies the published Gopher cut-offs."""
    df = _spread(df, id_col)  # few-split local inputs: the 3 n-gram
    # regex passes are the map-side cost; see util.spread
    ex = _repetition_exprs(F.col(text_col))
    return df.select(F.col(id_col),
                     *[c.alias(nm) for nm, c in ex.items()])


def gopher_repetition_ok(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, keep) per the Gopher repetition cut-offs (Rae et al. 2021
    Table A1): reject when dup-line fraction > 0.30, duplicate
    2/3/4-gram fraction > 0.20/0.18/0.16, or the top 2-gram covers
    > 0.20 of characters."""
    st = repetition_stats(df, text_col, id_col)
    # the top-2-gram rule only means "repetition" when the gram
    # actually repeats: a count-1 top gram trivially covers >20% of a
    # short document (the published rule targets long web documents)
    keep = ((F.col("dup_line_frac") <= 0.30)
            & (F.col("dup_2gram_frac") <= 0.20)
            & (F.col("dup_3gram_frac") <= 0.18)
            & (F.col("dup_4gram_frac") <= 0.16)
            & ((F.col("top_2gram_count") <= 1)
               | (F.col("top_2gram_char_frac") <= 0.20)))
    return st.select(id_col, keep.alias("keep"))


def quality_filter_chain(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         min_tokens: int = 20,
                         max_tokens: int = 100_000,
                         min_mean_word_len: float = 3.0,
                         max_mean_word_len: float = 10.0,
                         min_alpha_ratio: float = 0.6,
                         max_punct_ratio: float = 0.25,
                         gopher_repetition: bool = True) -> DataFrame:
    """Composable C4/Gopher-style pre-training quality filter with a
    COMPLETE per-document audit — the single pass a FineWeb-style
    pipeline runs before dedup: every rule evaluates on every
    document (no short-circuit), so the output names every rule a
    document fails, not just the first.

    Returns ``(id, keep, fail_reasons array<string>)`` —
    ``fail_reasons`` is sorted (deterministic) and empty iff
    ``keep``. Rules (all published-practice shapes):
      - ``too_short`` / ``too_long``: whitespace token count outside
        [min_tokens, max_tokens] (C4 length rule);
      - ``word_length``: mean word length outside
        [min_mean_word_len, max_mean_word_len] (Gopher);
      - ``alpha_ratio``: alphabetic-character fraction below
        ``min_alpha_ratio``;
      - ``punct_ratio``: punctuation fraction above
        ``max_punct_ratio`` (C4 symbol-ratio shape);
      - ``repetition``: any of the five Gopher repetition cut-offs
        (:func:`gopher_repetition_ok`; skipped when
        ``gopher_repetition=False``).

    Scale shape: everything except ``repetition`` is map-only column
    arithmetic over one text scan; ``repetition`` adds
    :func:`repetition_stats`'s one (doc, gram) partial-agg shuffle
    and joins back on the id. No UDFs, no collect."""
    df = _spread(df, id_col)  # regex-heavy map pass: don't let a
    # few-row-group parquet layout cap task parallelism (util.spread)
    text = F.coalesce(F.col(text_col), F.lit(""))
    st = char_stats(text)
    n = st["n_chars"].cast("double")
    ntok = ws_token_count(text)
    mwl = F.when(ntok > 0, (n - st["n_space"]) / ntok).otherwise(
        F.lit(0.0))
    alpha_ratio = F.when(n > 0, st["n_alpha"] / n).otherwise(
        F.lit(0.0))
    punct_ratio = F.when(n > 0, st["n_punct"] / n).otherwise(
        F.lit(0.0))
    rules = [
        ("too_short", ntok < F.lit(int(min_tokens))),
        ("too_long", ntok > F.lit(int(max_tokens))),
        ("word_length", (mwl < F.lit(float(min_mean_word_len)))
                        | (mwl > F.lit(float(max_mean_word_len)))),
        ("alpha_ratio", alpha_ratio < F.lit(float(min_alpha_ratio))),
        ("punct_ratio", punct_ratio > F.lit(float(max_punct_ratio))),
    ]
    names = [name for name, _ in rules]
    if gopher_repetition:
        # INLINE the Gopher repetition rule (r11): repetition_stats
        # has been map-only since the r10 run-fold rewrite, so the
        # rule rides the SAME projection — the former formulation
        # scanned the corpus a second time and joined back on the id
        # (plan: 2 scans + 2 exchanges → 1 scan, 0 exchanges).
        # Expressions and thresholds identical to
        # :func:`gopher_repetition_ok`.
        rx = _repetition_exprs(F.col(text_col))
        rep_keep = ((rx["dup_line_frac"] <= 0.30)
                    & (rx["dup_2gram_frac"] <= 0.20)
                    & (rx["dup_3gram_frac"] <= 0.18)
                    & (rx["dup_4gram_frac"] <= 0.16)
                    & ((rx["top_2gram_count"] <= 1)
                       | (rx["top_2gram_char_frac"] <= 0.20)))
        rules.append(("repetition", ~rep_keep))
        names.append("repetition")
    out = df.select(F.col(id_col),
                    *[fail.alias(f"_f_{name}") for name, fail in rules])
    reasons = F.array_sort(F.filter(
        F.array(*[F.when(F.col(f"_f_{nm}"), F.lit(nm)) for nm in names]),
        lambda x: x.isNotNull()))
    return out.select(
        F.col(id_col),
        (F.size(reasons) == 0).alias("keep"),
        reasons.alias("fail_reasons"))


def quality_filter_report(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          **rules) -> DataFrame:
    """Corpus-level audit of :func:`quality_filter_chain`: one row
    per rule with the number of documents failing it (a document
    failing several rules counts toward each — the chain audits
    completely), plus ``docs_total`` and ``docs_kept`` rows. Returns
    ``(rule, n_docs)``. The standard filter-pass report a pipeline
    publishes alongside a corpus release; bounded output (≤ 8 rows),
    one pass over the chain."""
    ch = quality_filter_chain(df, text_col, id_col, **rules)
    names = ["too_short", "too_long", "word_length", "alpha_ratio",
             "punct_ratio"]
    if rules.get("gopher_repetition", True):
        names.append("repetition")
    # single aggregation row → map explode: every rule appears even
    # at zero failures (a groupBy over exploded reasons would drop
    # clean rules from the report)
    aggs = [F.sum(F.array_contains("fail_reasons", F.lit(nm))
                  .cast("long")).alias(f"_n_{nm}") for nm in names]
    totals = ch.agg(*aggs,
                    F.count(F.lit(1)).alias("_total"),
                    F.sum(F.col("keep").cast("long")).alias("_kept"))
    entries = []
    for nm in names:
        entries += [F.lit(nm), F.col(f"_n_{nm}")]
    entries += [F.lit("docs_total"), F.col("_total"),
                F.lit("docs_kept"), F.col("_kept")]
    return totals.select(F.explode(F.create_map(*entries))
                         .alias("rule", "n_docs"))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word k-gram, slide a
    window of ``w`` consecutive hashes, keep the minimum of each
    window, emit the distinct selected hashes per document. Guarantees
    at least one fingerprint per w consecutive grams (detection of any
    match ≥ k + w − 1 tokens) with ~2/(w+1) of the grams selected —
    the classic rolling-hash sketch for plagiarism/near-dup detection.

    Returns (id, fp) rows, one per distinct selected hash.

    Scale shape: posexplode the k-gram hashes map-side, then ONE
    shuffle on the doc id — the sliding minimum is a window function
    ``min(hash) OVER (PARTITION BY id ORDER BY pos ROWS BETWEEN
    CURRENT ROW AND w-1 FOLLOWING)`` (per-doc partition, no global
    sort), truncated trailing windows dropped; a document shorter
    than one window keeps the minimum of what it has. The hash is
    the portable md5-prefix (shingle_hash32 formulation), so DuckDB
    reproduces fingerprints value-for-value."""
    from pyspark.sql.window import Window

    grams = (_spread(df, id_col).select(
        F.col(id_col).alias("_id"),
        F.posexplode(text_ngrams(normalize_text(F.col(text_col)), k))
        .alias("_pos", "_g"))
        .select("_id", "_pos",
                F.conv(F.substring(F.md5(F.col("_g")), 1, 8), 16, 10)
                .cast("long").alias("_h")))
    part = Window.partitionBy("_id")
    win = (Window.partitionBy("_id").orderBy("_pos")
           .rowsBetween(Window.currentRow, w - 1))
    sel = (grams
           .withColumn("_m", F.count(F.lit(1)).over(part))
           .withColumn("_sel", F.min("_h").over(win))
           .filter(F.col("_pos") <= F.greatest(F.col("_m") - w, F.lit(0))))
    return (sel.select(F.col("_id").alias(id_col),
                       F.col("_sel").alias("fp"))
            .distinct())


def chunk_text(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", size: int = 128,
               overlap: int = 16) -> DataFrame:
    """Overlapping token-window chunking (RAG/retrieval-style): split
    each document into windows of ``size`` whitespace tokens with
    stride ``size - overlap``. Returns one row per chunk:
    (id, chunk_idx, n_chunk_tokens, chunk_text). A document shorter
    than ``size`` yields exactly one chunk; empty docs yield none;
    every token is covered (the last window may be short).

    Map-only plan — split + sequence + slice + explode are all
    codegen'd array expressions, no shuffle, no UDF: at corpus scale
    this runs at scan speed and parallelizes per input split."""
    if not 0 <= overlap < size:
        # negative overlap (stride > size) would silently skip tokens
        # between chunks, violating the every-token-covered guarantee
        raise ValueError("overlap must be in [0, size)")
    df = _spread(df, id_col)  # 1-row-group local scans: the split +
    # slice + explode pass otherwise runs on 1 core (r11, guide §6)
    stride = size - overlap
    t = F.trim(F.col(text_col))
    toks = F.when(F.length(t) == 0, F.array().cast("array<string>")) \
        .otherwise(F.split(t, r"\s+"))
    n = F.size(toks)
    # ceil((n - overlap) / stride) chunks, min 1 for non-empty docs
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.greatest(F.lit(1),
                   F.ceil((n - F.lit(overlap)) / F.lit(stride))
                   .cast("int")))
    idxs = F.when(n_chunks >= 1,
                  F.sequence(F.lit(0), (n_chunks - 1).cast("int"))) \
        .otherwise(F.array().cast("array<int>"))
    base = df.select(F.col(id_col), toks.alias("_t"),
                     F.explode(idxs).alias("chunk_idx"))
    piece = F.slice(F.col("_t"),
                    F.col("chunk_idx") * stride + 1, size)
    return base.select(
        id_col, "chunk_idx",
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"))


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms — the standard keyword /
    topic-signal extraction pass over a corpus (smooth idf:
    ``ln((N+1)/(df+1)) + 1``, scikit-learn's formulation). Terms come
    from :func:`normalize_text` tokens; scores are rounded to 6
    decimals and ties broken lexicographically, so the result is
    deterministic on any engine/partitioning.

    Returns (id, term, tf, score, rank), ``rank`` 1..k per document.

    Scale shape: two hash shuffles — (doc, term) for tf and (term)
    for document frequency — both with map-side partial aggregation;
    the corpus size ``N`` is folded in via a 1-row broadcast cross
    join (no driver-side action, stays one job); top-k is a keyed
    window over the (doc, term) partitioning, never a global sort.
    The tf ⋈ df join shuffles on term; at corpus scale the df side is
    vocabulary-sized and AQE picks broadcast when it fits."""
    df = _spread(df, id_col)
    toks = (df.select(F.col(id_col).alias("_id"),
                      F.explode(F.split(normalize_text(F.col(text_col)),
                                        " ")).alias("term"))
            .filter(F.col("term") != ""))
    tf = toks.groupBy("_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("_n"))
    scored = (tf.join(dfreq, on="term")
              .crossJoin(F.broadcast(n_docs))
              .select(
                  F.col("_id"), "term", "tf",
                  F.round(F.col("tf") * (F.log((F.col("_n") + 1.0)
                                               / (F.col("df") + 1.0))
                                         + 1.0), 6).alias("score")))
    from pyspark.sql.window import Window as W
    rn = F.row_number().over(
        W.partitionBy("_id").orderBy(F.desc("score"), F.asc("term")))
    return (scored.withColumn("rank", rn)
            .filter(F.col("rank") <= int(k))
            .select(F.col("_id").alias(id_col), "term", "tf", "score",
                    "rank"))

# -------------------------------------------- LM-perplexity filtering
# CCNet-style quality scoring (Wenzek et al. 2019, arXiv:1911.00359):
# score every document by its perplexity under a language model
# trained on a trusted reference corpus; high perplexity = far from
# the target distribution (wrong language, boilerplate, gibberish).
# CCNet uses a 5-gram KenLM; here the model is a bigram LM with
# stupid backoff (Brants et al. 2007, EMNLP — "Large Language Models
# in Machine Translation") to an add-one unigram, which keeps both
# training and scoring fully relational (two count aggregations and
# two hash joins — no model file, no Python) and exactly reproducible
# in ANSI SQL for the oracle.


def lm_perplexity(df: DataFrame, train_df: DataFrame | None = None,
                  text_col: str = "text", id_col: str = "doc_id",
                  alpha: float = 0.4) -> DataFrame:
    """Per-document bigram-LM perplexity against a reference corpus.

    Model (trained on ``train_df``, default: ``df`` itself):

    - unigram: ``p1(w) = (C1(w) + 1) / (T + V)`` — add-one smoothed,
      ``T`` total training tokens, ``V`` distinct training vocabulary
      (+1 for the unseen class), so unseen words get positive mass.
    - bigram with stupid backoff:
      ``p(w | u) = C2(u,w) / C1(u)`` when the bigram was seen in
      training, else ``alpha * p1(w)`` (Brants et al.'s fixed 0.4).

    A document's first token scores ``p1``; every later token scores
    the backoff bigram against its predecessor. Returns
    ``(id, n_tokens, avg_logprob, ppl)`` with
    ``ppl = exp(-avg_logprob)``, both rounded to 6 decimals; empty
    documents yield ``n_tokens = 0`` and NULL scores. An EMPTY
    reference corpus leaves the model undefined: every scored token's
    probability is NULL (T is a NULL sum), so all scores come back
    NULL rather than an arbitrary uniform — callers detect the
    misconfiguration instead of silently ranking on noise.

    Scale shape: training is two groupBy counts with map-side partial
    aggregation (unigram and bigram tables are vocabulary-sized, far
    smaller than the corpus); ``T``/``V`` fold in via a 1-row
    broadcast cross join (no driver action). Scoring explodes each
    document's token stream once and joins it to the two count tables
    on the gram key — AQE broadcasts them when they fit, else a hash
    shuffle on the gram; the final per-document average is one more
    keyed aggregation. No Python, no window over the data."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    train = train_df if train_df is not None else df
    tnorm = normalize_text(F.col(text_col))
    ttoks = (train.select(F.explode(F.split(tnorm, " ")).alias("_w"))
             .filter(F.col("_w") != ""))
    uni = ttoks.groupBy("_w").agg(F.count(F.lit(1)).alias("_c1"))
    tot = uni.agg(F.sum("_c1").alias("_t"),
                  (F.count(F.lit(1)) + 1).alias("_v"))
    bi = (train.select(F.explode(text_ngrams(tnorm, 2)).alias("_g"))
          .groupBy("_g").agg(F.count(F.lit(1)).alias("_c2")))

    df = _spread(df, id_col)
    norm = normalize_text(F.col(text_col))
    # token stream with position: pos 0 scores the unigram, pos >= 1
    # scores the bigram (predecessor = token pos-1, recovered from the
    # exploded bigram string itself — no window/lag over the data)
    toks = (df.select(F.col(id_col).alias("_id"),
                      F.posexplode(F.split(norm, " "))
                      .alias("_pos", "_w"))
            .filter(F.col("_w") != ""))
    first = toks.filter(F.col("_pos") == 0).select("_id", "_w")
    rest = (df.select(F.col(id_col).alias("_id"),
                      F.explode(text_ngrams(norm, 2)).alias("_g"))
            .select("_id", "_g",
                    F.substring_index(F.col("_g"), " ", 1).alias("_u"),
                    F.substring_index(F.col("_g"), " ", -1).alias("_w")))

    def p1(col_c1: Column) -> Column:
        return ((F.coalesce(col_c1, F.lit(0)) + 1.0)
                / (F.col("_t") + F.col("_v")))

    lp_first = (first.join(uni, on="_w", how="left")
                .crossJoin(F.broadcast(tot))
                .select("_id", F.log(p1(F.col("_c1"))).alias("_lp")))
    lp_rest = (rest.join(bi, on="_g", how="left")
               .join(uni.select(F.col("_w").alias("_u"),
                                F.col("_c1").alias("_cu")),
                     on="_u", how="left")
               .join(uni, on="_w", how="left")
               .crossJoin(F.broadcast(tot))
               .select("_id", F.log(
                   F.when(F.col("_c2").isNotNull(),
                          F.col("_c2") / F.col("_cu"))
                   .otherwise(F.lit(float(alpha)) * p1(F.col("_c1"))))
                   .alias("_lp")))
    scores = (lp_first.unionByName(lp_rest)
              .groupBy("_id")
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   F.avg("_lp").alias("_avg")))
    # left join back so token-less documents keep a row (NULL scores)
    ids = df.select(F.col(id_col).alias("_id")).distinct()
    return (ids.join(scores, on="_id", how="left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce(F.col("n_tokens"), F.lit(0))
                    .alias("n_tokens"),
                    F.round(F.col("_avg"), 6).alias("avg_logprob"),
                    F.round(F.exp(-F.col("_avg")), 6).alias("ppl")))


def duplicate_spans(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Cross-document duplicate-span statistics — the relational proxy
    for ExactSubstr deduplication (Lee et al. 2021,
    arXiv:2107.06499, "Deduplicating Training Data Makes Language
    Models Better"): a span duplicated across documents is evidence of
    boilerplate/mirroring that exact-hash and MinHash both miss when
    the surrounding document differs.

    For every document: ``n_grams`` = total word ``k``-gram
    occurrences (overlapping), ``n_dup_grams`` = occurrences whose
    gram also appears in at least one OTHER document, and
    ``dup_frac = n_dup_grams / n_grams`` (rounded to 6 decimals).
    Documents shorter than ``k`` tokens yield ``(0, 0, 0.0)``.

    Scale shape: grams are hashed map-side to a 32-bit md5 prefix
    (the portable shingle hash — narrow rows instead of k-word
    strings; same formulation as :func:`winnow_fingerprints`, so the
    oracle reproduces it value-for-value). One (doc, hash) partial-agg
    shuffle gives per-document occurrence counts; the document
    frequency per hash is a second vocabulary-sized aggregation over
    the distinct pairs; the join back is on the hash key (AQE
    broadcasts when it fits). Lee et al.'s suffix array finds
    arbitrary-length spans; fixed-``k`` windows trade that for a plan
    with no global sort — any duplicated span of length >= k tokens is
    still detected because all its k-grams collide."""
    if k < 1:
        raise ValueError("k must be >= 1")
    df = _spread(df, id_col)
    grams = (df.select(
        F.col(id_col).alias("_id"),
        F.explode(text_ngrams(normalize_text(F.col(text_col)), k))
        .alias("_g"))
        .select("_id", F.conv(F.substring(F.md5(F.col("_g")), 1, 8),
                              16, 10).cast("long").alias("_h")))
    per = grams.groupBy("_id", "_h").agg(F.count(F.lit(1)).alias("_c"))
    # document frequency as a window count over the per-doc rows
    # (r10, the bm25 df-window formulation): the former
    # groupBy(_h)+join-back evaluated the corpus explode+md5+aggregate
    # subtree TWICE (per-doc side and docfreq side diverge under
    # column pruning, so ReuseExchange never fires). One window over
    # _h yields the identical per-hash document count in a single
    # corpus pass.
    from pyspark.sql import Window as _W
    per_w = per.withColumn(
        "_nd", F.count(F.lit(1)).over(_W.partitionBy("_h")))
    stats = (per_w
             .groupBy("_id")
             .agg(F.sum("_c").alias("_n"),
                  F.sum(F.when(F.col("_nd") >= 2, F.col("_c"))
                        .otherwise(F.lit(0))).alias("_ndup")))
    ids = df.select(F.col(id_col).alias("_id")).distinct()
    return (ids.join(stats, on="_id", how="left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce(F.col("_n"), F.lit(0)).alias("n_grams"),
                    F.coalesce(F.col("_ndup"), F.lit(0))
                    .alias("n_dup_grams"),
                    F.round(F.coalesce(F.col("_ndup") /
                                       F.col("_n").cast("double"),
                                       F.lit(0.0)), 6)
                    .alias("dup_frac")))


def corpus_report(df: DataFrame, group_col: str = "source",
                  text_col: str = "text", lang_col: str = "lang",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-group corpus card — the datasheet-style summary every
    curation pipeline publishes before training (group = source /
    domain / shard): document and token counts, mean quality, exact
    duplicate-text rate, and the language distribution (distinct
    count + deterministic mode).

    Returns (group, n_docs, n_tokens, avg_doc_tokens, avg_quality,
    dup_rate, n_langs, top_lang).

    Scale shape: one map-side pass computes tokens/quality/
    fingerprint per doc, then two partial-aggregated shuffles — a
    (group, lang) rollup folded into the per-group row via a
    deterministic max on (count, lang) struct (mode with lexicographic
    tie-break — no window, no arg_max nondeterminism), and a
    (group, fingerprint) rollup for the duplicate rate. Everything is
    whole-stage codegen; shuffle width is bounded by
    |groups| x |langs| and |distinct texts|, never rows x rows."""
    df = _spread(df, id_col)  # the
    # tokens/quality/fingerprint map pass is ~15× the scan cost —
    # never leave it on 1 core; sf0.1 A/B says gate tiny inputs (r11)
    t = F.col(text_col)
    base = df.select(
        F.col(group_col).alias("_g"),
        F.coalesce(F.col(lang_col).cast("string"),
                   F.lit("unknown")).alias("_l"),
        ws_token_count(t).alias("_tok"),
        quality_score(t).alias("_q"),
        fingerprint(t).alias("_fp"))
    # TWO aggregations consume this map pass ((g,lang) rollup and
    # (g,fingerprint) dup rollup), so the regex/md5 projection runs
    # twice — MEASURED faster than materializing it (r08, sf10,
    # min-of-2 with cache cleared: plain 42.1 s vs persist 46.8 s vs
    # localCheckpoint 45.8 s): each duplicate fuses into its
    # consumer's whole-stage-codegen scan stage, while materializing
    # breaks the pipeline into store+reload jobs that cost more than
    # the recompute. Unlike the dedup signature passes (which DO win
    # from _materialize), this projection is cheap relative to its
    # scan.
    per_lang = (base.groupBy("_g", "_l")
                .agg(F.count(F.lit(1)).alias("_n"),
                     F.sum("_tok").alias("_tk"),
                     F.sum("_q").alias("_qs")))
    lang_fold = (per_lang.groupBy("_g")
                 .agg(F.sum("_n").alias("n_docs"),
                      F.sum("_tk").alias("n_tokens"),
                      F.sum("_qs").alias("_qsum"),
                      F.count(F.lit(1)).alias("n_langs"),
                      # mode via struct max: highest count, ties ->
                      # lexicographically LARGEST lang (deterministic;
                      # SQL mirror: order by (n DESC, lang DESC))
                      F.max(F.struct(F.col("_n"),
                                     F.col("_l"))).alias("_top")))
    dup = (base.groupBy("_g", "_fp")
           .agg(F.count(F.lit(1)).alias("_c"))
           .groupBy("_g")
           .agg(F.sum(F.col("_c") - 1).alias("_ndup")))
    return (lang_fold.join(dup, on="_g")
            .select(
                F.col("_g").alias(group_col),
                "n_docs", "n_tokens",
                F.round(F.col("n_tokens") /
                        F.col("n_docs").cast("double"), 6)
                .alias("avg_doc_tokens"),
                F.round(F.col("_qsum") /
                        F.col("n_docs").cast("double"), 6)
                .alias("avg_quality"),
                F.round(F.col("_ndup") /
                        F.col("n_docs").cast("double"), 6)
                .alias("dup_rate"),
                "n_langs",
                F.col("_top")["_l"].alias("top_lang")))


def bm25_topk(df: DataFrame, queries: list[tuple[int, str]],
              text_col: str = "text", id_col: str = "doc_id",
              k: int = 10, k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 top-``k`` retrieval of corpus documents for a small set of
    literal queries — the standard lexical-retrieval pass a curation
    pipeline runs for benchmark decontamination spot-checks, RAG
    evaluation, and hard-negative mining (Robertson & Zaragoza 2009,
    "The Probabilistic Relevance Framework: BM25 and Beyond").

    ``queries`` is a list of ``(query_id, query_text)`` pairs — a
    driver-side literal, like the query vector in
    :func:`~piglet_spark.datapipe.similarity.cosine_topk`. Query text
    is normalized with the same :func:`normalize_text` rule as the
    corpus; duplicate terms inside one query are collapsed (standard
    BM25 ignores query-term frequency).

    Scoring uses the Lucene/ATIRE variant (always non-negative):
    ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))``,
    ``score(q,d) = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))``
    with ``dl`` = whitespace tokens of the normalized doc and
    ``avgdl`` their corpus mean. Returns (query_id, doc_id-typed id,
    score, rank), rank 1..k per query; score rounded to 6 decimals,
    ties broken by ascending id. Per-(query,doc) sums add at most
    |query terms| floats, so round-6 is stable across partitionings.

    Scale shape — the reason this beats "just groupBy every term":
    the corpus token stream is SEMI-JOINED against the broadcast
    query-term set BEFORE any shuffle, so the one (doc, term) hash
    aggregation carries only postings of query terms (|terms| ≈ 10s,
    not the vocabulary). ``N``/``avgdl`` fold in via a 1-row
    broadcast cross join off the same doc-length projection (no
    driver action); df(t) is a second tiny aggregation of the
    filtered postings' distinct docs; the final top-k is a keyed
    window over |queries| · matched-docs rows, never a global sort.
    At 100 TB this is one corpus scan + two bounded shuffles."""
    if not queries:
        raise ValueError("bm25_topk needs at least one (id, text) query")
    spark = df.sparkSession
    qterms = sorted({(int(qid), w)
                     for qid, qtext in queries
                     for w in _py_normalize(qtext).split(" ") if w})
    if not qterms:
        raise ValueError("bm25_topk: no query produced any term")
    qt = F.broadcast(spark.createDataFrame(qterms, "query_id int, "
                                                   "term string"))
    df = _spread(df, id_col)
    # ONE corpus scan (r10): the previous plan evaluated the
    # scan+normalize subtree twice — once for the N/avgdl stats, once
    # for the postings — and exploded EVERY token into a broadcast
    # semi-join. Instead the matched tokens are kept in place by an
    # array filter against the literal query-term set (|terms| ~ 10s,
    # array_contains per token, codegen'd — no explode of non-matches,
    # no join), and the narrow (_id, _dl, matched-terms) projection is
    # pinned with a non-eager localCheckpoint so stats AND postings
    # read it without re-tokenizing. At corpus scale the pinned rows
    # are id+int+only query-term matches — a fraction of one tokenize
    # pass. A/B sf0.1 (min-of-3, interleaved): 1.82→1.32 s,
    # hash-identical output.
    lit_terms = "array(" + ",".join(
        "'" + t.replace("'", "''") + "'"
        for t in sorted({t for _, t in qterms})) + ")"
    base = (df.select(F.col(id_col).alias("_id"),
                      ws_token_count(F.col(text_col)).alias("_dl"),
                      normalize_text(F.col(text_col)).alias("_norm"))
            .select("_id", "_dl",
                    F.expr(f"filter(split(_norm, ' '), t -> "
                           f"array_contains({lit_terms}, t))").alias("_mt"))
            .localCheckpoint(eager=False))
    stats = base.agg(F.count(F.lit(1)).alias("_n"),
                     F.avg("_dl").alias("_avgdl"))
    tf = (base.select("_id", "_dl", F.explode("_mt").alias("term"))
          .groupBy("_id", "term")
          .agg(F.count(F.lit(1)).alias("_tf"), F.max("_dl").alias("_dl")))
    from pyspark.sql.window import Window as W
    # df(t) = number of postings rows per term (tf holds exactly one
    # row per matched (doc, term)). As a window count over the SAME
    # postings relation instead of a second aggregation + broadcast
    # join, the corpus scan + tokenize + semi-join subtree appears
    # ONCE in the plan instead of twice (r10: plan went 3 parquet
    # scans → 2; sf0.1 wall is noise-neutral because the duplicated
    # scan is cheap there, but at corpus scale one full tokenize
    # pass disappears) — the window's shuffle carries only
    # query-term postings, bounded by |terms|·|matches|.
    dfw = F.count(F.lit(1)).over(W.partitionBy("term"))
    idf = F.log(1.0 + (F.col("_n") - F.col("_df") + 0.5)
                / (F.col("_df") + 0.5))
    tf_part = (F.col("_tf") * (k1 + 1.0)
               / (F.col("_tf") + k1 * (1.0 - b + b * F.col("_dl")
                                       / F.col("_avgdl"))))
    scored = (tf.withColumn("_df", dfw)
              .crossJoin(F.broadcast(stats))
              .join(qt, on="term")
              .groupBy("query_id", "_id")
              .agg(F.round(F.sum(idf * tf_part), 6).alias("score")))
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("_id")))
    return (scored.withColumn("rank", rn)
            .filter(F.col("rank") <= int(k))
            .select("query_id", F.col("_id").alias(id_col),
                    "score", "rank"))


def _py_normalize(s: str) -> str:
    """Driver-side mirror of :func:`normalize_text` for literal query
    strings (lowercase, non-alphanumerics → space, squeeze, trim)."""
    import re as _re
    return _re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()


def compression_ratio(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      level: int = 6) -> DataFrame:
    """zlib compression ratio per document — the classic "too
    repetitive / too random" quality signal (public pipelines gate on
    it both ways: boilerplate compresses suspiciously well, binary
    junk barely at all). Returns (id, n_bytes, n_compressed,
    compression_ratio = compressed/raw; 0.0 for empty text).

    This is the one text signal that is genuinely not expressible in
    SQL (no zlib in ANSI/DuckDB), so it runs as an Arrow-batched
    ``mapInPandas`` pass — map-only, no shuffle, scan-speed bound by
    DEFLATE (~100 MB/s/core at level 6; drop ``level`` to 1 for ~3×
    when gating, the ratio ordering barely moves). Deterministic for
    a fixed zlib version, so tests pin values; the driver check is
    rows-only by design."""
    import pandas as pd  # noqa: F401 (document the dependency)
    from pyspark.sql import types as T

    df = _spread(df, id_col)  # DEFLATE on
    # 1 Python worker otherwise (sf1 documents = one row group;
    # no-op at scale and on tiny inputs — r11)
    out_schema = T.StructType([
        df.schema[id_col],
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("n_compressed", T.IntegerType()),
        T.StructField("compression_ratio", T.DoubleType()),
    ])
    lvl = int(level)

    def score(batches):
        import zlib
        import pandas as pd
        for pdf in batches:
            raw = pdf[text_col].fillna("").map(
                lambda s: s.encode("utf-8"))
            nb = raw.map(len)
            nc = raw.map(lambda b: len(zlib.compress(b, lvl)))
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "n_bytes": nb.astype("int32"),
                "n_compressed": nc.astype("int32"),
                "compression_ratio": [
                    round(c / b, 6) if b else 0.0
                    for b, c in zip(nb, nc)],
            })

    return (df.select(id_col, text_col)
            .mapInPandas(score, out_schema))


def vocab_coverage(df: DataFrame, vocab_size: int = 1000,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document vocabulary coverage against the corpus's own
    top-``vocab_size`` terms — the cheap OOV screen a tokenizer/
    pretraining pipeline runs before committing a corpus to a fixed
    vocabulary (high OOV rate ⇒ the doc is boilerplate, another
    language, or noise relative to the corpus).

    The vocabulary is the ``vocab_size`` most frequent normalized
    terms (ties → lexicographically smaller term wins — fully
    deterministic, oracle-reproducible). Returns
    ``(id, n_tokens, n_oov, oov_rate)`` with ``oov_rate`` round-6
    (0.0 for empty docs).

    Scale shape: one (term) partial-agg shuffle for corpus term
    counts; the top-N selection is ``orderBy().limit()`` — Catalyst
    plans TakeOrderedAndProject (per-partition heaps + driver merge
    of N·parts rows, never a global sort). The vocab (≤ vocab_size
    rows) broadcasts into a left join marker on the exploded token
    stream, and the per-doc rollup partial-aggregates, so the second
    shuffle carries one row per document. Two bounded shuffles per
    100 TB scan; no window over data."""
    df = _spread(df, id_col)
    toks = (df.select(F.col(id_col).alias("_id"),
                      F.explode(F.split(normalize_text(F.col(text_col)),
                                        " ")).alias("_w"))
            .filter(F.col("_w") != ""))
    vocab = (toks.groupBy("_w").agg(F.count(F.lit(1)).alias("_c"))
             .orderBy(F.desc("_c"), F.asc("_w"))
             .limit(int(vocab_size))
             .select("_w", F.lit(1).alias("_in")))
    marked = toks.join(F.broadcast(vocab), on="_w", how="left")
    per_doc = (marked.groupBy("_id")
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum(F.when(F.col("_in").isNull(), 1)
                          .otherwise(0)).alias("n_oov")))
    # left join back so token-less docs report (0, 0, 0.0)
    return (df.select(F.col(id_col).alias("_id"))
            .join(per_doc, on="_id", how="left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
                    F.round(F.coalesce(F.col("n_oov")
                                       / F.col("n_tokens"),
                                       F.lit(0.0)), 6)
                    .alias("oov_rate")))


def token_entropy(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document token-distribution statistics: Shannon entropy of
    the normalized-token frequency distribution (nats) and the
    type-token ratio — the classic lexical-diversity screens (a
    low-entropy doc is repetitive boilerplate; an abnormally high
    TTR at length is often gibberish). Complements
    :func:`repetition_stats` (which looks at n-gram runs, not the
    unigram distribution).

    Returns ``(id, n_tokens, n_types, entropy, ttr)``; entropy =
    ``ln(n) − (Σ c·ln c)/n`` round-6, ttr = types/n round-6; empty
    docs report zeros.

    Scale shape: one (doc, term) partial-agg shuffle + one per-doc
    partial-agg rollup (one row per document) — the same two-shuffle
    bound as vocab_coverage; everything stays in whole-stage codegen.
    """
    df = _spread(df, id_col)
    toks = (df.select(F.col(id_col).alias("_id"),
                      F.explode(F.split(normalize_text(F.col(text_col)),
                                        " ")).alias("_w"))
            .filter(F.col("_w") != ""))
    tf = (toks.groupBy("_id", "_w")
          .agg(F.count(F.lit(1)).alias("_c")))
    per = (tf.groupBy("_id")
           .agg(F.sum("_c").alias("n_tokens"),
                F.count(F.lit(1)).alias("n_types"),
                F.sum(F.col("_c").cast("double")
                      * F.log(F.col("_c").cast("double")))
                .alias("_clc")))
    ent = F.round(
        F.log(F.col("n_tokens").cast("double"))
        - F.col("_clc") / F.col("n_tokens"), 6)
    return (df.select(F.col(id_col).alias("_id"))
            .join(per, on="_id", how="left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    F.coalesce("n_types", F.lit(0)).alias("n_types"),
                    F.coalesce(ent, F.lit(0.0)).alias("entropy"),
                    F.round(F.coalesce(F.col("n_types")
                                       / F.col("n_tokens"),
                                       F.lit(0.0)), 6).alias("ttr")))
