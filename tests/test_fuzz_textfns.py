"""Differential fuzzing of the datapipe text scalar functions vs
DuckDB (r08 — same harness family as test_fuzz_exprs, new grammar
arm, per the r07 review's recommendation).

Every scalar the documents-table operators build on — token counts,
char stats, quality score, language id, normalize/fingerprint, the
PII scrub/count patterns — is evaluated per-row on Spark (the REAL
datapipe Column builders) and re-derived in SQL on DuckDB over the
SAME rows, requiring value-level agreement. The SQL spellings are the
ones the registry oracles use (DOC_TOKENS_SQL / DOC_QUALITY_SQL /
_lang_id_sql in __spark_entry__.py), so a disagreement here means the
driver's correctness gate itself is at risk.

Scope note: generated text is ASCII (letters/digits/punct/space/tab/
newline + marker words + PII-shaped fragments). Java and RE2 agree on
ASCII character classes; Unicode length/class semantics differ by
engine and none of the fixtures exercise them. Java's \\s also
matches \\x0B where RE2's does not — excluded from the alphabet.
NULL-text handling is pinned separately by the r05/r06 null-semantics
tests (ws_token_count / quality_score coalesce; see text.py)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from piglet_spark.datapipe import text as dp_text

# Deep-sweep control: PIGLET_FUZZ_SCALE multiplies every arm's
# max_examples (default 1 — the CI-fast counts). A one-off
# `PIGLET_FUZZ_SCALE=8 pytest tests/test_fuzz_*.py` is the deep
# sweep recorded per round.
import os as _os
_FSCALE = max(1, int(_os.environ.get("PIGLET_FUZZ_SCALE", "1")))

# ------------------------------------------------------------ corpus

_MARKERS = [w for ws in dp_text.LANG_MARKERS.values() for w in ws]
_PII = [
    "bob@example.com", "x.y+z@sub.domain.org", "not@an@email",
    "123-45-6789", "123-456-789", "4111 1111 1111 1111",
    "4111-1111-1111-1111", "10.1.2.3", "1.2.3.400", "256.1.1.1",
    "+4915112345678", "(555) 123-4567", "555-123-4567", "12-34",
]
_WORDS = ["Hello", "WORLD", "foo", "Bar42", "x", "antidisestablish",
          "a1b2c3", "!!!", "...", "7", "Zebra", "quux"]
_SEPS = [" ", "  ", "\t", "\n", ", ", ". ", "-", ""]

_token = st.sampled_from(_MARKERS + _PII + _WORDS)
_sep = st.sampled_from(_SEPS)


@st.composite
def _text(draw):
    n = draw(st.integers(min_value=0, max_value=25))
    parts = []
    for _ in range(n):
        parts.append(draw(_token))
        parts.append(draw(_sep))
    return "".join(parts)


texts = st.lists(_text(), min_size=12, max_size=12)


def _compare(spark, rows, spark_cols, sql_select):
    """Evaluate `spark_cols` (dict name→Column) over rows on Spark and
    `sql_select` (projection body over table t(rid, text)) on DuckDB;
    assert per-rid equality."""
    df = spark.createDataFrame(rows, "rid int, text string")
    got = {r["rid"]: r for r in
           df.select("rid", *[c.alias(k) for k, c in
                              spark_cols.items()]).collect()}
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["rid", "text"]))
    want = {r[0]: r for r in
            con.execute(f"SELECT rid, {sql_select} FROM t").fetchall()}
    names = list(spark_cols)
    for rid, text in rows:
        g, w = got[rid], want[rid]
        for i, name in enumerate(names):
            assert g[name] == pytest.approx(w[i + 1]), (
                f"{name} mismatch on {text!r}: "
                f"spark={g[name]!r} duckdb={w[i + 1]!r}")


# -------------------------------------------------------------- fuzz

@given(texts)
@settings(max_examples=15 * _FSCALE, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_token_and_char_stats_match_duckdb(spark, vals):
    rows = list(enumerate(vals))
    t = F.col("text")
    cs = dp_text.char_stats(t)
    _compare(spark, rows, {
        "n_tokens": dp_text.ws_token_count(t),
        "n_bpe": dp_text.bpe_token_count(t),
        "n_chars": cs["n_chars"],
        "n_alpha": cs["n_alpha"],
        "n_digit": cs["n_digit"],
        "n_space": cs["n_space"],
        "n_punct": cs["n_punct"],
    }, r"""
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END,
       len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')),
       length(text),
       length(regexp_replace(text, '[^A-Za-z]', '', 'g')),
       length(regexp_replace(text, '[^0-9]', '', 'g')),
       length(text) - length(replace(text, ' ', '')),
       length(text) - length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
         - length(regexp_replace(text, '[^0-9]', '', 'g'))
         - (length(text) - length(replace(text, ' ', '')))
    """)


# a quality score that lands on a round-6 tie (0.5051625): Spark's
# decimal round and DuckDB's double round split it, the shared
# floor(x·1e6+0.5)/1e6 formulation cannot
_TIE_TEXT = (
    "+4915112345678-und  x-und. 123-45-6789. Hello, 10.1.2.3the "
    "256.1.1.112-34 7 555-123-4567. 4111 1111 1111 1111 the. "
    "the123-456-789, !!!a1b2c3  the, quux !!!  of 123-456-789, !!! "
    "+4915112345678 ")


@given(texts)
@example([_TIE_TEXT])
@settings(max_examples=15 * _FSCALE, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_quality_fingerprint_langid_match_duckdb(spark, vals):
    rows = list(enumerate(vals))
    t = F.col("text")
    # lang-id score expression, same construction as _lang_id_sql
    # (__spark_entry__.py) but per-row
    score = {}
    for lang, words in dp_text.LANG_MARKERS.items():
        parts = [
            f"((length(' ' || lower(text) || ' ') - "
            f"length(replace(' ' || lower(text) || ' ', ' {w} ', ''))) "
            f"/ {len(w) + 2})"
            for w in words]
        score[lang] = "(" + " + ".join(parts) + ")::BIGINT"
    lang_expr, best = "'und'", "0::BIGINT"
    for lang in sorted(score):
        lang_expr = (f"CASE WHEN {score[lang]} > {best} THEN '{lang}' "
                     f"ELSE {lang_expr} END")
        best = (f"CASE WHEN {score[lang]} > {best} THEN {score[lang]} "
                f"ELSE {best} END")
    _compare(spark, rows, {
        "q": dp_text.quality_score(t),
        "fp": dp_text.fingerprint(t),
        "lang": dp_text.lang_id(t),
    }, f"""
       floor((
         0.4 * LEAST(length(text) / 500.0, 1.0)
       + 0.3 * (CASE WHEN length(text) > 0
                THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                     / length(text) ELSE 0.0 END)
       + 0.3 * (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(string_split_regex(trim(text), '\\s+'))
                           END) > 0
                 AND (length(text)
                      - (length(text) - length(replace(text, ' ', ''))))::DOUBLE
                     / (CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END)
                     BETWEEN 3 AND 10
                THEN 1.0 ELSE 0.0 END)) * 1e6 + 0.5) / 1e6,
       md5(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))),
       {lang_expr}
    """)


@given(texts)
@settings(max_examples=15 * _FSCALE, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pii_counts_and_scrub_match_duckdb(spark, vals):
    rows = list(enumerate(vals))
    t = F.col("text")
    cols = {}
    counts_sql = []
    scrub_sql = "text"
    for name, pat, repl in dp_text.PII_PATTERNS:
        cols[f"n_{name}"] = F.regexp_count(t, F.lit(pat))
        sql_pat = pat.replace("'", "''")
        counts_sql.append(f"len(regexp_extract_all(text, '{sql_pat}'))")
        scrub_sql = (f"regexp_replace({scrub_sql}, '{sql_pat}', "
                     f"'{repl}', 'g')")
    scrubbed = t
    for _n, pat, repl in dp_text.PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    cols["scrubbed"] = scrubbed
    _compare(spark, rows, cols,
             ", ".join(counts_sql) + ", " + scrub_sql)
