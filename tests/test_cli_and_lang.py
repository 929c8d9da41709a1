"""CLI, REPL, and beyond-reference language statements."""

import io

import piglet_spark as pg
from piglet_spark import cli, repl


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cli_runs_script(spark, data_dir, tmp_path, monkeypatch):
    out = tmp_path / "cliout"
    script = tmp_path / "s.pig"
    script.write_text(
        f"A = LOAD '{data_dir}/t.csv' USING PigStorage(',') "
        f"AS (f1:int, f2:int, f3:int);\n"
        f"B = FILTER A BY f1 >= $lim;\n"
        f"STORE B INTO '{out}' USING PigStorage(',');\n"
    )
    monkeypatch.setattr(cli, "make_session", lambda *a, **k: spark)
    rc = cli.main([str(script), "-p", "lim=4"])
    assert rc == 0
    lines = sorted(line for f in out.glob("part-*")
                   for line in f.read_text().splitlines())
    assert lines == ["4,5,6", "7,8,9"]


def test_cli_bad_param(spark, monkeypatch, capsys):
    monkeypatch.setattr(cli, "make_session", lambda *a, **k: spark)
    assert cli.main(["x.pig", "-p", "noequals"]) == 2


def test_cli_missing_script(spark, monkeypatch):
    monkeypatch.setattr(cli, "make_session", lambda *a, **k: spark)
    assert cli.main(["/nonexistent/file.pig"]) == 2


def test_cli_script_error(spark, tmp_path, monkeypatch, capsys):
    script = tmp_path / "bad.pig"
    script.write_text("A = FILTER nosuch BY x > 1;\n")
    monkeypatch.setattr(cli, "make_session", lambda *a, **k: spark)
    assert cli.main([str(script)]) == 1
    assert "ExecError" in capsys.readouterr().err


def test_repl_session(spark, data_dir, capsys):
    eng = pg.PigEngine(spark)
    inputs = iter([
        f"A = LOAD '{data_dir}/t.csv' USING PigStorage(',') "
        f"AS (f1:int, f2:int, f3:int);",
        "B = FILTER A BY",     # multi-line statement
        "  f1 == 1;",
        "aliases",
        "dump B",
        "describe B",
        "quit",
    ])
    out = io.StringIO()
    rc = repl.repl(eng, input_fn=lambda _p: next(inputs), out=out)
    assert rc == 0
    captured = capsys.readouterr().out + out.getvalue()
    assert "A, B" in captured
    assert "(1,2,3)" in captured and "(1,2,4)" in captured
    assert "f1: int" in captured


def test_repl_prettyprint_and_rewrite(spark, data_dir):
    """REPL prettyprint prints the session's rewritten dataflow tree;
    rewrite prints each sink's plan before AND after the rewrite pass
    — the ORDER feeding GROUP must show the bypass mark only in the
    after-plan (ref PigletREPL.scala:227-255)."""
    eng = pg.PigEngine(spark)
    inputs = iter([
        f"A = LOAD '{data_dir}/t.csv' USING PigStorage(',') "
        f"AS (f1:int, f2:int, f3:int);",
        "O = ORDER A BY f1;",
        "G = GROUP O BY f1;",
        "C = FOREACH G GENERATE group, COUNT(O);",
        "prettyprint",
        "rewrite",
        "quit",
    ])
    out = io.StringIO()
    rc = repl.repl(eng, input_fn=lambda _p: next(inputs), out=out)
    assert rc == 0
    text = out.getvalue()
    # prettyprint: indented lineage from the sink alias down to LOAD
    assert "C = Foreach(G)" in text
    assert "G = Group(O)" in text
    assert "A = Load(" in text
    assert "[sort bypassed by rewrite]" in text
    # rewrite: both plans printed; the bypass mark only appears after
    before, after = text.split("-- after rewrite --")
    assert "-- before rewrite --" in before
    b_plan = before.split("-- before rewrite --")[1]
    assert "[sort bypassed by rewrite]" not in b_plan
    assert "[sort bypassed by rewrite]" in after


def test_dedup_statement(spark, data_dir):
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{data_dir}/dup.csv' USING PigStorage(',') AS (x:int, y:int);
D = DEDUP A;
K = DEDUP A ON x;
""")
    assert rows(eng.df("D")) == [(1, 1), (2, 2)]
    assert rows(eng.df("K")) == [(1, 1), (2, 2)]


def test_dedup_on_keeps_first(spark, tmp_path):
    p = tmp_path / "d.csv"
    p.write_text("1,b\n1,a\n2,z\n")
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{p}' USING PigStorage(',') AS (k:int, v:chararray);
D = DEDUP A ON k;
""")
    assert rows(eng.df("D")) == [(1, "a"), (2, "z")]  # lexicographic first


def test_neardup_statement(spark, tmp_path):
    p = tmp_path / "docs.csv"
    p.write_text(
        "0|the quick brown fox jumps over the lazy dog today\n"
        "1|the quick brown fox jumps over the lazy cat today\n"
        "2|totally unrelated text with different words here\n"
    )
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{p}' USING PigStorage('|') AS (id:int, body:chararray);
P = NEARDUP A ON body BY id THRESHOLD 0.3;
""")
    got = {(r["id_a"], r["id_b"]) for r in eng.df("P").collect()}
    assert (0, 1) in got
    assert all(2 not in pair for pair in got)


def test_neardup_cluster_statement(spark, tmp_path):
    p = tmp_path / "docs_cl.csv"
    p.write_text(
        "0|the quick brown fox jumps over the lazy dog today\n"
        "1|the quick brown fox jumps over the lazy cat today\n"
        "2|totally unrelated text with different words here\n"
    )
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{p}' USING PigStorage('|') AS (id:int, body:chararray);
C = NEARDUP A ON body BY id THRESHOLD 0.3 CLUSTER;
K = FILTER C BY is_canonical;
""")
    got = {r["doc_id"]: r["cluster_id"] for r in eng.df("C").collect()}
    assert got == {0: 0, 1: 0, 2: 2}
    assert sorted(r["doc_id"] for r in eng.df("K").collect()) == [0, 2]


def test_datapipe_scalar_funcs(spark, tmp_path):
    p = tmp_path / "docs2.csv"
    p.write_text("0|the cat and the dog of the house\n")
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{p}' USING PigStorage('|') AS (id:int, body:chararray);
S = FOREACH A GENERATE id, LANGID(body) AS lang, TOKEN_COUNT(body) AS nt,
    QUALITY_SCORE(body) AS q, FINGERPRINT(body) AS fp;
""")
    r = eng.df("S").collect()[0]
    assert r["lang"] == "en" and r["nt"] == 8
    assert 0.0 <= r["q"] <= 1.0 and len(r["fp"]) == 32


def test_stream_through_datapipe(spark, sf_dir):
    eng = pg.PigEngine(spark)
    eng.run(f"""
D = LOAD '{sf_dir}/documents.parquet' USING ParquetStorage();
S = STREAM D THROUGH doc_stats();
""")
    df = eng.df("S")
    assert "quality" in df.columns and "lang_pred" in df.columns
    assert df.count() > 0


def test_stream_through_contamination(spark, sf_dir):
    """The DSL path: arg coercion, source-split, and column params of
    the contamination stream op (not just the datapipe function)."""
    eng = pg.PigEngine(spark)
    eng.run(f"""
D = LOAD '{sf_dir}/documents.parquet' USING ParquetStorage();
C = STREAM D THROUGH contamination('src0', 5);
""")
    df = eng.df("C")
    assert df.columns == ["doc_id", "n_shingles", "n_contaminated",
                          "contamination"]
    rows = df.collect()
    assert len(rows) > 0
    assert all(0.0 <= r["contamination"] <= 1.0 for r in rows)
    # benchmark rows themselves are excluded from scoring
    bench_ids = {r["doc_id"] for r in eng.df("D")
                 .filter("source = 'src0'").select("doc_id").collect()}
    assert bench_ids.isdisjoint({r["doc_id"] for r in rows})


def test_cache_and_materialize(spark, data_dir, tmp_path):
    eng = pg.PigEngine(spark, options={
        "materialization_dir": str(tmp_path / "mat")})
    eng.run(f"""
A = LOAD '{data_dir}/t.csv' USING PigStorage(',') AS (f1:int, f2:int, f3:int);
C = CACHE A;
MATERIALIZE C;
""")
    assert rows(eng.df("C")) == [(1, 2, 3), (1, 2, 4), (4, 5, 6), (7, 8, 9)]
    assert list((tmp_path / "mat").iterdir())  # parquet checkpoint written


def test_zip_two_relations(spark, data_dir):
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{data_dir}/t.csv' USING PigStorage(',') AS (f1:int, f2:int, f3:int);
B = LOAD '{data_dir}/t.csv' USING PigStorage(',') AS (g1:int, g2:int, g3:int);
Z = ZIP A WITH B;
""")
    df = eng.df("Z")
    assert df.count() == 4
    assert sorted(df.columns) == sorted(
        ["A::f1", "A::f2", "A::f3", "B::g1", "B::g2", "B::g3"])


def test_materialize_survives_script_edit(spark, data_dir, tmp_path):
    """Lineage-keyed checkpoint: adding an unrelated statement must
    not invalidate the materialization of an untouched alias."""
    opts = {"materialization_dir": str(tmp_path / "mat")}
    s1 = f"""
A = LOAD '{data_dir}/t.csv' USING PigStorage(',') AS (f1:int, f2:int, f3:int);
B = FILTER A BY f1 >= 4;
MATERIALIZE B;
"""
    pg.PigEngine(spark, options=opts).run(s1)
    paths1 = sorted(p.name for p in (tmp_path / "mat").iterdir())
    # same pipeline + unrelated extra statement → same checkpoint path
    s2 = s1 + "C = DISTINCT A;\n"
    pg.PigEngine(spark, options=opts).run(s2)
    paths2 = sorted(p.name for p in (tmp_path / "mat").iterdir())
    assert paths1 == paths2  # reused, not re-keyed


def test_ngram_jaccard_max_df(spark):
    from piglet_spark.datapipe import dedup
    rows = [(0, "the quick brown fox jumps high"),
            (1, "the quick brown fox jumps low"),
            (2, "something else entirely different here now")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    full = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(df, threshold=0.1).collect()}
    capped = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in dedup.ngram_jaccard_pairs(
                  df, threshold=0.1, max_df=10).collect()}
    assert full == capped  # cap above all DFs → identical results
    assert (0, 1) in full


def test_auto_cache_shared_subplan(spark, data_dir):
    eng = pg.PigEngine(spark, options={"auto_cache": True})
    eng.run(f"""
A = LOAD '{data_dir}/t.csv' USING PigStorage(',') AS (f1:int, f2:int, f3:int);
E = FOREACH A GENERATE f1, f2 + f3 AS s;
X = FILTER E BY s > 5;
Y = FILTER E BY s <= 5;
U = UNION X, Y;
""")
    assert len(rows(eng.df("U"))) == 4
    # the shared subplan E (2 consumers) got persisted; the raw load didn't
    assert "E" in eng.executor._cached
    assert "A" not in eng.executor._cached
    plan = eng.df("X")._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_default_shared_shuffle_checkpoint(spark, data_dir, monkeypatch):
    from piglet_spark.datapipe import util as dp_util
    # r10 default sharing: a shared REDUCTION point (aggregate output
    # with 2+ consumers) over enough input bytes is pinned with a
    # non-eager localCheckpoint, so the grouped subtree executes once,
    # not once per consumer (the TPC-H Q2/Q21 shape). Unlike the
    # auto_cache persist path, nothing registers in the CacheManager —
    # a later identical plan must recompute, not read this run's data.
    script = f"""
A = LOAD '{data_dir}/t.csv' USING PigStorage(',') AS (f1:int, f2:int, f3:int);
G = GROUP A BY f1;
S = FOREACH G GENERATE group AS k, SUM(A.f3) AS tot;
X = FILTER S BY tot > 6;
Y = FILTER S BY tot <= 6;
U = UNION X, Y;
"""
    monkeypatch.setattr(dp_util, "SHARED_CKPT_MIN_BYTES", 0)
    eng = pg.PigEngine(spark)
    eng.run(script)
    assert rows(eng.df("U")) == [(1, 7), (4, 6), (7, 9)]
    assert "S" in eng.executor._cached       # pinned …
    assert "A" not in eng.executor._cached   # … but not the raw load
    plan = eng.df("X")._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan             # localCheckpoint, visible
    assert "InMemoryTableScan" not in plan   # NOT the persist path
    # size gate: with the default 64 MB floor this tiny input stays
    # lazy — the materialization barrier costs more than recompute
    monkeypatch.undo()
    eng2 = pg.PigEngine(spark)
    eng2.run(script)
    assert rows(eng2.df("U")) == [(1, 7), (4, 6), (7, 9)]
    assert "S" not in eng2.executor._cached
    # non-reduction shared subplans (narrow projection) stay lazy too
    monkeypatch.setattr(dp_util, "SHARED_CKPT_MIN_BYTES", 0)
    eng3 = pg.PigEngine(spark)
    eng3.run(f"""
A = LOAD '{data_dir}/t.csv' USING PigStorage(',') AS (f1:int, f2:int, f3:int);
E = FOREACH A GENERATE f1, f2 + f3 AS s;
X = FILTER E BY s > 5;
Y = FILTER E BY s <= 5;
U = UNION X, Y;
""")
    assert len(rows(eng3.df("U"))) == 4
    assert "E" not in eng3.executor._cached


def test_unknown_function_suggestion(spark, data_dir):
    from piglet_spark.plans.exprs import CompileError
    import pytest as _pytest
    with _pytest.raises(CompileError, match="did you mean.*TOKENIZE"):
        pg.run(spark, f"""
A = LOAD '{data_dir}/t.csv' USING PigStorage(',') AS (f1:int, f2:int, f3:int);
B = FOREACH A GENERATE TOKENIZEE(f1);
""")


def test_sql_statement(spark, data_dir):
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{data_dir}/t.csv' USING PigStorage(',') AS (f1:int, f2:int, f3:int);
S = SQL 'select f1, sum(f3) as total from A group by f1 having sum(f3) > 5';
T = FILTER S BY total < 9;
""")
    assert rows(eng.df("T")) == [(1, 7), (4, 6)]


def test_skip_first_row(spark, tmp_path):
    p = tmp_path / "h.csv"
    p.write_text("f1,f2\n1,2\n1,2\n3,4\n")  # data row equals... header differs
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{p}' USING PigStorage(',', true) AS (f1:int, f2:int);
""")
    # header skipped; duplicate DATA rows preserved (old impl dropped them)
    assert rows(eng.df("A")) == [(1, 2), (1, 2), (3, 4)]


def test_cli_profiling_flag(spark, data_dir, tmp_path, monkeypatch):
    """--profiling wires the auto-materialization subsystem into the
    CLI path (r03): stats + a materialized point appear under
    --mat-dir after a run; a second invocation splices it."""
    import os
    mat = tmp_path / "mat"
    script = tmp_path / "p.pig"
    out = tmp_path / "pout"
    script.write_text(
        f"A = LOAD '{data_dir}/t.csv' USING PigStorage(',') "
        f"AS (f1:int, f2:int, f3:int);\n"
        f"B = FILTER A BY f1 >= 1;\n"
        f"C = GROUP B BY f1;\n"
        f"D = FOREACH C GENERATE group AS k, COUNT(B) AS n;\n"
        f"STORE D INTO '{out}' USING PigStorage(',');\n"
    )
    monkeypatch.setattr(cli, "make_session", lambda *a, **k: spark)
    rc = cli.main([str(script), "--profiling", "--mat-dir", str(mat)])
    assert rc == 0
    assert os.path.exists(mat / "profilerstats.json")
    autos = [p for p in os.listdir(mat) if p.startswith("auto_")]
    assert len(autos) == 1


def test_explain_statement(spark, data_dir, capsys):
    """EXPLAIN A; prints the Catalyst physical plan from a script."""
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{data_dir}/t.csv' USING PigStorage(',') AS (a:int,b:int,c:int);
B = FILTER A BY a > 1;
EXPLAIN B;
""")
    out = capsys.readouterr().out
    assert "Physical Plan" in out or "WholeStageCodegen" in out \
        or "Scan" in out
