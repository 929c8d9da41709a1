"""Streaming dialect (Structured Streaming) + CEP tests."""

import time

import pytest

import piglet_spark as pg

from .test_reference_conformance import REF, needs_reference


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.csv").write_text(
        "1,2024-01-01 00:00:01,7.0\n"
        "2,2024-01-01 00:00:03,1.5\n"
        "3,2024-01-01 00:00:12,9.0\n"
        "4,2024-01-01 00:00:14,0.5\n"
    )
    return d


def _drain(df, name, mode="append"):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(mode).start())
    q.processAllAvailable()
    q.stop()


def test_stream_load_filter(spark, stream_dir):
    eng = pg.PigEngine(spark, options={"streaming": True})
    eng.run(f"""
E = LOAD '{stream_dir}' USING PigStorage(',') AS (id:int, ts:chararray, v:double);
H = FILTER E BY v > 2.0;
""")
    df = eng.df("H")
    assert df.isStreaming
    _drain(df, "t_filter")
    rows = spark.sql("select id from t_filter order by id").collect()
    assert [r["id"] for r in rows] == [1, 3]


def test_stream_window_grouping(spark, stream_dir):
    eng = pg.PigEngine(spark, options={"streaming": True})
    eng.run(f"""
E = LOAD '{stream_dir}' USING PigStorage(',') AS (id:int, ts:datetime, v:double) TIMESTAMP(ts);
W = WINDOW E RANGE 10 SECONDS;
G = GROUP W BY id;
""")
    # windowed aggregation via fused FOREACH
    eng.run("C = FOREACH G GENERATE group AS id, COUNT(W) AS n;")
    df = eng.df("C")
    assert df.isStreaming
    assert "__window" in df.columns
    _drain(df, "t_window", mode="complete")
    rows = spark.sql(
        "select __window.start, id, n from t_window order by 1, 2").collect()
    # two 10s tumbling windows, one row per id per window
    assert len(rows) == 4
    assert all(r["n"] == 1 for r in rows)


def test_stream_window_global_count(spark, stream_dir):
    eng = pg.PigEngine(spark, options={"streaming": True})
    eng.run(f"""
E = LOAD '{stream_dir}' USING PigStorage(',') AS (id:int, ts:datetime, v:double) TIMESTAMP(ts);
W = WINDOW E RANGE 10 SECONDS;
G = GROUP W ALL;
C = FOREACH G GENERATE COUNT(W) AS n;
""")
    df = eng.df("C")
    _drain(df, "t_gwin", mode="complete")
    counts = sorted(r["n"] for r in spark.sql("select n from t_gwin").collect())
    assert counts == [2, 2]


def test_socket_write_batch(spark, data_dir):
    import socket
    import threading
    received = []
    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def accept():
        conn, _ = srv.accept()
        buf = b""
        while True:
            chunk = conn.recv(4096)
            if not chunk:
                break
            buf += chunk
        received.extend(buf.decode().splitlines())
        conn.close()

    th = threading.Thread(target=accept, daemon=True)
    th.start()
    pg.run(spark, f"""
A = LOAD '{data_dir}/t.csv' USING PigStorage(',') AS (f1:int, f2:int, f3:int);
B = FILTER A BY f1 == 1;
SOCKET_WRITE B TO '127.0.0.1:{port}';
""")
    th.join(timeout=10)
    srv.close()
    assert sorted(received) == ["1,2,3", "1,2,4"]


def test_cep_seq_match(spark, tmp_path):
    p = tmp_path / "ev.csv"
    p.write_text(
        "1,2024-01-01 00:00:01,9.0\n"
        "2,2024-01-01 00:00:02,3.0\n"
        "3,2024-01-01 00:00:03,1.0\n"
        "4,2024-01-01 00:00:10,8.0\n"
        "5,2024-01-01 00:00:30,0.5\n"
    )
    eng = pg.PigEngine(spark)
    eng.run(f"""
E = LOAD '{p}' USING PigStorage(',') AS (id:int, ts:datetime, v:double) TIMESTAMP(ts);
M = MATCH_EVENT E PATTERN SEQ(X, Y) WITH (X: v > 5.0, Y: v < 2.0) WITHIN 15 SECONDS;
""")
    rows = sorted(tuple(r) for r in eng.df("M")
                  .select("X::id", "Y::id").collect())
    # (1 → 3) matches within 15s; 4 → 5 is 20s apart → no match
    assert rows == [(1, 3)]


def test_cep_partitioned(spark, tmp_path):
    p = tmp_path / "ev2.csv"
    p.write_text(
        "a,1,2024-01-01 00:00:01,9.0\n"
        "a,2,2024-01-01 00:00:02,1.0\n"
        "b,3,2024-01-01 00:00:01,8.0\n"
        "b,4,2024-01-01 00:00:05,1.5\n"
        "b,5,2024-01-01 00:00:06,7.5\n"
    )
    eng = pg.PigEngine(spark)
    eng.run(f"""
SET piglet.cep.partition_key 'k';
E = LOAD '{p}' USING PigStorage(',') AS (k:chararray, id:int, ts:datetime, v:double) TIMESTAMP(ts);
M = MATCH_EVENT E PATTERN SEQ(HI, LO) WITH (HI: v > 5.0, LO: v < 2.0);
""")
    rows = sorted(tuple(r) for r in eng.df("M")
                  .select("HI::id", "LO::id").collect())
    assert rows == [(1, 2), (3, 4)]


def test_cep_null_partition_key_not_dropped(spark, tmp_path):
    """Spark's groupBy treats a null key as a real group; the pandas
    partition-runner must too (groupby dropna=False)."""
    p = tmp_path / "ev3.csv"
    p.write_text(
        "a,1,2024-01-01 00:00:01,9.0\n"
        "a,2,2024-01-01 00:00:02,1.0\n"
        ",3,2024-01-01 00:00:01,8.0\n"
        ",4,2024-01-01 00:00:02,1.5\n"
    )
    eng = pg.PigEngine(spark)
    eng.run(f"""
SET piglet.cep.partition_key 'k';
E = LOAD '{p}' USING PigStorage(',') AS (k:chararray, id:int, ts:datetime, v:double) TIMESTAMP(ts);
M = MATCH_EVENT E PATTERN SEQ(HI, LO) WITH (HI: v > 5.0, LO: v < 2.0);
""")
    rows = sorted(tuple(r) for r in eng.df("M")
                  .select("HI::id", "LO::id").collect())
    assert rows == [(1, 2), (3, 4)]


def test_windowed_join_batch(spark, tmp_path):
    a = tmp_path / "a.csv"
    a.write_text("1,2024-01-01 00:00:01\n2,2024-01-01 00:01:00\n")
    b = tmp_path / "b.csv"
    b.write_text("1,2024-01-01 00:00:05\n2,2024-01-01 00:05:00\n")
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{a}' USING PigStorage(',') AS (k:int, ts:datetime) TIMESTAMP(ts);
B = LOAD '{b}' USING PigStorage(',') AS (k:int, ts:datetime) TIMESTAMP(ts);
J = JOIN A BY k, B BY k WINDOW 10 SECONDS;
""")
    rows = eng.df("J").collect()
    # k=1: 4s apart → joins; k=2: 4min apart → excluded
    assert len(rows) == 1 and rows[0]["A::k"] == 1


def test_windowed_join_stream(spark, stream_dir, tmp_path):
    d2 = tmp_path / "in2"
    d2.mkdir()
    (d2 / "b.csv").write_text(
        "1,2024-01-01 00:00:02,1.0\n3,2024-01-01 00:00:40,2.0\n")
    eng = pg.PigEngine(spark, options={"streaming": True,
                                       "watermark": "1 minute"})
    eng.run(f"""
A = LOAD '{stream_dir}' USING PigStorage(',') AS (id:int, ts:datetime, v:double) TIMESTAMP(ts);
B = LOAD '{d2}' USING PigStorage(',') AS (id:int, ts:datetime, w:double) TIMESTAMP(ts);
J = JOIN A BY id, B BY id WINDOW 10 SECONDS;
""")
    df = eng.df("J")
    assert df.isStreaming
    _drain(df, "t_wjoin")
    got = spark.sql("select `A::id` from t_wjoin").collect()
    assert [r[0] for r in got] == [1]


def test_import_statement(spark, data_dir, tmp_path):
    inc = tmp_path / "inc.pig"
    inc.write_text(f"A = LOAD '{data_dir}/t.csv' USING PigStorage(',') "
                   f"AS (f1:int, f2:int, f3:int);\n")
    eng = pg.PigEngine(spark, base_dir=str(tmp_path))
    eng.run("IMPORT 'inc.pig';\nB = FILTER A BY f1 >= 4;\n")
    assert eng.df("B").count() == 2


def test_cep_and_pattern(spark, tmp_path):
    p = tmp_path / "ev3.csv"
    p.write_text(
        "1,2024-01-01 00:00:01,9.0\n"
        "2,2024-01-01 00:00:02,1.0\n"
        "3,2024-01-01 00:00:50,8.5\n"
    )
    eng = pg.PigEngine(spark)
    eng.run(f"""
E = LOAD '{p}' USING PigStorage(',') AS (id:int, ts:datetime, v:double) TIMESTAMP(ts);
M = MATCH_EVENT E PATTERN AND(HI, LO) WITH (HI: v > 5.0, LO: v < 2.0) WITHIN 20 SECONDS;
""")
    rows = [(r["HI::id"], r["LO::id"]) for r in eng.df("M").collect()]
    assert rows == [(1, 2)]  # event 3 alone can't complete the AND


def test_cep_or_pattern(spark, tmp_path):
    p = tmp_path / "ev4.csv"
    p.write_text(
        "1,2024-01-01 00:00:01,9.0\n"
        "2,2024-01-01 00:00:02,3.0\n"
        "3,2024-01-01 00:00:03,1.0\n"
    )
    eng = pg.PigEngine(spark)
    eng.run(f"""
E = LOAD '{p}' USING PigStorage(',') AS (id:int, ts:datetime, v:double) TIMESTAMP(ts);
M = MATCH_EVENT E PATTERN OR(HI, LO) WITH (HI: v > 5.0, LO: v < 2.0);
""")
    got = [(r["HI::id"], r["LO::id"]) for r in eng.df("M").collect()]
    assert got == [(1, None), (None, 3)]


@needs_reference
def test_reference_window_join_script(spark):
    """windowJoin.pig (streaming corpus) runs: JOIN of two WINDOW'd
    relations becomes window-scoped automatically."""
    src = (REF / "windowJoin.pig").read_text()
    src = src.replace("STORE X INTO '$outfile';", "")
    eng = pg.PigEngine(spark, params={"inbase": str(REF)})
    eng.run(src)
    df = eng.df("X")
    # batch arrival-time windows: every matching key joins
    assert df.count() > 0
    assert "C::a1" in df.columns and "D::b1" in df.columns


@needs_reference
def test_reference_splitinto_script(spark, tmp_path):
    src = (REF / "splitInto.pig").read_text()
    src = src.replace("DUMP Y;", "").replace("DUMP Z;", "")
    out = tmp_path / "x"
    eng = pg.PigEngine(spark, params={"inbase": str(REF),
                                      "outfile": str(out)})
    eng.run(src)
    lines = sorted(l for f in out.glob("part-*")
                   for l in f.read_text().splitlines())
    truth = sorted((REF / "truth" / "splitX.data").read_text().splitlines())
    assert lines == [l for l in truth if l.strip()]


def test_cep_unkeyed_warns(spark, tmp_path):
    """Un-keyed MATCH_EVENT serializes through one task — it must say
    so loudly (r02: scale safety)."""
    import warnings as _w
    p = tmp_path / "warn_ev.csv"
    p.write_text("1,2024-01-01 00:00:01,9.0\n2,2024-01-01 00:00:02,1.0\n")
    eng = pg.PigEngine(spark)
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        eng.run(f"""
E = LOAD '{p}' USING PigStorage(',') AS (id:int, ts:datetime, v:double) TIMESTAMP(ts);
M = MATCH_EVENT E PATTERN SEQ(X, Y) WITH (X: v > 5.0, Y: v < 2.0);
""")
    assert any("partition_key" in str(w.message) for w in caught)


def test_cep_unkeyed_refuses_above_limit(spark, tmp_path):
    p = tmp_path / "big_ev.csv"
    p.write_text("".join(
        f"{i},2024-01-01 00:00:{i % 60:02d},{i % 10}.0\n" for i in range(50)))
    eng = pg.PigEngine(spark)
    eng.run(f"""
SET piglet.cep.max_global_rows '10';
E = LOAD '{p}' USING PigStorage(',') AS (id:int, ts:datetime, v:double) TIMESTAMP(ts);
M = MATCH_EVENT E PATTERN SEQ(X, Y) WITH (X: v > 5.0, Y: v < 2.0);
""")
    with pytest.raises(Exception, match="piglet.cep.partition_key"):
        eng.df("M").count()


def test_socket_write_multi_partition(spark):
    """foreachPartition sink: one connection per non-empty partition,
    all rows arrive, nothing is collected on the driver."""
    import socket
    import threading
    received = []
    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(16)
    srv.settimeout(15)
    port = srv.getsockname()[1]
    done = threading.Event()

    def accept_loop():
        while not done.is_set():
            try:
                conn, _ = srv.accept()
            except OSError:
                break
            buf = b""
            while True:
                chunk = conn.recv(4096)
                if not chunk:
                    break
                buf += chunk
            received.extend(buf.decode().splitlines())
            conn.close()

    th = threading.Thread(target=accept_loop, daemon=True)
    th.start()
    df = spark.range(0, 8).repartition(4).selectExpr("id", "id * 2 AS d")
    from piglet_spark.plans import ast as A
    from piglet_spark.streaming.stream_exec import socket_write
    socket_write(df, A.SocketWrite(rel="X", host="127.0.0.1", port=port,
                                   mode=""))
    import time
    deadline = time.time() + 10
    while len(received) < 8 and time.time() < deadline:
        time.sleep(0.1)
    done.set()
    srv.close()
    assert sorted(received) == sorted(f"{i},{i * 2}" for i in range(8))


def test_rows_window_tumbling(spark, tmp_path):
    """WINDOW … ROWS n on bounded input: consecutive complete groups
    of n in arrival order (Flink countWindow semantics — beyond the
    reference's Spark backend, which never compiled ROWS)."""
    p = tmp_path / "rows.csv"
    p.write_text("".join(f"{i},{i % 3}\n" for i in range(10)))
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{p}' USING PigStorage(',') AS (id:int, grp:int);
W = WINDOW A ROWS 4;
G = GROUP W ALL;
C = FOREACH G GENERATE COUNT(W) AS n, MIN(W.id) AS lo, MAX(W.id) AS hi;
""")
    rows = sorted(tuple(r) for r in
                  eng.df("C").select("n", "lo", "hi").collect())
    # 10 rows → two complete windows of 4; trailing 2 rows never fire
    assert rows == [(4, 0, 3), (4, 4, 7)]


def test_rows_window_sliding(spark, tmp_path):
    p = tmp_path / "rows2.csv"
    p.write_text("".join(f"{i}\n" for i in range(10)))
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{p}' USING PigStorage(',') AS (id:int);
W = WINDOW A ROWS 4 SLIDE ROWS 2;
G = GROUP W ALL;
C = FOREACH G GENERATE COUNT(W) AS n, MIN(W.id) AS lo, MAX(W.id) AS hi;
""")
    rows = sorted(tuple(r) for r in
                  eng.df("C").select("n", "lo", "hi").collect())
    # fires at rows 1,3,5,7,9 with the last ≤4 elements each
    assert rows == [(2, 0, 1), (4, 0, 3), (4, 2, 5), (4, 4, 7), (4, 6, 9)]


def test_rows_window_keyed_batch(spark, tmp_path):
    """WINDOW … ROWS n PARTITION BY k (r04): independent per-key count
    windows in per-key arrival order — the batch mirror of Flink's
    keyBy(k).countWindow. ids 0..9 with grp=i%3: grp0 sees 0,3,6,9 →
    windows [0,3] and [6,9]; grp1 sees 1,4,7 → [1,4] (7 buffered);
    grp2 sees 2,5,8 → [2,5]."""
    p = tmp_path / "rowsk.csv"
    p.write_text("".join(f"{i},{i % 3}\n" for i in range(10)))
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{p}' USING PigStorage(',') AS (id:int, grp:int);
W = WINDOW A ROWS 2 PARTITION BY grp;
G = GROUP W ALL;
C = FOREACH G GENERATE MIN(W.grp) AS k, COUNT(W) AS n, MIN(W.id) AS lo,
                       MAX(W.id) AS hi;
""")
    rows = sorted(tuple(r) for r in
                  eng.df("C").select("k", "n", "lo", "hi").collect())
    assert rows == [(0, 2, 0, 3), (0, 2, 6, 9), (1, 2, 1, 4),
                    (2, 2, 2, 5)]


def test_rows_window_keyed_streaming_cross_batch(spark, tmp_path):
    """Keyed count windows on a true stream: per-key state crosses
    micro-batch boundaries and the two keys' windows fire
    independently (r04). Key a: batch1 brings a0,a1,a2 → window 0
    fires in batch 1; a3 in batch 2 completes window 1 across the
    boundary. Key b: b0 in batch 1 stays buffered; b1..b3 in batch 2
    complete windows 0 and 1."""
    import os
    from piglet_spark.streaming.stream_exec import rows_window_stream

    d = tmp_path / "rwink"
    d.mkdir()
    f1, f2 = d / "a.csv", d / "b.csv"
    f1.write_text("a,0\na,1\na,2\nb,100\n")
    f2.write_text("a,3\nb,101\nb,102\nb,103\n")
    os.utime(f1, (1000, 1000))
    os.utime(f2, (2000, 2000))
    sdf = (spark.readStream.schema("k string, id int")
           .option("maxFilesPerTrigger", 1).csv(str(d)))
    out, spec = rows_window_stream(sdf, 2, None, key="k")
    assert spec.key == "k"
    q = (out.writeStream.format("memory").queryName("t_rows_keyed")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select k, __rowwin, id from t_rows_keyed").collect()
    got = {}
    for r in rows:
        got.setdefault((r[0], r[1]), []).append(r[2])
    assert {kw: sorted(v) for kw, v in got.items()} == {
        ("a", 0): [0, 1], ("a", 1): [2, 3],
        ("b", 0): [100, 101], ("b", 1): [102, 103]}


def test_rows_window_streaming_tumbling_cross_batch(spark, tmp_path):
    """True-streaming WINDOW ROWS (r03): count-window state survives
    micro-batch boundaries (applyInPandasWithState) with Flink
    countWindow semantics. Batch 1 brings 5 rows, batch 2 brings 4:
    window 0 = rows 0-3 (fires in batch 1), window 1 = rows 4-7 —
    spanning the batch boundary — fires in batch 2; row 8 stays
    buffered and never fires."""
    import os
    from piglet_spark.streaming.stream_exec import rows_window_stream

    d = tmp_path / "rwin"
    d.mkdir()
    f1, f2 = d / "a.csv", d / "b.csv"
    f1.write_text("".join(f"{i}\n" for i in range(5)))
    f2.write_text("".join(f"{i}\n" for i in range(5, 9)))
    os.utime(f1, (1000, 1000))     # force file order = batch order
    os.utime(f2, (2000, 2000))
    sdf = (spark.readStream.schema("id int")
           .option("maxFilesPerTrigger", 1).csv(str(d)))
    out, spec = rows_window_stream(sdf, 4, None)
    assert out.isStreaming and spec.size == 4
    q = (out.writeStream.format("memory").queryName("t_rows_stream")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "select __rowwin, id from t_rows_stream").collect()
    got = {}
    for r in rows:
        got.setdefault(r[0], []).append(r[1])
    assert {w: sorted(v) for w, v in got.items()} == {
        0: [0, 1, 2, 3], 1: [4, 5, 6, 7]}


def test_rows_window_streaming_sliding_cross_batch(spark, tmp_path):
    """Sliding count windows across micro-batches: ROWS 4 SLIDE 2 over
    batches of 3+4 rows. Windows fire at elements 1,3,5 with the last
    <=4 elements each (early windows partial, Flink semantics)."""
    import os
    from piglet_spark.streaming.stream_exec import rows_window_stream

    d = tmp_path / "rwin2"
    d.mkdir()
    f1, f2 = d / "a.csv", d / "b.csv"
    f1.write_text("0\n1\n2\n")
    f2.write_text("3\n4\n5\n6\n")
    os.utime(f1, (1000, 1000))
    os.utime(f2, (2000, 2000))
    sdf = (spark.readStream.schema("id int")
           .option("maxFilesPerTrigger", 1).csv(str(d)))
    out, _ = rows_window_stream(sdf, 4, 2)
    q = (out.writeStream.format("memory").queryName("t_rows_slide")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "select __rowwin, id from t_rows_slide").collect()
    got = {}
    for r in rows:
        got.setdefault(r[0], []).append(r[1])
    assert {w: sorted(v) for w, v in got.items()} == {
        0: [0, 1], 1: [0, 1, 2, 3], 2: [2, 3, 4, 5]}


def test_rows_window_streaming_via_dsl(spark, tmp_path):
    """WINDOW A ROWS n routes to the stateful streaming path when the
    engine is in streaming mode."""
    d = tmp_path / "rwin3"
    d.mkdir()
    (d / "a.csv").write_text("".join(f"{i}\n" for i in range(9)))
    eng = pg.PigEngine(spark, options={"streaming": True})
    eng.run(f"""
A = LOAD '{d}' USING PigStorage(',') AS (id:int);
W = WINDOW A ROWS 4;
""")
    w = eng.df("W")
    assert w.isStreaming
    q = (w.writeStream.format("memory").queryName("t_rows_dsl")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select __rowwin, id from t_rows_dsl").collect()
    got = {}
    for r in rows:
        got.setdefault(r[0], []).append(r[1])
    # 9 rows -> two complete windows; the 9th row never fires
    assert {w_: sorted(v) for w_, v in got.items()} == {
        0: [0, 1, 2, 3], 1: [4, 5, 6, 7]}


def test_cep_streaming_cross_batch_state(spark, tmp_path):
    """Streaming MATCH_EVENT keeps per-key NFA state ACROSS
    micro-batches (applyInPandasWithState) — the SS re-expression of
    the reference's DStream CEP, whose NFA survived batch boundaries.
    Here X arrives in batch 1 and Y in batch 2; the match must still
    fire."""
    import os
    from pyspark.sql import functions as F
    from piglet_spark.plans import parser
    from piglet_spark.streaming import cep

    d = tmp_path / "in"
    d.mkdir()
    f1 = d / "a.csv"
    f2 = d / "b.csv"
    f1.write_text("1,1,2024-01-01 00:00:01,9.0\n"
                  "1,5,2024-01-01 00:00:02,4.0\n")
    f2.write_text("1,2,2024-01-01 00:00:05,1.0\n")
    os.utime(f1, (1000, 1000))     # force file order = batch order
    os.utime(f2, (2000, 2000))
    sdf = (spark.readStream
           .schema("k int, id int, ts timestamp, v double")
           .option("maxFilesPerTrigger", 1)
           .csv(str(d)))
    stmts = parser.parse(
        "M = MATCH_EVENT E PATTERN SEQ(X, Y) "
        "WITH (X: v > 5.0, Y: v < 2.0) WITHIN 15 SECONDS;")
    op = [s for s in stmts if type(s).__name__ == "MatchEvent"][0]

    class Ex:
        options = {"piglet.cep.partition_key": "k"}
        ts_fields = {}

    out = cep.match_event(sdf, op, Ex())
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("t_cep_state")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "select `X::id`, `Y::id` from t_cep_state").collect()
    assert [(r[0], r[1]) for r in rows] == [(1, 2)]


def test_cep_streaming_requires_key(spark, tmp_path):
    from piglet_spark.plans import parser
    from piglet_spark.streaming import cep
    d = tmp_path / "in2"
    d.mkdir()
    (d / "a.csv").write_text("1,2024-01-01 00:00:01,9.0\n")
    sdf = (spark.readStream.schema("id int, ts timestamp, v double")
           .csv(str(d)))
    stmts = parser.parse(
        "M = MATCH_EVENT E PATTERN SEQ(X, Y) "
        "WITH (X: v > 5.0, Y: v < 2.0);")
    op = [s for s in stmts if type(s).__name__ == "MatchEvent"][0]

    class Ex:
        options = {}
        ts_fields = {}

    with pytest.raises(ValueError, match="partition_key"):
        cep.match_event(sdf, op, Ex())


def test_rows_window_survives_filter(spark, tmp_path):
    """r02 code-review fix: the ROWS window spec must propagate
    through pass-through operators (FILTER) so downstream grouping
    stays per-window."""
    p = tmp_path / "rowsf.csv"
    p.write_text("".join(f"{i}\n" for i in range(8)))
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{p}' USING PigStorage(',') AS (id:int);
W = WINDOW A ROWS 4;
K = FILTER W BY id != 2;
G = GROUP K ALL;
C = FOREACH G GENERATE COUNT(K) AS n, MIN(K.id) AS lo;
""")
    rows = sorted(tuple(r) for r in
                  eng.df("C").select("n", "lo").collect())
    # window 0 = rows 0-3 minus the filtered id 2 → 3; window 1 = 4
    assert rows == [(3, 0), (4, 4)]


def test_zmq_mode_requires_pyzmq_clear_error(spark, data_dir):
    """MODE zmq is implemented behind an optional pyzmq import; in an
    environment without pyzmq both directions raise an actionable
    error naming the missing package (r02 verdict item 7)."""
    pytest.importorskip  # (not used: this test asserts the ABSENCE path)
    try:
        import zmq  # noqa: F401
        pytest.skip("pyzmq installed: the error path cannot trigger")
    except ImportError:
        pass
    eng = pg.PigEngine(spark)
    with pytest.raises(Exception, match="pyzmq"):
        eng.run("A = SOCKET_READ 'localhost:19999' MODE zmq "
                "AS (id:int);")
    eng2 = pg.PigEngine(spark)
    with pytest.raises(Exception, match="pyzmq"):
        eng2.run(f"""
A = LOAD '{data_dir}/t.csv' USING PigStorage(',') AS (a:int,b:int,c:int);
SOCKET_WRITE A TO 'localhost:19998' MODE zmq;
""")


def test_zmq_loopback_pub_sub(spark, data_dir):
    """PUB/SUB loopback (runs only where pyzmq is installed): a batch
    relation published via SOCKET_WRITE … MODE zmq arrives at a SUB
    subscriber line-for-line (ref ZmqPublisher/ZmqSubscriber,
    flinklib Sink/SourceFuncs)."""
    zmq = pytest.importorskip("zmq")
    import threading

    port = 28765
    got: list[str] = []
    ready = threading.Event()

    def subscribe():
        ctx = zmq.Context.instance()
        sub = ctx.socket(zmq.SUB)
        sub.connect(f"tcp://localhost:{port}")
        sub.setsockopt(zmq.SUBSCRIBE, b"")
        ready.set()
        for _ in range(100):
            if sub.poll(100):
                got.append(sub.recv().decode())
                if len(got) >= 4:
                    break
        sub.close(0)

    t = threading.Thread(target=subscribe, daemon=True)
    t.start()
    ready.wait(5)
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD '{data_dir}/t.csv' USING PigStorage(',') AS (a:int,b:int,c:int);
SOCKET_WRITE A TO 'localhost:{port}' MODE zmq;
""")
    t.join(10)
    assert sorted(got) == ["(1,2,3)", "(1,2,4)", "(4,5,6)", "(7,8,9)"]


@pytest.mark.parametrize("n,m,counts", [
    (4, None, (5, 4)),     # tumbling across a batch boundary
    (3, None, (7,)),       # tumbling single batch, remainder dropped
    (5, 2, (4, 5)),        # sliding across a batch boundary
])
def test_rows_window_stream_equals_bounded(spark, tmp_path, n, m, counts):
    """Glue property: feeding the same rows through the streaming
    count-window (in micro-batches) and the bounded implementation
    yields identical (window, members) assignments — the two code
    paths implement one semantics."""
    import os
    from piglet_spark.streaming.stream_exec import rows_window_stream

    total = sum(counts)
    # bounded truth via the DSL path
    f = tmp_path / "all.csv"
    f.write_text("".join(f"{i}\n" for i in range(total)))
    eng = pg.PigEngine(spark)
    slide = f" SLIDE ROWS {m}" if m else ""
    eng.run(f"""
A = LOAD '{f}' USING PigStorage(',') AS (id:int);
W = WINDOW A ROWS {n}{slide};
""")
    bounded = {}
    for r in eng.df("W").select("__rowwin", "id").collect():
        bounded.setdefault(r[0], []).append(r[1])
    bounded = {k: sorted(v) for k, v in bounded.items()}

    # streaming: same rows split into micro-batches
    d = tmp_path / "stream"
    d.mkdir()
    start = 0
    for bi, c in enumerate(counts):
        p = d / f"b{bi}.csv"
        p.write_text("".join(f"{i}\n" for i in range(start, start + c)))
        os.utime(p, (1000 + bi, 1000 + bi))
        start += c
    sdf = (spark.readStream.schema("id int")
           .option("maxFilesPerTrigger", 1).csv(str(d)))
    out, _ = rows_window_stream(sdf, n, m)
    qname = f"t_rows_eq_{n}_{m}_{total}"
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    streamed = {}
    for r in spark.sql(f"select __rowwin, id from {qname}").collect():
        streamed.setdefault(r[0], []).append(r[1])
    streamed = {k: sorted(v) for k, v in streamed.items()}
    assert streamed == bounded


def test_rows_window_streaming_grouped_aggregation(spark, tmp_path):
    """End-to-end composition: streaming count windows feed a GROUP +
    aggregate FOREACH (the windowCount.pig shape) with per-window
    results spanning micro-batch boundaries."""
    import os
    d = tmp_path / "rwg"
    d.mkdir()
    f1, f2 = d / "a.csv", d / "b.csv"
    f1.write_text("".join(f"{i},{i * 10}\n" for i in range(5)))
    f2.write_text("".join(f"{i},{i * 10}\n" for i in range(5, 9)))
    os.utime(f1, (1000, 1000))
    os.utime(f2, (2000, 2000))
    eng = pg.PigEngine(spark, options={"streaming": True})
    eng.run(f"""
A = LOAD '{d}' USING PigStorage(',') AS (id:int, v:int);
W = WINDOW A ROWS 4;
G = GROUP W ALL;
C = FOREACH G GENERATE COUNT(W) AS n, MIN(W.id) AS lo, MAX(W.id) AS hi;
""")
    c = eng.df("C")
    assert c.isStreaming
    q = (c.writeStream.format("memory").queryName("t_rows_grp")
         .outputMode("complete").start())
    q.processAllAvailable()
    q.stop()
    rows = sorted(tuple(r)[-3:] for r in
                  spark.sql("select * from t_rows_grp").collect())
    # window 0 = rows 0-3 (batch 1), window 1 = rows 4-7 (crosses the
    # batch boundary); row 8 buffered, never fires
    assert rows == [(4, 0, 3), (4, 4, 7)]


def test_stop_streams_scoped_to_engine_pumps(spark, tmp_path):
    """One engine's stop_streams() must not kill another engine's live
    ZMQ pumps (r04 review) — exercised with fake pump records so the
    scoping logic is testable without pyzmq."""
    import threading

    from piglet_spark.streaming import stream_exec as se

    def fake_pump(spool):
        spool.mkdir(exist_ok=True)
        ev = threading.Event()
        th = threading.Thread(target=ev.wait, daemon=True)
        th.start()
        return {"stop": ev, "spool": str(spool), "thread": th}

    a = fake_pump(tmp_path / "spool_a")
    b = fake_pump(tmp_path / "spool_b")
    eng_a = pg.PigEngine(spark)
    eng_b = pg.PigEngine(spark)
    for rec, eng in ((a, eng_a), (b, eng_b)):
        se._ZMQ_PUMPS.append(rec)
        eng.executor.zmq_pumps.append(rec)
    try:
        eng_a.stop_streams()
        assert a["stop"].is_set() and not (tmp_path / "spool_a").exists()
        # engine B's pump is untouched and still registered globally
        assert not b["stop"].is_set() and (tmp_path / "spool_b").exists()
        assert b in se._ZMQ_PUMPS and a not in se._ZMQ_PUMPS
    finally:
        se.stop_pumps([b])
    assert b not in se._ZMQ_PUMPS


def test_streaming_dedup_cross_batch(spark, tmp_path):
    """DEDUP on a streaming relation = Spark's stateful dropDuplicates:
    a key seen in batch 1 is suppressed when it reappears in batch 2
    (dedup-on-ingest, the training-pipeline shape). Append-mode safe —
    the batch rewrite (groupBy + min(struct)) would demand update
    mode."""
    import os
    d = tmp_path / "sdedup"
    d.mkdir()
    f1, f2 = d / "a.csv", d / "b.csv"
    f1.write_text("1,a\n2,b\n1,c\n")
    f2.write_text("2,d\n3,e\n1,f\n")
    os.utime(f1, (1000, 1000))
    os.utime(f2, (2000, 2000))
    sdf = (spark.readStream.schema("id int, v string")
           .option("maxFilesPerTrigger", 1).csv(str(d)))
    eng = pg.PigEngine(spark)
    eng.executor.env["A"] = sdf
    eng.run("B = DEDUP A ON id;")
    out = eng.df("B")
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("t_sdedup")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select id, v from t_sdedup").collect()
    got = {r["id"]: r["v"] for r in rows}
    assert len(rows) == 3 and set(got) == {1, 2, 3}
    # ids 1 and 2 were emitted from their FIRST batch — batch 2's
    # re-arrivals (d, f) were suppressed by the dedup state
    assert got[2] == "b" and got[1] in ("a", "c") and got[3] == "e"


def test_streaming_dedup_watermark_bounded_state(spark, tmp_path):
    """With TIMESTAMP metadata + SET piglet.watermark, streaming DEDUP
    compiles to dropDuplicatesWithinWatermark (watermark-bounded
    state)."""
    sdf = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    eng = pg.PigEngine(spark, options={"watermark": "10 seconds"})
    eng.executor.env["A"] = sdf
    eng.executor.ts_fields["A"] = "timestamp"
    eng.run("B = DEDUP A ON value;")
    plan = eng.df("B")._jdf.queryExecution().logical().toString()
    assert "DeduplicateWithinWatermark" in plan


def test_streaming_dedup_expression_key_rejected(spark):
    sdf = spark.readStream.format("rate").load()
    eng = pg.PigEngine(spark)
    eng.executor.env["A"] = sdf
    import pytest as _pytest
    from piglet_spark.operators.executor import ExecError
    with _pytest.raises(ExecError, match="plain columns"):
        eng.run("B = DEDUP A ON $0;")


def test_stream_through_maponly_datapipe_ops(spark, tmp_path):
    """Clean-on-ingest (r05): the MAP-ONLY datapipe ops — pii_scrub,
    mixture_sample, mixture_repeat, chunk_text — compose with a
    streaming LOAD and run per-micro-batch with no state. The same
    script works batch or streaming; results must match the batch
    run of the identical ops."""
    d = tmp_path / "docs_in"
    d.mkdir()
    d.joinpath("a.csv").write_text(
        "0,src0,the quick brown fox jumps over the lazy dog today\n"
        "1,src1,email me at a@b.com for the full corpus dump now\n"
        "2,src0,some completely different text with enough tokens here\n"
        "3,src1,short doc\n")
    script = f"""
D = LOAD '{d}' USING PigStorage(',') AS (doc_id:int, source:chararray, text:chararray);
C = STREAM D THROUGH pii_scrub();
M = STREAM C THROUGH mixture_sample('src0:1.0,src1:1.0', 7);
X = STREAM M THROUGH chunk_text(4, 1);
"""
    eng = pg.PigEngine(spark, options={"streaming": True})
    eng.run(script)
    df = eng.df("X")
    assert df.isStreaming
    _drain(df, "t_chunks")
    got = sorted(tuple(r) for r in spark.sql(
        "select doc_id, chunk_idx, n_chunk_tokens, chunk_text "
        "from t_chunks").collect())
    # batch reference: identical script, batch engine
    beng = pg.PigEngine(spark)
    beng.run(script.replace(f"'{d}'", f"'{d}/a.csv'"))
    want = sorted(tuple(r) for r in beng.df("X").collect())
    assert got == want and len(got) > 0
    # PII scrubbed on ingest
    assert all("a@b.com" not in t[3] for t in got)


def test_cep_neg_guards_whole_interval(spark, tmp_path):
    """r05 fix: NEG(B) between A and C guards the ENTIRE interval
    until C matches — a B occurring several rows after A must still
    kill the run (the old step-based NEG only checked one row)."""
    p = tmp_path / "neg1.csv"
    p.write_text(
        "1,2024-01-01 00:00:01,A\n"
        "2,2024-01-01 00:00:02,X\n"
        "3,2024-01-01 00:00:03,B\n"   # violates NEG(B) mid-interval
        "4,2024-01-01 00:00:04,C\n"
        "5,2024-01-01 00:00:05,A\n"
        "6,2024-01-01 00:00:06,X\n"
        "7,2024-01-01 00:00:07,C\n"   # clean A..C run
    )
    eng = pg.PigEngine(spark)
    eng.run(f"""
E = LOAD '{p}' USING PigStorage(',') AS (id:int, ts:datetime, k:chararray) TIMESTAMP(ts);
M = MATCH_EVENT E PATTERN SEQ(A, NEG(B), C)
    WITH (A: k == 'A', B: k == 'B', C: k == 'C');
""")
    rows = sorted(tuple(r) for r in eng.df("M")
                  .select("A::id", "C::id").collect())
    assert rows == [(5, 7)]  # the 1..4 run died at the B on row 3


def test_cep_trailing_neg_clear_error(spark, tmp_path):
    p = tmp_path / "neg2.csv"
    p.write_text("1,2024-01-01 00:00:01,A\n")
    eng = pg.PigEngine(spark)
    import pytest as _pytest
    with _pytest.raises(Exception, match="ending in NEG"):
        eng.run(f"""
E = LOAD '{p}' USING PigStorage(',') AS (id:int, ts:datetime, k:chararray) TIMESTAMP(ts);
M = MATCH_EVENT E PATTERN SEQ(A, NEG(B)) WITH (A: k == 'A', B: k == 'B');
""")
        eng.df("M").collect()


def test_cep_strict_retries_violating_row(spark, tmp_path):
    """r05 fix: MODE strict resets on a contiguity violation and
    reconsiders the violating row as a new run start — [A, A, B]
    must match (A#2, B), not nothing."""
    p = tmp_path / "strict.csv"
    p.write_text(
        "1,2024-01-01 00:00:01,A\n"
        "2,2024-01-01 00:00:02,A\n"
        "3,2024-01-01 00:00:03,B\n"
    )
    eng = pg.PigEngine(spark)
    eng.run(f"""
E = LOAD '{p}' USING PigStorage(',') AS (id:int, ts:datetime, k:chararray) TIMESTAMP(ts);
M = MATCH_EVENT E PATTERN SEQ(A, B) WITH (A: k == 'A', B: k == 'B') MODE strict;
""")
    rows = sorted(tuple(r) for r in eng.df("M")
                  .select("A::id", "B::id").collect())
    assert rows == [(2, 3)]


def test_cep_skip_till_any_match_kill_on_mismatch(spark, tmp_path):
    """r06 (advisor): skip_till_any_match mirrors ref engines/
    AnyMatch.scala EXACTLY — kill-on-mismatch: a run whose
    current-state predicate fails on an event is deleted (the
    reference NFA has forward edges only, no self-loops). For
    [X1, X2, Y3] the X1-run dies at X2 (X2 fails the Y predicate),
    so only (X2, Y3) emits. The SASE keep-alive semantics live in
    the extension mode sase_any_match; pooled reference NextMatch
    (runs survive mismatches, no clone) is next_match_pooled."""
    p = tmp_path / "anym.csv"
    p.write_text(
        "1,2024-01-01 00:00:01,X\n"
        "2,2024-01-01 00:00:02,X\n"
        "3,2024-01-01 00:00:03,Y\n"
    )
    eng = pg.PigEngine(spark)
    eng.run(f"""
E = LOAD '{p}' USING PigStorage(',') AS (id:int, ts:datetime, k:chararray) TIMESTAMP(ts);
M = MATCH_EVENT E PATTERN SEQ(X, Y) WITH (X: k == 'X', Y: k == 'Y')
    MODE skip_till_any_match;
S = MATCH_EVENT E PATTERN SEQ(X, Y) WITH (X: k == 'X', Y: k == 'Y')
    MODE sase_any_match;
P = MATCH_EVENT E PATTERN SEQ(X, Y) WITH (X: k == 'X', Y: k == 'Y')
    MODE next_match_pooled;
N = MATCH_EVENT E PATTERN SEQ(X, Y) WITH (X: k == 'X', Y: k == 'Y');
""")
    def got(alias):
        return sorted(tuple(r) for r in eng.df(alias)
                      .select("X::id", "Y::id").collect())
    assert got("M") == [(2, 3)]           # ref AnyMatch parity
    assert got("S") == [(1, 3), (2, 3)]   # SASE extension
    assert got("P") == [(1, 3), (2, 3)]   # ref NextMatch parity
    assert got("N") == [(1, 3)]           # single-run default


def test_cep_any_match_clone_survives_completion(spark, tmp_path):
    """ref AnyMatch clones BEFORE addEvent, so after (X1,Y2) emits,
    a copy still waits at the Y-state and pairs with Y3 — but an
    intervening mismatching event (Z) kills that copy."""
    p = tmp_path / "anyclone.csv"
    p.write_text(
        "1,2024-01-01 00:00:01,X\n"
        "2,2024-01-01 00:00:02,Y\n"
        "3,2024-01-01 00:00:03,Y\n"
        "4,2024-01-01 00:00:04,Z\n"
        "5,2024-01-01 00:00:05,Y\n"
    )
    eng = pg.PigEngine(spark)
    eng.run(f"""
E = LOAD '{p}' USING PigStorage(',') AS (id:int, ts:datetime, k:chararray) TIMESTAMP(ts);
M = MATCH_EVENT E PATTERN SEQ(X, Y) WITH (X: k == 'X', Y: k == 'Y')
    MODE skip_till_any_match;
""")
    rows = sorted(tuple(r) for r in eng.df("M")
                  .select("X::id", "Y::id").collect())
    # Y2 and Y3 both pair with X1 (clone-on-advance); Z4 kills the
    # surviving clone, so Y5 matches nothing
    assert rows == [(1, 2), (1, 3)]


def test_cep_any_match_within_gc(spark, tmp_path):
    """WITHIN expiry garbage-collects any-match runs: an old X whose
    window passed must not pair with a late Y."""
    p = tmp_path / "anygc.csv"
    p.write_text(
        "1,2024-01-01 00:00:01,X\n"
        "2,2024-01-01 00:00:30,X\n"
        "3,2024-01-01 00:00:35,Y\n"
    )
    eng = pg.PigEngine(spark)
    eng.run(f"""
E = LOAD '{p}' USING PigStorage(',') AS (id:int, ts:datetime, k:chararray) TIMESTAMP(ts);
M = MATCH_EVENT E PATTERN SEQ(X, Y) WITH (X: k == 'X', Y: k == 'Y')
    WITHIN 10 SECONDS MODE skip_till_any_match;
""")
    rows = sorted(tuple(r) for r in eng.df("M")
                  .select("X::id", "Y::id").collect())
    assert rows == [(2, 3)]


def test_stream_socket_line_parse_pipe_delim(spark):
    """r05: the socket line parser must treat the delimiter as a
    LITERAL ('|' and '.' are regex metachars)."""
    import pandas as pd
    from piglet_spark.plans import parser as P
    from piglet_spark.streaming.stream_exec import _parse_lines
    ops = P.parse("A = LOAD 'x' USING PigStorage('|') AS (a:chararray, b:int);", {})
    decl = ops[0].schema
    raw = spark.createDataFrame([("x|1",), ("yy|22",)], ["value"])
    out = sorted(tuple(r) for r in
                 _parse_lines(raw, "PigStorage", ["|"], decl, None).collect())
    assert out == [("x", 1), ("yy", 22)]


def test_datapipe_map_only_ops_on_streams(spark, tmp_path):
    """The map-only datapipe operators (doc_stats, pii_scrub,
    chunk_text) are pure Column expressions, so STREAM THROUGH
    applies them to unbounded inputs unchanged — the streaming
    micro-batch output matches the batch run value-for-value."""
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.csv").write_text(
        "1\tthe quick brown fox jumps over the lazy dog today\n"
        "2\tcall me at 555-123-4567 or mail a@b.com now please\n"
        "3\tshort doc\n")
    schema = "doc_id:long, text:chararray"

    batch = pg.PigEngine(spark)
    batch.run(f"""
D = LOAD '{d}/a.csv' USING PigStorage('\\t') AS ({schema});
S = STREAM D THROUGH doc_stats();
P = STREAM D THROUGH pii_scrub();
C = STREAM D THROUGH chunk_text(4, 1);
""")
    want = {a: sorted(map(tuple, batch.df(a).collect()))
            for a in ("S", "P", "C")}

    stream = pg.PigEngine(spark, options={"streaming": True})
    stream.run(f"""
D = LOAD '{d}' USING PigStorage('\\t') AS ({schema});
S = STREAM D THROUGH doc_stats();
P = STREAM D THROUGH pii_scrub();
C = STREAM D THROUGH chunk_text(4, 1);
""")
    for a in ("S", "P", "C"):
        df = stream.df(a)
        assert df.isStreaming, a
        _drain(df, f"t_dp_{a}")
        got = sorted(map(tuple,
                         spark.sql(f"select * from t_dp_{a}").collect()))
        assert got == want[a], a


def test_bloom_decontaminate_streaming_corpus(spark, tmp_path):
    """Streaming decontamination-on-ingest: the benchmark side is
    static (it becomes the broadcast bitmap literal), the corpus side
    is a pure map-only probe — so it applies to an unbounded stream
    unchanged and matches the batch run value-for-value."""
    from piglet_spark.datapipe import dedup as dp_dedup
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.csv").write_text(
        "1\tthe quick brown fox jumps over the lazy dog\n"
        "2\tcompletely different words in this one here\n"
        "3\tthe quick brown fox appears here too today\n")
    bench = spark.createDataFrame(
        [(100, "the quick brown fox runs")], ["doc_id", "text"])
    schema = "doc_id long, text string"

    batch_docs = (spark.read.schema(schema).option("sep", "\t")
                  .csv(str(d / "a.csv")))
    want = sorted(map(tuple, dp_dedup.bloom_decontaminate(
        batch_docs, bench, k=3, m_bits=4096).collect()))
    assert any(r[2] > 0 for r in want)   # fox docs hit the bloom

    sdf = (spark.readStream.schema(schema).option("sep", "\t")
           .csv(str(d)))
    out = dp_dedup.bloom_decontaminate(sdf, bench, k=3, m_bits=4096)
    assert out.isStreaming
    _drain(out, "t_bloom_stream")
    got = sorted(map(tuple,
                     spark.sql("select * from t_bloom_stream").collect()))
    assert got == want


def test_streaming_neardup_rejects_string_ids(spark, tmp_path):
    """The streaming state/output schema types the id as long; a
    string id must fail LOUDLY at plan time (it used to cast to null
    and crash inside the stateful detector) while the batch twin
    keeps accepting any orderable id type — the r07 ADVICE finding."""
    from piglet_spark.datapipe import dedup as dp_dedup
    d = tmp_path / "docs_sid"
    d.mkdir()
    (d / "b1.csv").write_text("u-1\talpha beta gamma\n")
    sdf = (spark.readStream.schema("doc_id string, text string")
           .option("sep", "\t").csv(str(d)))
    with pytest.raises(ValueError, match="integral type"):
        dp_dedup.streaming_neardup_pairs(sdf)
    # batch twin: string ids fine (min-id holder semantics)
    bdf = spark.createDataFrame(
        [("a", "alpha beta gamma delta"), ("b", "alpha beta gamma delta")],
        "doc_id string, text string")
    got = dp_dedup.streaming_neardup_pairs(bdf, threshold=0.5).collect()
    assert all(r["id_a"] == "b" and r["id_b"] == "a" for r in got)
    assert len(got) > 0


def test_streaming_neardup_cross_batch(spark, tmp_path):
    """First-seen LSH state survives micro-batch boundaries: a doc
    arriving in batch 2 is flagged against the holder stored in
    batch 1, and the total streamed output equals the batch twin on
    the same (id-ordered) data."""
    from piglet_spark.datapipe import dedup as dp_dedup
    d = tmp_path / "docs"
    d.mkdir()
    schema = "doc_id long, text string"
    (d / "b1.csv").write_text(
        "0\talpha beta gamma delta epsilon zeta eta theta\n"
        "1\tone two three four five six seven eight\n")
    sdf = (spark.readStream.schema(schema).option("sep", "\t")
           .csv(str(d)))
    out = dp_dedup.streaming_neardup_pairs(sdf, threshold=0.5)
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("t_neardup")
         .outputMode("append").start())
    q.processAllAvailable()
    assert spark.sql("select * from t_neardup").count() == 0
    # batch 2: a near-dup of doc 0 and an unrelated doc
    (d / "b2.csv").write_text(
        "2\talpha beta gamma delta epsilon zeta eta iota\n"
        "3\tnine ten eleven twelve thirteen fourteen fifteen sixteen\n")
    q.processAllAvailable()
    q.stop()
    got = sorted(map(tuple,
                     spark.sql("select * from t_neardup").collect()))
    assert got and all(b == 0 and a == 2 for a, b, _, _ in got)
    # ids arrived in ascending order, so the stream's first-arrival
    # holder == the twin's min-id holder: outputs must coincide
    batch_docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta"),
         (1, "one two three four five six seven eight"),
         (2, "alpha beta gamma delta epsilon zeta eta iota"),
         (3, "nine ten eleven twelve thirteen fourteen fifteen sixteen")],
        ["doc_id", "text"])
    want = sorted(map(tuple, dp_dedup.neardup_pairs_first_seen(
        batch_docs, threshold=0.5).collect()))
    assert got == want


def test_streaming_neardup_ttl_smoke(spark, tmp_path):
    """ttl_sec wires ProcessingTimeTimeout without breaking emission
    (GC itself needs wall-clock progress — not asserted here)."""
    from piglet_spark.datapipe import dedup as dp_dedup
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.csv").write_text(
        "0\talpha beta gamma delta epsilon zeta\n"
        "1\talpha beta gamma delta epsilon zeta\n")
    sdf = (spark.readStream.schema("doc_id long, text string")
           .option("sep", "\t").csv(str(d)))
    out = dp_dedup.streaming_neardup_pairs(sdf, threshold=0.9,
                                           ttl_sec=3600)
    # availableNow (not processAllAvailable): pending processing-time
    # timeouts keep the query perpetually busy, so processAllAvailable
    # never settles — availableNow drains the data then terminates
    q = (out.writeStream.format("memory").queryName("t_neardup_ttl")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    rows = spark.sql("select * from t_neardup_ttl").collect()
    assert [(r["id_a"], r["id_b"]) for r in rows].count((1, 0)) >= 1
