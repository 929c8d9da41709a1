"""The one input-size probe (``datapipe.util.input_bytes``) and the
gates that read it: spread's repartition and the engine's shared
reduction-point checkpoint. Unknown sizes take the at-scale side."""

import math

import piglet_spark as pg

from piglet_spark.datapipe import util

from .conftest import rows

SHARED_SCRIPT = """
A = LOAD '{path}' USING PigStorage(',') AS (f1:int, f2:int, f3:int);
G = GROUP A BY f1;
S = FOREACH G GENERATE group AS k, SUM(A.f3) AS tot;
X = FILTER S BY tot > 6;
Y = FILTER S BY tot <= 6;
U = UNION X, Y;
"""


def _one_file_scan(spark, path):
    spark.range(64).coalesce(1).write.mode("overwrite").parquet(str(path))
    return spark.read.parquet(str(path))


def test_input_bytes_sums_local_files(spark, tmp_path):
    df = _one_file_scan(spark, tmp_path / "t.parquet")
    files = list((tmp_path / "t.parquet").glob("*.parquet"))
    assert util.input_bytes(df) == sum(f.stat().st_size for f in files) > 0
    # in-memory rows have no input files: a known 0, not unknown
    assert util.input_bytes(spark.createDataFrame([(1,)], "x int")) == 0


def test_input_bytes_unknown_takes_scale_side(spark, tmp_path):
    """A remote file, an unstat-able file or a failing inputFiles()
    is unknown (inf): spread probes and repartitions a 1-partition
    scan even though its real bytes are far below the gate."""
    df = _one_file_scan(spark, tmp_path / "t.parquet")
    assert df.rdd.getNumPartitions() == 1
    assert util.spread(df) is df  # known and tiny: no repartition

    df.inputFiles = lambda: ["s3a://bucket/corpus/part-0.parquet"]
    assert util.input_bytes(df) == math.inf
    out = util.spread(df)
    assert out is not df
    assert out.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism

    df.inputFiles = lambda: [f"file:{tmp_path}/gone.parquet"]
    assert util.input_bytes(df) == math.inf

    def boom():
        raise RuntimeError("no file index")
    df.inputFiles = boom
    assert util.input_bytes(df) == math.inf


def test_spread_gate(spark, tmp_path, monkeypatch):
    """Below SPREAD_MIN_BYTES spread returns the same object; with the
    gate at 0 the 1-partition scan is spread over all cores, hashed on
    the key columns when given."""
    df = _one_file_scan(spark, tmp_path / "t.parquet")
    assert util.spread(df) is df
    assert util.spread(df, "id") is df
    monkeypatch.setattr(util, "SPREAD_MIN_BYTES", 0)
    target = spark.sparkContext.defaultParallelism
    for out in (util.spread(df), util.spread(df, "id")):
        assert out is not df
        assert out.rdd.getNumPartitions() == target
        assert sorted(r.id for r in out.collect()) == list(range(64))


def test_shared_ckpt_gate_fires_on_unknown_size(spark, tmp_path,
                                                monkeypatch):
    """With the default 64 MB gate a tiny local input stays lazy; the
    same script over an input whose size is unknown (a remote path)
    pins the shared reduction point."""
    p = tmp_path / "t.csv"
    p.write_text("1,2,3\n4,5,6\n7,8,9\n1,2,4\n")
    script = SHARED_SCRIPT.format(path=p)
    eng = pg.PigEngine(spark)
    eng.run(script)
    assert "S" not in eng.executor._cached
    # the session's concrete DataFrame class (a subclass on Spark 4)
    monkeypatch.setattr(type(spark.range(1)), "inputFiles",
                        lambda self: ["s3a://bucket/t.csv"])
    eng2 = pg.PigEngine(spark)
    eng2.run(script)
    assert "S" in eng2.executor._cached
    monkeypatch.undo()
    assert rows(eng2.df("U")) == [(1, 7), (4, 6), (7, 9)]


def test_long_lived_engine_resizes_grown_load(spark, tmp_path,
                                              monkeypatch):
    """One PigEngine, two run()s: the LOAD file grows past the
    shared-checkpoint gate in between, and the second run sizes it
    afresh (no size cache outlives the file)."""
    p = tmp_path / "t.csv"
    p.write_text("1,2,3\n4,5,6\n7,8,9\n1,2,4\n")
    monkeypatch.setattr(util, "SHARED_CKPT_MIN_BYTES",
                        p.stat().st_size + 1)
    script = SHARED_SCRIPT.format(path=p)
    eng = pg.PigEngine(spark)
    eng.run(script)
    assert rows(eng.df("U")) == [(1, 7), (4, 6), (7, 9)]
    assert "S" not in eng.executor._cached
    with p.open("a") as fh:
        fh.write("10,1,1\n")
    eng.run(script)
    assert "S" in eng.executor._cached
    assert rows(eng.df("U")) == [(1, 7), (4, 6), (7, 9), (10, 1)]
