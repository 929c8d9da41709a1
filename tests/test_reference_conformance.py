"""Conformance suite: the reference's OWN integration scripts run
verbatim against its OWN truth files.

Mirrors /root/reference/src/it/scala/dbis/test/spark/
SparkCompileIt.scala:25-85 (script table) + CompileIt.scala:30-61
(line-multiset comparison, per-script inOrder flag). Scripts and
truths are read from the read-only reference tree; only the
``$inbase``/``$outfile`` parameters are substituted — the reference's
own parameter mechanism.
"""

import pathlib

import pytest

import piglet_spark as pg

REF = pathlib.Path("/root/reference/src/it/resources")

# Tests that read the reference's scripts, ``$inbase`` inputs or truth
# files skip where that tree is absent, and run wherever it exists.
needs_reference = pytest.mark.skipif(
    not REF.is_dir(),
    reason=f"reference integration tree {REF} is absent")

# (script, truth, in_order) — from SparkCompileIt.scala, minus entries
# whose prerequisites don't exist here (jdbc: H2 driver; rscript: R).
SCRIPTS = [
    ("load.pig", "result1.data", True),
    ("load2.pig", "result2.data", True),
    ("load3.pig", "result3.data", True),
    ("selfjoin.pig", "joined.data", False),
    ("selfjoin_ambiguous_fieldnames.pig", "joined_ambiguous_fieldnames.data",
     False),
    # join output order is engine-specific; the reference truth
    # happens to match its RDD implementation → compare as multiset
    ("selfjoin_filtered.pig", "joined_filtered.data", False),
    ("sort.pig", "sorted.data", True),
    ("sort_multiple_directions.pig", "sorted_multiple_directions.data", True),
    ("filter.pig", "filtered.data", True),
    ("foreach1.pig", "distances.data", True),
    ("nforeach.pig", "nested.data", True),
    ("groupforeach.pig", "groupedrdf.data", False),
    ("nforeach2.pig", "rdf.data", False),
    ("grouping.pig", "grouping.data", False),
    ("grouping2.pig", "grouping2.data", False),
    ("groupall.pig", "groupall.data", False),
    ("wordcount.pig", "marycount.data", False),
    ("bag.pig", "bag.data", True),
    ("construct.pig", "construct.data", True),
    ("union.pig", "united.data", True),
    ("cross.pig", "cross2.csv", False),
    ("crossmany.pig", "crossmany.csv", False),
    ("aggregate.pig", "aggregate.data", False),
    ("sampling.pig", "sampling.data", False),
    ("accumulate.pig", "accumulate.data", False),
    ("embedded.pig", "embedded.data", True),
    ("macro1.pig", "macro1.data", True),
    ("top.pig", "top.data", True),
    ("top_schema.pig", "top.data", True),
    ("simple_matrix.pig", "simple-matrix-res.data", True),
    ("bgpfilter.pig", "bgpfilter.data", False),
    ("rdf_starjoin_plain.pig", "rdf_starjoin_plain.data", False),
    ("rdf_pathjoin_plain.pig", "rdf_pathjoin_plain.data", False),
    ("two_joins.pig", "twojoins.data", False),
    ("spatialfilter.pig", "spatialfilter.data", False),
    ("spatialfilterwithindex.pig", "spatialfilter.data", False),
    ("spatialjoin.pig", "spatialjoin.data", False),
    ("spatialjoinwithindex.pig", "spatialjoin.data", False),
    # --- streaming-backend table (SparksCompileIt.scala:25-43, active
    # rows): bounded inputs, whole file = one arrival-time window, so
    # batch execution reproduces the DStream truth files exactly
    ("splitInto.pig", "splitX.data", False),
    # inOrder=false in the reference table (SparksCompileIt.scala:26-29)
    ("stream_load.pig", "result1.data", False),
    ("stream_load2.pig", "result2.data", False),
    ("stream_foreach1.pig", "distances.data", False),
    ("stream_filter.pig", "filtered.data", False),
    ("windowJoin.pig", "joined.data", False),
    ("windowGrouping.pig", "grouping.data", False),
    ("windowNforeach.pig", "nested.data", False),
    ("windowFilter.pig", "filtered.data", False),
    ("windowCount.pig", "marycount.data", False),
    ("windowDistinct.pig", "unique.data", False),
    ("windowSort.pig", "sorted.data", True),
    # from the Flink streaming table (FlinksCompileIt.scala:36) — the
    # only extra active script not in the sparks table
    ("windowCross.pig", "crossed.data", False),
]


def collect_output(outdir: pathlib.Path) -> list[str]:
    return [line
            for f in sorted(outdir.glob("part-*"))
            for line in f.read_text().splitlines()]


@needs_reference
@pytest.mark.parametrize("script,truth,in_order",
                         SCRIPTS, ids=[s[0] for s in SCRIPTS])
def test_reference_script(spark, tmp_path, script, truth, in_order):
    src = (REF / script).read_text()
    out = tmp_path / "out"
    eng = pg.PigEngine(spark, params={"inbase": str(REF),
                                      "outfile": str(out)})
    eng.run(src)
    got = collect_output(out)
    expected = (REF / "truth" / truth).read_text().splitlines()
    expected = [l for l in expected if l.strip() != ""]
    got = [l for l in got if l.strip() != ""]
    if in_order:
        assert got == expected
    else:
        assert sorted(got) == sorted(expected)


def test_jdbc_storage_roundtrip(spark, tmp_path):
    """jdbc.pig conformance (ref src/it/resources/jdbc.pig +
    truth/jdbc-data.data): LOAD ... USING JdbcStorage(driver, url)
    AS (col1:int, col2:chararray); STORE. The reference uses the H2
    driver; this container has no H2 jar, so the same flow runs on
    Derby (embedded, pure-Java, ships inside Spark's own jars) with
    the truth file's exact table content. A no-USING STORE is
    comma-delimited (sources/storage.py ``store``), so the expected
    lines follow from ``rows``; where the reference tree exists, its
    truth file must hold the same lines."""
    url = f"jdbc:derby:{tmp_path}/jdbcdb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    rows = [(1, "One"), (2, "Two"), (3, "Three"),
            (4, "Four"), (5, "Five"), (6, "Six")]
    (spark.createDataFrame(rows, ["col1", "col2"])
     .write.format("jdbc")
     .option("driver", driver).option("url", url)
     .option("dbtable", "data").mode("overwrite").save())
    out = tmp_path / "out"
    eng = pg.PigEngine(spark)
    eng.run(f"""
A = LOAD 'data' USING JdbcStorage('{driver}', '{url}') AS (col1: int, col2:chararray);
STORE A INTO '{out}';
""")
    got = sorted(collect_output(out))
    expected = sorted(f"{c1},{c2}" for c1, c2 in rows)
    assert got == expected
    truth = REF / "truth" / "jdbc-data.data"
    if truth.is_file():
        assert sorted(truth.read_text().splitlines()) == expected
    # the AS schema names must be live (reference Load.scala schema)
    assert eng.df("A").columns == ["col1", "col2"]
