"""Codegen-vs-engine conformance sweep (r05): for every reference
integration script, `PigEngine.to_code` must either (a) emit PySpark
source that executes and reproduces the reference truth file, or
(b) raise CodegenUnsupported with the documented reason. The explicit
lists below pin the supported subset — widening codegen (or a
regression) forces an update here, so the generated-code surface
can't silently rot as the engine evolves
(ref api/PigletInterpreterAPI.createCodeFromInput)."""

import pathlib

import pytest

import piglet_spark as pg
from piglet_spark.codegen import CodegenUnsupported

from .test_reference_conformance import (REF, SCRIPTS, collect_output,
                                         needs_reference)

# scripts whose generated code runs AND matches the reference truth
CODEGEN_SUPPORTED = {
    "load2.pig",
    "selfjoin.pig",
    "selfjoin_ambiguous_fieldnames.pig",
    "selfjoin_filtered.pig",
    "sort.pig",
    "sort_multiple_directions.pig",
    "filter.pig",
    "foreach1.pig",
    "wordcount.pig",
    "union.pig",
    "aggregate.pig",
    "sampling.pig",
    "top_schema.pig",
    "two_joins.pig",
    "macro1.pig",  # r05: keyword-alias mangling (`in` → `_in`)
    # r05 widening: schemaless LOAD, GROUP-result STORE (Pig bag
    # format via the emitted _pig_store helper), TOKENIZE bags,
    # tuple/bag/map constructors, n-ary CROSS, key-deref under GROUP
    "load.pig",
    "load3.pig",
    "top.pig",
    "stream_load.pig",
    "grouping.pig",
    "grouping2.pig",
    "groupall.pig",
    "bag.pig",
    "construct.pig",
    "cross.pig",
    "crossmany.pig",
    # r05b: nested FOREACH DISTINCT fused to count_distinct; global
    # ACCUMULATE as df.agg()
    "nforeach.pig",
    "accumulate.pig",
    # r06 widening: PigStream == PigStorage in batch; spatial/matrix/
    # BGP emit against the runtime library (the sparklib-jar analogue)
    "splitInto.pig",
    "stream_load2.pig",
    "stream_foreach1.pig",
    "stream_filter.pig",
    "simple_matrix.pig",
    "spatialfilter.pig",
    "spatialfilterwithindex.pig",
    "spatialjoin.pig",
    "spatialjoinwithindex.pig",
    "bgpfilter.pig",
    "rdf_starjoin_plain.pig",
    "rdf_pathjoin_plain.pig",
    # r06b: RDFLOAD emitter; grouped `GENERATE *` → (group, bag);
    # nested FILTER bags fused to agg(when(pred, x))
    "groupforeach.pig",
    "nforeach2.pig",
    # r06c: embedded `<% %>` code inlined into the generated module
    "embedded.pig",
    # r07: WINDOW RANGE over bounded input collapses to one
    # arrival-time window (engine batch parity) — the 8 window
    # scripts now round-trip; ROWS windows stay unsupported
    "windowJoin.pig",
    "windowGrouping.pig",
    "windowNforeach.pig",
    "windowFilter.pig",
    "windowDistinct.pig",
    "windowSort.pig",
    "windowCross.pig",
    "windowCount.pig",
}

# script → substring of the CodegenUnsupported message. Everything in
# the conformance table must appear in exactly one of the two maps.
CODEGEN_UNSUPPORTED = {}


def test_partition_is_exhaustive():
    names = {s[0] for s in SCRIPTS}
    assert CODEGEN_SUPPORTED | set(CODEGEN_UNSUPPORTED) == names
    assert not CODEGEN_SUPPORTED & set(CODEGEN_UNSUPPORTED)


@needs_reference
@pytest.mark.parametrize("script,truth,in_order", SCRIPTS,
                         ids=[s[0] for s in SCRIPTS])
def test_codegen_conformance(spark, tmp_path, script, truth, in_order):
    src = (REF / script).read_text()
    out = tmp_path / "out"
    eng = pg.PigEngine(spark, params={"inbase": str(REF),
                                      "outfile": str(out)})
    if script in CODEGEN_UNSUPPORTED:
        with pytest.raises(CodegenUnsupported) as exc:
            eng.to_code(src)
        assert CODEGEN_UNSUPPORTED[script] in str(exc.value)
        return
    code = eng.to_code(src)
    ns = {"spark": spark}
    exec(compile(code, f"<gen:{script}>", "exec"), ns)
    got = [l for l in collect_output(pathlib.Path(out)) if l.strip()]
    expected = [l for l in (REF / "truth" / truth).read_text().splitlines()
                if l.strip()]
    if in_order:
        assert got == expected
    else:
        assert sorted(got) == sorted(expected)
