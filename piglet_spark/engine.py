"""Public API: compile & run Pig Latin scripts on PySpark.

Mirrors the reference's three entry points (SURVEY.md §3):
- ``run(spark, script)`` — the CLI/batch path (Piglet.scala:108-345),
  collapsed to parse → rewrite → DataFrame construction (no codegen).
- ``PigEngine`` — library API (ref api/PigletInterpreterAPI.scala).
- ``piglet_spark.cli`` / ``repl`` — interactive entry points.
"""

from __future__ import annotations

import hashlib
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from .operators.executor import Executor, GroupedRelation, Relation
from .plans import parser as P
from .plans import rewrite as R


class PigEngine:
    def __init__(self, spark: SparkSession,
                 params: Optional[dict[str, str]] = None,
                 options: Optional[dict[str, Any]] = None,
                 base_dir: str = "."):
        self.spark = spark
        self.params = params or {}
        self.base_dir = base_dir  # IMPORT resolution root
        self.executor = Executor(spark, options=options)
        # Pig is a null-on-error language: division/modulo by zero and
        # invalid casts produce null (with a counter warning), they
        # don't kill the job — Apache Pig's Divide/Mod physical
        # operators return null for a zero divisor and its casts
        # return null on unparseable input.  Spark 4 defaults
        # spark.sql.ansi.enabled=true (throw), so pin it off for the
        # session unless the caller opts out with options
        # {'piglet.ansi': True} (found by the r06 differential
        # expression fuzzer, tests/test_fuzz_exprs.py).
        if not (options or {}).get("piglet.ansi"):
            try:
                spark.conf.set("spark.sql.ansi.enabled", "false")
            except Exception:  # read-only conf (e.g. Connect) — keep going
                pass

    def parse(self, script: str):
        script = P.resolve_imports(script, self.base_dir)
        ops = P.parse(script, self.params)
        return R.rewrite(ops)

    def parse_raw(self, script: str):
        """Parse WITHOUT the rewrite pass — the pre-rewrite plan the
        REPL's `rewrite` command diffs against (ref handleRewrite
        prints each sink pretty-printed before and after rewriting,
        PigletREPL.scala:227-235)."""
        script = P.resolve_imports(script, self.base_dir)
        return P.parse(script, self.params)

    def run(self, script: str,
            _ops: Optional[list] = None) -> dict[str, Relation]:
        """Execute a script; returns the alias → DataFrame environment.
        Sinks (STORE/DUMP) run eagerly; everything else stays lazy.

        With ``options["profiling"]`` set (True or a settings dict),
        the profiler-driven auto-materialization subsystem
        (:mod:`piglet_spark.mm`, ref mm/MaterializationManager.scala)
        is active: cached intermediate results from previous runs are
        spliced in as parquet loads while the plan is built, and after
        execution this run's operators are profiled and the
        highest-benefit point is materialized for future runs.

        ``_ops`` lets run_all pass the plans it already parsed for its
        signature pre-pass instead of parsing every script twice."""
        ops = self.parse(script) if _ops is None else _ops
        self.executor.script_hash = hashlib.md5(script.encode()).hexdigest()
        counts = R.consumer_counts(ops)
        if self.executor.options.get("auto_cache"):
            # persist shared subplans — aliases consumed by 2+
            # downstream operators — so the DAG fan-out doesn't
            # recompute them per consumer
            self.executor.shared_aliases = {
                a for a, n in counts.items() if n >= 2}
        elif self.executor.options.get("auto_cache") is not False:
            # default (r10): shared REDUCTION-POINT subplans (aggregate/
            # distinct outputs with 2+ consumers) over enough input
            # bytes are pinned with a non-eager localCheckpoint so each
            # consumer reads the materialized partitions instead of
            # re-running the whole subtree (guide §2.4 — the Q2/Q21
            # shapes re-executed a grouped join 3-4×; ckpt_ab.py
            # measured 1.43×/1.15× at sf1 on q21/q15). The input-size
            # gate keeps small inputs lazy, where the recompute is
            # cheaper than the materialization barrier; Executor.df
            # applies it (datapipe.util.SHARED_CKPT_MIN_BYTES).
            # localCheckpoint — unlike persist — leaves the session
            # CacheManager alone, so a later identical query never
            # silently reads this run's result. Opt out with
            # options={"auto_cache": False}.
            self.executor.ckpt_aliases = R.checkpoint_candidates(
                ops, counts)
        self.executor.mm_spliced = set()  # fresh per run()
        self.executor.bound_this_run = set()  # scope mm profiling to this run
        self._maybe_init_mm(ops)
        env = self.executor.execute(ops)
        if self.executor.mm is not None:
            # "last"-strategy operand: aliases consumed only by sinks
            # (ref MaterializeLast uses the ops feeding sink nodes,
            # DataflowProfiler.scala:371-380)
            from .plans import ast as A
            # sink-shaped ops beyond the obvious four (r05): Assert
            # rebinds its input in place, Visualize/SocketWrite/Explain
            # only consume — none makes its input non-terminal
            nonsink = R.consumer_counts(
                [o for o in ops
                 if not isinstance(o, (A.Store, A.Dump, A.Display,
                                       A.Describe, A.Assert,
                                       A.Visualize, A.SocketWrite,
                                       A.Explain))])
            self.executor.terminal_aliases = {
                a for a in self.executor.lineage
                if nonsink.get(a, 0) == 0}
            self.executor.mm.profile_and_insert(
                self.executor, self.executor.mm_spliced,
                run_aliases=self.executor.bound_this_run)
        return env

    def _maybe_init_mm(self, ops) -> None:
        """Instantiate the auto-materialization manager if profiling is
        requested via options OR in-script SETs. `SET piglet.profiling
        true;` / `SET piglet.materialization_dir '…';` enable it from
        the script itself — pre-scanned BEFORE execution so cached
        results splice in on this very run (the reference enables
        profiling via CLI only; this is the DSL-native surface)."""
        if self.executor.mm is not None:
            return
        prof_opt = self.executor.options.get("profiling")
        from .plans import ast as A
        set_vals = {o.key: o.value for o in ops
                    if isinstance(o, A.SetCmd)}
        if not prof_opt and str(set_vals.get(
                "piglet.profiling", "")).lower() in ("true", "1", "on"):
            prof_opt = True
        if prof_opt:
            from . import mm as _mm
            base = (set_vals.get("piglet.materialization_dir")
                    or self.executor.options.get(
                        "materialization_dir", "/tmp/piglet_mat"))
            self.executor.mm = _mm.MaterializationManager(
                str(base), _mm.ProfilerSettings.from_options(prof_opt))

    def run_all(self, scripts: list[str]) -> list[dict[str, Relation]]:
        """Multi-script shared-subplan execution — the reference's
        PlanMerger path (PlanMerger.scala:11-114, invoked when the CLI
        gets several script files, Piglet.scala:222). A signature pre-pass
        over every script finds operators whose full lineage chain is
        identical across 2+ scripts; the first script to bind such a
        signature persists the DataFrame and later scripts splice the
        persisted result in, so the common prefix executes once per
        session (in-memory — no parquet round-trip, unlike the
        cross-run mm cache)."""
        from .operators.executor import simulate_signatures
        parsed = [self.parse(s) for s in scripts]
        # mm must exist BEFORE the signature pre-pass: with profiling
        # on and check_inputs (default since r05), execution folds
        # input-file state into LOAD signatures — a pre-pass computed
        # without load_stat would never match an executed signature
        # and the shared prefix would silently not be shared (caught
        # by test_run_all_with_profiling_enabled when the default
        # flipped)
        for ops in parsed:
            self._maybe_init_mm(ops)
        load_stat = (self.executor.mm is not None
                     and self.executor.mm.settings.check_inputs)
        # ONE lineage dict threaded across scripts in execution order,
        # seeded with anything already bound on this executor: the
        # Executor's lineage accumulates across run() calls, and a
        # SqlStmt signature folds in every referenced alias it can
        # see, so a per-script fresh dict could compute pre-pass sigs
        # that never match execution (silently missing the share)
        sim_lineage = dict(self.executor.lineage)
        per_script = [simulate_signatures(ops, load_stat=load_stat,
                                          lineage=sim_lineage)
                      for ops in parsed]
        seen: dict[str, int] = {}
        for records in per_script:
            for sig in {s for s, spliceable, _ in records if spliceable}:
                seen[sig] = seen.get(sig, 0) + 1
        shared = {s for s, n in seen.items() if n >= 2}
        # Persist only the FRONTIER of each shared prefix — shared ops
        # with at least one consumer outside the shared set (a script's
        # distinct tail, or a sink). Interior shared nodes are never
        # executed by later scripts (their downstream frontier splices
        # from the cache), so caching them would only burn memory.
        consumed_by_nonshared: set[str] = set()
        for records in per_script:
            for sig, spliceable, in_sigs in records:
                if not (spliceable and sig in shared):
                    consumed_by_nonshared.update(in_sigs)
        self.executor.share_sigs.update(shared & consumed_by_nonshared)
        return [self.run(s, _ops=ops)
                for s, ops in zip(scripts, parsed)]

    def to_code(self, script: str) -> str:
        """Equivalent runnable PySpark source for a script — the
        reference's generated-code surface for Zeppelin
        (api/PigletInterpreterAPI.createCodeFromInput,
        api/PigletInterpreterAPI.scala:30-49). Covers the classic
        relational core; raises CodegenUnsupported (naming the
        operator) outside it. A debugging companion to run(): exec the
        string, or diff it against what the engine does."""
        from . import codegen
        return codegen.to_code(self.parse(script))

    def clear_session_cache(self) -> None:
        """Unpersist DataFrames cached by run_all's shared-subplan
        execution and forget the shared signatures."""
        for df in self.executor.session_cache.values():
            try:
                df.unpersist()
            except Exception:
                pass
        self.executor.session_cache.clear()
        self.executor.share_sigs.clear()

    def df(self, alias: str) -> DataFrame:
        """Materialized DataFrame for an alias (GroupedRelations are
        realized as (group, bag))."""
        return self.executor.df(alias)

    def register_function(self, name: str, fn) -> None:
        """Register a Column-builder (fn(*cols) -> Column) as a UDF."""
        self.executor.udfs[name] = fn

    def register_operator(self, name: str, fn) -> None:
        """Register a STREAM THROUGH operator (fn(df, *params) -> df)."""
        self.executor.stream_ops[name] = fn

    @property
    def stream_queries(self):
        """Active StreamingQuery handles started by STORE/SOCKET_WRITE
        on streaming relations."""
        return self.executor.stream_queries

    def stop_streams(self) -> None:
        for q in self.executor.stream_queries:
            try:
                q.stop()
            except Exception:
                pass
        self.executor.stream_queries.clear()
        # end THIS engine's ZMQ SUB pump threads and remove their spool
        # dirs — another engine's live pumps in the same process are
        # untouched (module-level stop_zmq_pumps() stops all)
        from .streaming import stream_exec as _se
        _se.stop_pumps(self.executor.zmq_pumps)


def run(spark: SparkSession, script: str,
        params: Optional[dict[str, str]] = None,
        options: Optional[dict[str, Any]] = None) -> dict[str, Relation]:
    return PigEngine(spark, params, options).run(script)


def run_query(spark: SparkSession, script: str, result: str,
              params: Optional[dict[str, str]] = None) -> DataFrame:
    """Run a script and return one alias as a DataFrame."""
    eng = PigEngine(spark, params)
    eng.run(script)
    return eng.df(result)
