"""Execute a Pig dataflow plan by building DataFrames directly.

This replaces the reference's entire codegen/compile/submit pipeline
(codegen/PigletCompiler.scala:95-176, tools/ScalaCompiler.scala,
backends' Runner classes): operators construct lazy DataFrame
expressions; Catalyst + Tungsten pick the physical plan; sinks
(STORE/DUMP) trigger actions.

Scale-critical design decisions:
- GROUP BY is *lazy* (``GroupedRelation``): a FOREACH that only
  aggregates fuses into ``groupBy().agg()`` — partial aggregation,
  no bag materialization (ref materializes Iterables,
  GroupingEmitter.scala:11-20; we only do that when the script truly
  keeps the bag).
- Joins/aggregations stay declarative so AQE can re-plan (broadcast,
  skew-join) at runtime.
- ZIP WITH INDEX is distributed (per-partition offsets + broadcast
  join), not a single-partition window.
"""

from __future__ import annotations

import dataclasses
import hashlib
import re
import sys
from typing import Any, Callable, Optional, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from ..datapipe import util as dp_util
from ..plans import ast as A
from ..plans import schema as S
from ..plans.exprs import Ctx, compile_expr, static_dtype
from ..plans import exprs as E
from ..sources import storage


class ExecError(Exception):
    pass


def _is_internal_col(name: str) -> bool:
    """Engine bookkeeping columns (``__``-prefixed, possibly behind a
    ``::`` lineage prefix after a join)."""
    return name.split("::")[-1].startswith("__")


def _strip_internal(df: DataFrame) -> DataFrame:
    """Remove bookkeeping columns from user-visible output: internal
    ``__``-prefixed columns only. Engine-generated columns (e.g. the
    ``__window`` identity struct, ``__event_time``) all use the prefix
    so user data with coincidental names ('window', …) is never
    dropped."""
    drops = [c for c in df.columns if _is_internal_col(c)]
    return df.drop(*drops) if drops else df


# ------------------------------------------------------------- relations

class GroupedRelation:
    """Lazy GROUP BY result: (group, bag) schema only materialized on
    demand (ref op/Grouping.scala:89-109)."""

    def __init__(self, src: DataFrame, key_exprs: list[A.Expr],
                 rel_name: str, udfs: dict[str, Callable],
                 window_spec=None):
        self.src = src
        self.key_exprs = key_exprs
        self.rel_name = rel_name
        self.udfs = udfs
        # streaming WINDOW upstream → F.window() joins the grouping keys
        self.window_spec = window_spec

    def key_cols(self) -> list[tuple[str, Column]]:
        ctx = Ctx(self.src, mode="row", udfs=self.udfs)
        out = []
        for i, k in enumerate(self.key_exprs):
            col = compile_expr(k, ctx)
            if isinstance(k, A.NamedField):
                name = S.base_name(k.name)
            elif isinstance(k, A.PositionalField):
                name = S.base_name(S.positional(self.src.columns, k.pos))
            else:
                name = f"k{i}"
            out.append((name, col))
        return out

    def bag_col(self) -> Column:
        # engine bookkeeping (e.g. __event_time from arrival-time
        # windows) never enters user-visible bags
        cols = [c for c in self.src.columns if not _is_internal_col(c)]
        return F.collect_list(F.struct(*[self.src[c] for c in cols]))

    def window_cols(self) -> list[Column]:
        if self.window_spec is None:
            return []
        # __-prefixed: window identity is engine bookkeeping (the
        # reference's WindowApply flattens per-window results back to
        # a plain stream), stripped from user-visible output
        return [self.window_spec.window_col().alias("__window")]

    def grouping(self, src: DataFrame, gb: list[Column]):
        """The grouping construct the fused FOREACH aggregates over —
        CubedRelation swaps in cube()/rollup()."""
        return src.groupBy(*gb)

    def materialize(self) -> DataFrame:
        keys = self.key_cols()
        wcols = self.window_cols()
        bag = self.bag_col().alias(self.rel_name)
        if not keys:
            if wcols:
                return self.src.groupBy(*wcols).agg(bag)
            return self.src.groupBy(F.lit("all").alias("group")).agg(bag)
        if len(keys) == 1:
            name, col = keys[0]
            return self.src.groupBy(*wcols, col.alias("group")).agg(bag)
        gstruct = F.struct(*[c.alias(n) for n, c in keys]).alias("group")
        return self.src.groupBy(*wcols, gstruct).agg(bag)


class CubedRelation(GroupedRelation):
    """Lazy CUBE/ROLLUP result (classic Pig `CUBE A BY CUBE(...)`; not
    in the reference grammar). Rolled-up dimensions are NULL in the
    group, like Pig and SQL. Same fusion contract as GROUP: an
    aggregate-only FOREACH compiles straight to ``df.cube()/rollup()
    .agg()`` (partial aggregation, no bags); bags only materialize
    when kept."""

    def __init__(self, src: DataFrame, key_exprs: list[A.Expr],
                 rel_name: str, udfs: dict[str, Callable],
                 rollup: bool = False):
        super().__init__(src, key_exprs, rel_name, udfs)
        self.rollup = rollup

    def grouping(self, src: DataFrame, gb: list[Column]):
        return src.rollup(*gb) if self.rollup else src.cube(*gb)

    def materialize(self) -> DataFrame:
        keys = self.key_cols()
        bag = self.bag_col().alias(self.rel_name)
        # cube over the individual key columns (a struct key would
        # defeat per-dimension rollup), struct assembled afterwards
        out = self.grouping(self.src,
                            [c.alias(n) for n, c in keys]).agg(bag)
        if len(keys) == 1:
            return out.withColumnRenamed(keys[0][0], "group")
        gstruct = F.struct(*[F.col(n) for n, _ in keys]).alias("group")
        return out.select(gstruct, F.col(self.rel_name))


class CoGroupedRelation:
    """Lazy COGROUP result (ref op/cmd/CoGroup.scala:7).

    Like GROUP, the (group, bagA, bagB, …) shape only materializes when
    a consumer truly needs the bags; a FOREACH that merely aggregates
    them fuses to per-side ``groupBy().agg()`` + full-outer join on the
    key — partial aggregation on both sides, no ``collect_list``, so a
    hot key costs agg state instead of an in-memory array (the 100 TB
    path; see _foreach_cogroup_fused)."""

    def __init__(self, sides: list[tuple[str, DataFrame, list[A.Expr]]],
                 udfs: dict[str, Callable]):
        self.sides = sides  # (rel_name, df, key_exprs) per input
        self.udfs = udfs

    def grouped(self) -> list[GroupedRelation]:
        return [GroupedRelation(df, keys, rel, self.udfs)
                for rel, df, keys in self.sides]

    def materialize(self) -> DataFrame:
        parts = [g.materialize() for g in self.grouped()]
        rels = [rel for rel, _, _ in self.sides]
        out = parts[0]
        elem_types = {rels[0]: out.schema[rels[0]].dataType}
        for rel, p in zip(rels[1:], parts[1:]):
            elem_types[rel] = p.schema[rel].dataType
            out = out.join(p, on="group", how="full")
        # normalize missing bags to empty arrays
        sel = [F.col("group")]
        for rel in rels:
            sel.append(F.coalesce(F.col(rel),
                                  F.array().cast(elem_types[rel]))
                       .alias(rel))
        return out.select(*sel)


Relation = Union[DataFrame, GroupedRelation, CoGroupedRelation]


class NestedBag:
    """Intermediate alias in a nested FOREACH:
    ``X = DISTINCT A.sym; ... COUNT(X)`` — fused to the cheapest
    aggregate Spark offers (countDistinct beats
    size(array_distinct(collect_list)))."""

    def __init__(self, proj: Optional[str], whole_cols: Optional[list[str]],
                 ops: list[tuple], src: DataFrame):
        self.proj = proj          # projected column name, or None = whole tuple
        self.whole_cols = whole_cols
        self.ops = ops            # [("distinct",) | ("filter", pred) |
                                  #  ("order", specs) | ("limit", n)]
        self.src = src

    def _elem(self) -> Column:
        if self.proj is not None:
            return self.src[self.proj]
        return F.struct(*[self.src[c] for c in self.whole_cols])

    def as_column(self, ctx: Ctx) -> Column:
        ops = list(self.ops)
        elem = self._elem()
        if ops and ops[0][0] == "filter":
            # A leading FILTER compiles through the FULL expression
            # compiler over pre-group columns: collect_list skips the
            # nulls when() leaves for false/null predicates — exact
            # Pig FILTER semantics (keep only TRUE), full grammar
            # support, and whole-stage codegen instead of an
            # interpreted array lambda (r06 fuzzer: the lambda
            # mini-compiler lacked IS NULL / bincond / casts).
            elem = F.when(compile_expr(ops[0][1], ctx), elem)
            ops = ops[1:]
        arr = F.collect_list(elem)
        for op in ops:
            if op[0] == "distinct":
                arr = F.array_distinct(arr)
            elif op[0] == "order":
                arr = self._sorted(arr, op[1])
            elif op[0] == "limit":
                arr = F.slice(arr, 1, int(op[1].value))
            elif op[0] == "filter":
                pred = op[1]
                arr = F.filter(arr, lambda x: compile_expr(
                    pred, self._elem_ctx(x, ctx)))
        return arr

    def _elem_ctx(self, x: Column, ctx: Ctx) -> Ctx:
        """Compilation context for a predicate over one bag element
        (lambda variable ``x``): the bag's fields resolve to x's."""
        fields = {self.proj: x} if self.proj is not None \
            else {c: x[c] for c in self.whole_cols}
        return Ctx(self.src, udfs=ctx.udfs, fields=fields)

    def _sorted(self, arr: Column, specs) -> Column:
        """Honor ORDER BY field/direction via an array_sort comparator
        (natural sort only when no spec says otherwise)."""
        if not specs:
            return F.array_sort(arr)

        def field_of(elem: Column, sp) -> Column:
            f = sp.field
            if self.proj is not None:
                return elem  # scalar projection: the element itself
            if isinstance(f, A.PositionalField):
                return elem[self.whole_cols[f.pos]]
            return elem[f.name]

        def comparator(left: Column, right: Column) -> Column:
            result = F.lit(0)
            for sp in reversed(specs):
                lf, rf = field_of(left, sp), field_of(right, sp)
                lt, gt = (-1, 1) if sp.asc else (1, -1)
                # Pig: null is the smallest value (matches the
                # engine's top-level ORDER BY null placement); a bare
                # lf<rf comparison yields NULL for null operands and
                # would fall through to "equal"
                result = (F.when(lf.isNull() & rf.isNull(), result)
                           .when(lf.isNull(), F.lit(lt))
                           .when(rf.isNull(), F.lit(gt))
                           .when(lf < rf, F.lit(lt))
                           .when(lf > rf, F.lit(gt))
                           .otherwise(result))
            return result

        if self.proj is not None and all(sp.asc for sp in specs):
            return F.array_sort(arr)
        return F.array_sort(arr, comparator)

    def project(self, fname, ctx: Ctx) -> Column:
        arr = self.as_column(ctx)
        return F.transform(arr, lambda x: x[fname])

    # Aggregates where agg(when(pred, x)) over pre-group columns is
    # exactly agg over the filtered materialized bag (all null-skip,
    # and the engine's bags never hold null scalars — collect_list
    # drops them). median is excluded: its fused form collects the
    # values anyway.
    _FILTER_FUSABLE = frozenset(
        ["count", "count_star", "sum", "avg", "min", "max",
         "isempty", "nonempty", "var", "stddev", "approx_distinct"])

    def filter_pred(self, ctx: Ctx,
                    ops: Optional[list[tuple]] = None) -> Optional[Column]:
        """If this bag is exactly one FILTER over the group's rows,
        the compiled predicate — callers fuse ``agg(when(pred, x))``
        into Catalyst partial aggregation (map-side combine, no
        per-group array; the 100 TB path for nested FILTER+agg)."""
        ops = self.ops if ops is None else ops
        if len(ops) == 1 and ops[0][0] == "filter":
            return compile_expr(ops[0][1], ctx)
        return None

    def aggregate(self, name: str, ctx: Ctx) -> Column:
        simple_distinct = self.ops == [("distinct",)] and self.proj is not None
        col = self.src[self.proj] if self.proj is not None else None
        if (self.proj is not None and len(self.ops) == 2
                and self.ops[0][0] == "filter"
                and self.ops[1] == ("distinct",)
                and name in ("count", "count_star")):
            # COUNT(DISTINCT x WHERE pred) — fused conditional
            # count_distinct (when() nulls the dropped rows;
            # count_distinct skips nulls, and bags never hold null
            # scalars, so the array form agrees)
            return F.count_distinct(
                F.when(compile_expr(self.ops[0][1], ctx), col))
        ops_eff = self.ops
        if name in ("min", "max") and self.proj is not None:
            # DISTINCT is a no-op under MIN/MAX — strip it so a
            # FILTER+DISTINCT chain still fuses
            ops_eff = [o for o in self.ops if o[0] != "distinct"]
        pred = (self.filter_pred(ctx, ops_eff)
                if name in self._FILTER_FUSABLE else None)
        if pred is not None:
            counted = F.count(F.when(pred, F.lit(1) if col is None else col))
            if name in ("count", "count_star"):
                return counted
            if name == "isempty":
                return counted == 0
            if name == "nonempty":
                return counted > 0
            if col is not None:
                return E.builtins.AGGREGATES[name].fused(F.when(pred, col))
        if simple_distinct:
            if name in ("count", "count_star"):
                return F.count_distinct(col)
            if name == "sum":
                # 0 over an all-null group, like every other SUM
                return F.coalesce(F.sum_distinct(col), F.lit(0))
        if not self.ops and self.proj is not None:
            return E.builtins.AGGREGATES[name].fused(col)
        if name in ("min", "max") and self.proj is not None and all(
                op[0] == "distinct" for op in self.ops):
            return F.min(col) if name == "min" else F.max(col)
        et = self.src.schema[self.proj].dataType \
            if self.proj is not None else None
        return E.builtins.AGGREGATES[name].array(self.as_column(ctx), et)


# ------------------------------------------------------------- executor

def _input_stat(path: str) -> str:
    """(max mtime, total size, file count) of a local file/dir/glob —
    the mutable-input fingerprint for mm check_inputs. Non-local or
    missing paths contribute a constant (no false invalidation)."""
    import glob as _glob
    import os as _os
    files: list[str] = []
    for p in _glob.glob(path) or [path]:
        if _os.path.isdir(p):
            for root, _d, fs in _os.walk(p):
                files.extend(_os.path.join(root, f) for f in fs)
        elif _os.path.isfile(p):
            files.append(p)
    if not files:
        return "input:unknown"
    mt, total = 0.0, 0
    for f in files:
        try:
            st = _os.stat(f)
            mt = max(mt, st.st_mtime)
            total += st.st_size
        except OSError:
            pass
    return f"input:{mt}:{total}:{len(files)}"


def op_signature(op: A.Op, lineage: dict[str, str], *,
                 load_stat: bool = False) -> str:
    """Plan-chain signature of one operator given its inputs' lineage
    (ref PigOperator.lineageSignature:226-239). Pure function of the
    AST + the lineage dict, so plan merging (ref PlanMerger.scala) can
    compute the same signatures the Executor will before running."""
    parts = [type(op).__name__, repr(op)]
    parts.extend(lineage.get(i, i) for i in op.inputs)
    if isinstance(op, A.Load) and load_stat:
        # opt-in stale-input guard (mm ProfilerSettings.check_inputs):
        # file modification state keys the scan's lineage, so cached
        # downstream results invalidate when the input files change —
        # beyond the reference's plan-text-only contract
        parts.append(_input_stat(op.path))
    if isinstance(op, A.SqlStmt):
        # SQL sees the whole alias environment, not a declared input
        # list — fold in the lineage of every alias the query text
        # references so an upstream edit changes this (and every
        # downstream) signature; otherwise a stale auto-materialization
        # could splice in below an edited SQL dependency (r03).
        # Quoted string literals are blanked first (r04): an alias name
        # occurring inside '...' is data, not a table reference, and
        # counting it caused spurious cache invalidation / missed
        # cross-script sharing for otherwise-identical plans
        text = re.sub(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"", " ",
                      op.query)
        # case-INSENSITIVE match (r05): Spark SQL resolves temp views
        # case-insensitively, so 'SELECT * FROM EMP' reads alias emp —
        # a case-sensitive scan would miss the dependency and permit a
        # stale cache splice below an edited upstream
        refs = sorted(a for a in lineage
                      if re.search(rf"\b{re.escape(a)}\b", text,
                                   re.IGNORECASE))
        parts.extend(lineage[a] for a in refs)
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def bind_signatures(op: A.Op, lineage: dict[str, str], sig: str) -> list[str]:
    """Assign per-alias signatures for op's output(s) into `lineage`,
    returning the bound aliases. Multi-output ops (SPLIT INTO) get a
    distinct signature per branch — each branch carries DIFFERENT
    data, so a shared sig would let identical downstream ops on
    different branches collide in the materialization cache and splice
    the wrong branch's data (r03)."""
    outs = [op.out] if op.out else []
    if isinstance(op, A.SplitInto):
        outs = [b.out for b in op.branches]
    if isinstance(op, A.Assert):
        # ASSERT rebinds its input alias in place (no out pipe); the
        # guard must still change the alias's lineage so a MATERIALIZE
        # checkpoint keyed on the pre-ASSERT signature doesn't silently
        # bypass the assertion (r02 review)
        outs = [op.rel]
    if not outs:
        return []
    if len(outs) == 1:
        lineage[outs[0]] = sig
    else:
        for o in outs:
            lineage[o] = hashlib.md5(f"{sig}|{o}".encode()).hexdigest()
    return outs


def simulate_signatures(
        ops: list[A.Op], *, load_stat: bool = False,
        lineage: dict[str, str] | None = None,
) -> list[tuple[str, bool, tuple[str, ...]]]:
    """Pre-execution signature pass over one script's rewritten plan,
    tracking the full lineage chain exactly as the Executor will.
    Returns one record per operator: (signature, spliceable — i.e. a
    single-output transformation eligible for subplan sharing, sigs of
    the inputs it consumes). Used by PigEngine.run_all to find subplans
    shared across scripts and the frontier worth persisting (ref
    PlanMerger.mergePlans, PlanMerger.scala:11-114).

    ``lineage`` lets the caller thread ONE dict across several scripts
    in execution order — required for pre-pass sigs to equal execution
    sigs, because the Executor's lineage accumulates across run()
    calls and a SqlStmt folds in every referenced alias it can see
    (a per-script fresh dict would miss aliases bound by an earlier
    script and compute a different SqlStmt signature than execution
    will, silently defeating the share)."""
    lineage = {} if lineage is None else lineage
    records: list[tuple[str, bool, tuple[str, ...]]] = []
    for op in ops:
        in_sigs = tuple(lineage.get(i, i) for i in op.inputs)
        sig = op_signature(op, lineage, load_stat=load_stat)
        outs = bind_signatures(op, lineage, sig)
        spliceable = (len(outs) == 1 and bool(op.out)
                      and type(op).__name__ in Executor._MM_SPLICEABLE)
        records.append((sig, spliceable, in_sigs))
    return records


# _sim/_mmod/_pk/_parse_vec/_parse_rates moved to
# datapipe/registry.py (shared with generated code)
from ..datapipe.registry import (_parse_rates, _parse_vec,  # noqa: F401
                                 _mmod, _pk, _sim)


_PY2SPARK = {int: "long", float: "double", str: "string", bool: "boolean",
             "int": "long", "float": "double", "str": "string",
             "bool": "boolean"}


class Executor:
    def __init__(self, spark: SparkSession,
                 options: Optional[dict[str, Any]] = None):
        self.spark = spark
        self.env: dict[str, Relation] = {}
        self.udfs: dict[str, Callable] = {}
        self.stream_ops: dict[str, Callable] = {}
        self.options: dict[str, Any] = dict(options or {})
        self.dumped: dict[str, list] = {}
        self.script_hash = ""
        # streaming metadata per alias
        self.window_specs: dict[str, Any] = {}
        self.ts_fields: dict[str, str] = {}
        self.lineage: dict[str, str] = {}  # alias → plan-chain signature
        # profiler-driven auto-materialization (piglet_spark.mm; ref
        # mm/MaterializationManager.scala) — set by PigEngine when the
        # `profiling` option is on
        self.mm = None
        self.mm_spliced: set[str] = set()  # aliases bound to cached parquet
        # aliases whose lineage was (re)bound during the current
        # engine.run() — scopes mm profiling to this run's plan so a
        # re-used engine doesn't re-count previous scripts' signatures
        self.bound_this_run: set[str] = set()
        self.terminal_aliases: set[str] = set()  # consumed by nothing
        # cross-script shared-subplan execution (ref PlanMerger.scala,
        # invoked Piglet.scala:222): PigEngine.run_all pre-computes the
        # signatures appearing in 2+ scripts into share_sigs; the first
        # script to bind such a signature persists it into
        # session_cache and later scripts splice the persisted
        # DataFrame in — the common prefix executes once per session
        self.ckpt_aliases: set[str] = set()
        self.share_sigs: set[str] = set()
        self.session_cache: dict[str, DataFrame] = {}
        self._cached: set[str] = set()
        self._loads: set[str] = set()  # raw-scan aliases (never cached)
        self.stream_queries: list[Any] = []  # active StreamingQuery handles
        self.zmq_pumps: list[Any] = []  # this executor's ZMQ SUB pumps
        # alias → (producing op, {input alias: generation when bound})
        # and alias → rebind counter: lets op_join recognize the
        # JOIN-with-own-aggregate idiom (r10 window rewrite) while
        # generation checks refuse a chain whose alias was redefined
        # between the GROUP and the JOIN
        self.producers: dict[str, tuple] = {}
        self.alias_gen: dict[str, int] = {}
        self._register_datapipe_ops()

    def _register_datapipe_ops(self) -> None:
        """Training-data-pipeline operators usable via
        `B = STREAM A THROUGH <op>(args);` out of the box — the table
        itself lives in datapipe/registry.py, shared with
        `to_code`-generated standalone programs."""
        from ..datapipe.registry import datapipe_ops

        self.stream_ops.update(datapipe_ops())

    # -------------------------------------------------------- helpers

    def df(self, alias: str) -> DataFrame:
        rel = self.rel(alias)
        if isinstance(rel, (GroupedRelation, CoGroupedRelation)):
            df = rel.materialize()
            self.env[alias] = df
            rel = df
        if alias in self.ckpt_aliases and alias not in self._cached:
            # default sharing path (engine.run → checkpoint_candidates):
            # pin a multi-consumer shuffle-bearing subplan with a NON-
            # EAGER localCheckpoint — materialized by the first action,
            # every consumer reads the stored partitions, and (unlike
            # persist) nothing is registered in the CacheManager, so a
            # later identical plan in the same session recomputes.
            # Decided once per alias on the bound plan's input bytes:
            # small inputs stay lazy.
            if (isinstance(rel, DataFrame) and not rel.isStreaming
                    and alias not in self._loads
                    and dp_util.input_bytes(rel)
                    >= dp_util.SHARED_CKPT_MIN_BYTES):
                rel = rel.localCheckpoint(eager=False)
                self.env[alias] = rel
                self._cached.add(alias)
            else:
                self.ckpt_aliases.discard(alias)
        return rel

    def rel(self, alias: str) -> Relation:
        if alias not in self.env:
            raise ExecError(f"unknown alias {alias!r}")
        return self.env[alias]

    def ctx(self, df: DataFrame, **kw) -> Ctx:
        return Ctx(df, udfs=self.udfs, **kw)

    # ---------------------------------------------------------- entry

    def execute(self, ops: list[A.Op]) -> dict[str, Relation]:
        # signature memo keys on op object identity; a re-execute of the
        # same parsed ops after input files changed must re-stat LOADs
        # (check_inputs), so the memo cannot outlive one execute() call
        self._sig_memo = None
        for op in ops:
            self.execute_op(op)
        return self.env

    def execute_op(self, op: A.Op) -> None:
        # a rebound alias is neither pinned nor a raw scan until this
        # op says so (a long-lived engine re-runs scripts that rebind
        # the same aliases); the splices and op_load re-mark it below
        out = getattr(op, "out", None)
        self._cached.discard(out)
        self._loads.discard(out)
        if self.share_sigs and self._try_session_splice(op):
            self._note_rebind(op, spliced=True)
            self._cached.add(op.out)  # already persisted — don't re-persist
            return
        if self.mm is not None and self._try_mm_splice(op):
            self._note_rebind(op, spliced=True)
            return
        meth = getattr(self, "op_" + type(op).__name__.lower(), None)
        if meth is None:
            raise ExecError(f"operator {type(op).__name__} not implemented")
        meth(op)
        self._note_rebind(op)
        self._propagate_stream_meta(op)
        self._update_lineage(op)

    def _note_rebind(self, op: A.Op, spliced: bool = False) -> None:
        """Track alias (re)bindings for the join→window rewrite: bump
        the generation counter and record the producing op with the
        generations of its inputs at bind time. A spliced binding
        (session/mm cache) records no producer — the rewrite must not
        see through a cache splice."""
        out = getattr(op, "out", None)
        if not out:
            return
        self.alias_gen[out] = self.alias_gen.get(out, 0) + 1
        if spliced:
            self.producers.pop(out, None)
        else:
            self.producers[out] = (op, {
                i: self.alias_gen.get(i, 0)
                for i in (getattr(op, "inputs", None) or [])})

    # pure single-output transformations whose cached result may be
    # spliced in from the materialization cache (ref getCandidates'
    # "not sink and not source", MaterializationManager.scala:225, plus
    # the interpreter's own constraint: no executor-side-effect ops and
    # no streaming metadata producers)
    _MM_SPLICEABLE = (
        "Foreach", "Filter", "Group", "CoGroup", "Join", "Cross",
        "Distinct", "Limit", "OrderBy", "Cube", "Rank", "Sample",
        "Union", "Intersection", "Difference", "Accumulate", "Zip",
        "StreamOp", "Tuplify", "BGPFilter", "SpatialFilter",
        "SpatialJoin", "Dedup", "NearDup", "SqlStmt",
    )

    def _try_mm_splice(self, op: A.Op) -> bool:
        """Bind op's output to a cached parquet result when the lineage
        signature hits the materialization cache — the interpreter
        equivalent of replaceWithLoad (MaterializationManager.scala:22-60):
        the ancestor chain stays an unexecuted lazy plan."""
        if (type(op).__name__ not in self._MM_SPLICEABLE
                or not op.out or not op.inputs
                or self.options.get("streaming")):
            return False
        sig = self._op_signature(op)
        cached = self.mm.lookup(self.spark, sig)
        if cached is None:
            return False
        self.env[op.out] = cached
        self.lineage[op.out] = sig
        self.bound_this_run.add(op.out)
        self.mm_spliced.add(op.out)
        self._loads.add(op.out)  # now a raw scan: don't re-persist
        # visible notice: splices key on the plan signature only (the
        # reference's contract) — if the underlying input FILES changed
        # since the cache write this is stale; check_inputs=True folds
        # file state into LOAD signatures and prevents it
        if not self.mm.settings.check_inputs:
            print(f"# mm: alias {op.out!r} spliced from cached result "
                  f"(set check_inputs to invalidate on input-file change)",
                  file=sys.stderr)
        return True

    def _try_session_splice(self, op: A.Op) -> bool:
        """In-session variant of _try_mm_splice for multi-script runs
        (ref PlanMerger parity): bind op's output to the persisted
        DataFrame another script in this run_all already produced for
        the same lineage signature — no parquet round-trip, and the
        shared prefix computes once."""
        if (type(op).__name__ not in self._MM_SPLICEABLE
                or not op.out or not op.inputs
                or self.options.get("streaming")):
            return False
        sig = self._op_signature(op)
        cached = self.session_cache.get(sig)
        if cached is None:
            return False
        self.env[op.out] = cached
        self.lineage[op.out] = sig
        self.bound_this_run.add(op.out)
        return True

    def _maybe_share(self, alias: str) -> None:
        """First binding of a signature that run_all found in 2+
        scripts: persist it so later scripts' splices read the cached
        partitions instead of recomputing the prefix."""
        sig = self.lineage.get(alias)
        if sig not in self.share_sigs or sig in self.session_cache:
            return
        rel = self.env.get(alias)
        if not isinstance(rel, DataFrame) or rel.isStreaming:
            return  # lazy bags materialize per consumer; leave unshared
        if alias not in self._cached:
            rel = rel.persist(StorageLevel.MEMORY_AND_DISK)
            self.env[alias] = rel
            self._cached.add(alias)
        self.session_cache[sig] = rel

    def _op_signature(self, op: A.Op) -> str:
        # memoized per op object: session-splice, mm-splice and
        # _update_lineage all need the same signature within one
        # execute_op call (lineage is unchanged between them), and a
        # SqlStmt signature re-scans the whole query text per call
        memo = getattr(self, "_sig_memo", None)
        if memo is not None and memo[0] is op:
            return memo[1]
        sig = op_signature(
            op, self.lineage,
            load_stat=(self.mm is not None
                       and self.mm.settings.check_inputs))
        self._sig_memo = (op, sig)
        return sig

    def _update_lineage(self, op: A.Op) -> None:
        """Per-alias lineage signature = hash of this operator + its
        inputs' signatures (ref PigOperator.lineageSignature:226-239).
        Keys MATERIALIZE so checkpoints survive unrelated script
        edits."""
        outs = bind_signatures(op, self.lineage, self._op_signature(op))
        self.bound_this_run.update(outs)
        if (len(outs) == 1 and op.out and self.share_sigs
                and type(op).__name__ in self._MM_SPLICEABLE):
            self._maybe_share(op.out)

    def _propagate_stream_meta(self, op: A.Op) -> None:
        """Window/timestamp metadata follows pass-through operators
        (the reference's windowMode marking, WindowSupport.scala:37-120)."""
        if not op.inputs:
            return
        src = op.inputs[0]
        outs = [op.out] if op.out else []
        if isinstance(op, A.SplitInto):
            outs = [b.out for b in op.branches]
        if not isinstance(op, (A.Filter, A.Distinct, A.Sample, A.Limit,
                               A.Foreach, A.SplitInto, A.OrderBy, A.Cache)):
            return
        for out in outs:
            rel = self.env.get(out)
            cols = rel.columns if isinstance(rel, DataFrame) else []
            if src in self.ts_fields and out not in self.ts_fields:
                if self.ts_fields[src] in cols:
                    self.ts_fields[out] = self.ts_fields[src]
            if src in self.window_specs and out not in self.window_specs:
                spec = self.window_specs[src]
                # time windows key on spec.ts_col; ROWS windows
                # (ts_col None) key on the precomputed __rowwin column
                # — checking only ts_col silently dropped count-window
                # grouping through FILTER etc. (r02 code review)
                if spec.ts_col is not None:
                    if spec.ts_col in cols:
                        self.window_specs[out] = spec
                elif "__rowwin" in cols:
                    self.window_specs[out] = spec

    # ------------------------------------------------------- sources

    def op_load(self, op: A.Load) -> None:
        if self.options.get("streaming"):
            from ..streaming import stream_exec
            df = stream_exec.stream_load(self.spark, op.path, op.func,
                                         op.func_args, op.schema,
                                         op.timestamp_field)
            self.env[op.out] = df
            self._record_ts(op.out, op.timestamp_field, df)
            self._loads.add(op.out)
            return
        df = storage.load(self.spark, op.path, op.func, op.func_args, op.schema)
        self._loads.add(op.out)
        if op.timestamp_field is not None:
            ctx = self.ctx(df)
            tcol = compile_expr(op.timestamp_field, ctx)
            name = None
            if isinstance(op.timestamp_field, A.NamedField):
                name = E.resolve_named(op.timestamp_field, ctx)
            elif isinstance(op.timestamp_field, A.PositionalField):
                name = S.positional(df.columns, op.timestamp_field.pos)
            if name:
                df = df.withColumn(name, tcol.cast("timestamp"))
                self.ts_fields[op.out] = name
        self.env[op.out] = df

    def _record_ts(self, alias: str, ts_field, df: DataFrame) -> None:
        if ts_field is None:
            return
        if isinstance(ts_field, A.PositionalField):
            self.ts_fields[alias] = df.columns[ts_field.pos]
        elif isinstance(ts_field, A.NamedField):
            self.ts_fields[alias] = ts_field.name

    def op_store(self, op: A.Store) -> None:
        df = _strip_internal(self.df(op.rel))
        if df.isStreaming:
            from ..streaming import stream_exec
            q = stream_exec.stream_store(df, op.path, op.func, op.func_args,
                                         self.options)
            self.stream_queries.append(q)
            return
        storage.store(df, op.path, op.func, op.func_args)

    def op_dump(self, op: A.Dump) -> None:
        df = _strip_internal(self.df(op.rel))
        rows = storage.pig_format_tuple(df).collect()
        lines = [r[0] for r in rows]
        self.dumped[op.rel] = lines
        for line in lines:
            print(line)

    def op_explain(self, op: "A.Explain") -> None:
        """Catalyst plan of an alias (EXPLAIN A; or EXPLAIN A 'cost').
        GroupedRelations materialize first — the plan you inspect is
        the plan that would execute."""
        df = self.df(op.rel)
        if isinstance(df, DataFrame):
            df.explain(op.mode)

    def op_display(self, op: A.Display) -> None:
        _strip_internal(self.df(op.rel)).show(truncate=False)

    def op_describe(self, op: A.Describe) -> None:
        df = self.df(op.rel)
        print(f"{op.rel}: {_pig_schema_str(df.schema)}")

    # ------------------------------------------------------ transform

    def op_foreach(self, op: A.Foreach) -> None:
        rel = self.rel(op.rel)
        if isinstance(rel, GroupedRelation):
            self.env[op.out] = self._foreach_fused(op, rel)
        elif isinstance(rel, CoGroupedRelation):
            fused = self._foreach_cogroup_fused(op, rel)
            self.env[op.out] = fused if fused is not None \
                else self._foreach_rows(op, self.df(op.rel))
        else:
            self.env[op.out] = self._foreach_rows(op, rel)

    def _foreach_rows(self, op: A.Foreach, df: DataFrame) -> DataFrame:
        if op.nested_ops:
            raise ExecError("nested FOREACH requires a grouped input")
        if any(gen.flatten for gen in op.gens) and not df.isStreaming:
            # FLATTEN explodes rows map-side BEFORE any shuffle — on a
            # local scan with fewer splits than cores (sf1 documents
            # arrive as ONE row group) the whole tokenize+explode runs
            # on 1-2 cores. spread() is a metadata-only probe that
            # repartitions only in that case: a no-op at scale, on
            # already-shuffled inputs and below its size gate (sf1 A/B
            # 2.6-2.8 -> 1.9-2.1 s; r11, guide §6).
            df = dp_util.spread(df)
        ctx = self.ctx(df)
        sel: list[Column] = []
        names: list[Optional[str]] = []
        flat_idx: list[int] = []
        gen_meta: list[A.GenExpr] = []
        for gen in op.gens:
            if isinstance(gen.expr, A.Star) and not gen.flatten:
                for c in df.columns:
                    sel.append(df[c])
                    names.append(c)
                    gen_meta.append(gen)
                continue
            col = compile_expr(gen.expr, ctx)
            name = gen.alias or _default_name(gen.expr, df, len(sel))
            if gen.pig_type is not None and not isinstance(gen.pig_type,
                                                           A.TupleDecl):
                col = col.cast(S.pig_to_spark(gen.pig_type))
            if gen.flatten:
                flat_idx.append(len(sel))
            sel.append(col)
            names.append(name)
            gen_meta.append(gen)
        tmp = [c.alias(f"_g{i}") for i, c in enumerate(sel)]
        out = df.select(*tmp)
        return _finalize(out, names, flat_idx, gen_meta)

    def _foreach_fused(self, op: A.Foreach, grel: GroupedRelation) -> DataFrame:
        src = grel.src
        ctx = Ctx(src, mode="fused", bag_name=grel.rel_name, udfs=self.udfs)
        # nested intermediate bags
        for nop in op.nested_ops:
            if isinstance(nop, A.NestedAssign):
                ctx.nested_bags[nop.out] = self._build_nested(nop, grel, ctx)
            else:
                raise ExecError(f"unsupported nested op {nop!r}")

        keys = grel.key_cols()
        key_names = [f"__k{i}" for i in range(len(keys))]
        gb = grel.window_cols() + [c.alias(kn)
                                   for kn, (n, c) in zip(key_names, keys)]

        aggs: list[Column] = []
        post: list[tuple[str, Any]] = []  # (out_name, "key"/"agg"/idx info)
        names: list[str] = []
        flat_idx: list[int] = []
        gen_meta: list[A.GenExpr] = []
        agg_i = 0
        # GENERATE * on a grouped relation expands to (group, bag)
        expanded_gens: list[A.GenExpr] = []
        for gen in op.gens:
            if isinstance(gen.expr, A.Star):
                expanded_gens.append(A.GenExpr(
                    expr=A.NamedField(name="group"), alias=gen.alias))
                expanded_gens.append(A.GenExpr(
                    expr=A.NamedField(name=grel.rel_name)))
            else:
                expanded_gens.append(gen)
        op = dataclasses.replace(op, gens=expanded_gens) \
            if expanded_gens != op.gens else op
        if grel.window_spec is not None:
            # per-window results carry their window identity
            # (internal __ name: stripped at STORE/DUMP)
            post.append(("__window", "key"))
            names.append("__window")
            gen_meta.append(A.GenExpr(expr=A.NamedField(name="__window")))
        key_names_set = {n for n, _ in keys}
        for gen in op.gens:
            e = gen.expr
            name = gen.alias
            # `A.f1` where f1 is the group key → the key itself
            # (ref GeneralRuleset.scala:243-282 lineage simplification)
            if isinstance(e, A.DerefTuple) and \
                    isinstance(e.base, A.NamedField) and \
                    e.base.name == grel.rel_name and \
                    isinstance(e.field, A.NamedField) and \
                    e.field.name in key_names_set:
                if name is None:
                    name = e.field.name
                if len(keys) == 1:
                    e = A.NamedField(name="group")
                else:
                    e = A.DerefTuple(base=A.NamedField(name="group"),
                                     field=A.NamedField(name=e.field.name))
            if _is_group_ref(e):
                if isinstance(e, A.DerefTuple):
                    fname = (e.field.name if isinstance(e.field, A.NamedField)
                             else e.field.pos)
                    if isinstance(fname, int):
                        kn = key_names[fname]
                        dflt = keys[fname][0]
                    else:
                        idx = next(i for i, (n, _) in enumerate(keys)
                                   if n == fname)
                        kn = key_names[idx]
                        dflt = fname
                    post.append((kn, "key"))
                    names.append(name or dflt)
                else:
                    if not keys:
                        post.append(("__all", "key"))
                    elif len(keys) == 1:
                        post.append((key_names[0], "key"))
                    else:
                        post.append(("__gstruct", "key"))
                    names.append(name or "group")
                gen_meta.append(gen)
                if gen.flatten:
                    flat_idx.append(len(names) - 1)
                continue
            col = compile_expr(e, ctx)
            if gen.pig_type is not None and not isinstance(gen.pig_type,
                                                           A.TupleDecl):
                col = col.cast(S.pig_to_spark(gen.pig_type))
            an = f"__a{agg_i}"
            agg_i += 1
            aggs.append(col.alias(an))
            post.append((an, "agg"))
            names.append(name or _default_name(e, src, len(names)))
            gen_meta.append(gen)
            if gen.flatten:
                flat_idx.append(len(names) - 1)

        # GROUP ALL: group on a literal key, NOT a global agg — Pig's
        # groupBy yields zero rows on empty input, a global agg one
        grouped = grel.grouping(src, gb) if gb \
            else src.groupBy(F.lit("all").alias("__k_all"))
        if not aggs:
            # e.g. GENERATE group only
            out = grouped.agg(F.count(F.lit(1)).alias("__cnt"))
        else:
            out = grouped.agg(*aggs)

        sel = []
        for i, (ref, kind) in enumerate(post):
            if ref == "__all":
                sel.append(F.lit("all").alias(f"_g{i}"))
            elif ref == "__gstruct":
                sel.append(F.struct(*[F.col(kn).alias(keys[j][0])
                                      for j, kn in enumerate(key_names)])
                           .alias(f"_g{i}"))
            else:
                sel.append(F.col(ref).alias(f"_g{i}"))
        out = out.select(*sel)
        return _finalize(out, names, flat_idx, gen_meta)

    # value an aggregate takes where its side has no rows for the key
    # (the array form over an empty bag); the others stay NULL there
    _COGROUP_EMPTY = {"count": 0, "count_star": 0, "approx_distinct": 0,
                      "sum": 0, "isempty": True, "nonempty": False}

    def _foreach_cogroup_fused(self, op: A.Foreach,
                               cg: CoGroupedRelation) -> Optional[DataFrame]:
        """FOREACH over COGROUP where every bag use is an aggregate →
        per-side partial aggregation (each aggregate's ``fused`` form)
        + full-outer join on the key.

        Returns None when any generator needs the materialized bags
        (caller falls back). A key absent on one side takes that
        side's empty-bag value (``_COGROUP_EMPTY``): COUNT→0,
        SUM→0 (CommonPigFuncs.scala:38 sums an empty Iterable to 0),
        ISEMPTY→true; MIN/MAX/AVG/MEDIAN→NULL."""
        if op.nested_ops:
            return None
        side_names = {rel for rel, _, _ in cg.sides}
        # per-side aggregate requests: (side, aggname, field|None)
        requests: list[tuple[str, str, Optional[str]]] = []

        def rewrite(e: A.Expr) -> Optional[A.Expr]:
            """Replace fusable aggregate calls with placeholder column
            refs; None ⇒ not fusable."""
            if isinstance(e, A.FuncCall) and E.builtins.is_aggregate(
                    e.name.lower()):
                name = e.name.lower()
                arg = e.args[0] if e.args else None
                if isinstance(arg, A.NamedField) and arg.name in side_names:
                    side, field = arg.name, None
                elif isinstance(arg, A.DerefTuple) and \
                        isinstance(arg.base, A.NamedField) and \
                        arg.base.name in side_names and \
                        isinstance(arg.field, A.NamedField):
                    side, field = arg.base.name, arg.field.name
                else:
                    return None
                if field is None and name not in E.builtins.SIZE_ONLY:
                    return None  # SUM(O) without a field → bag path
                requests.append((side, name, field))
                return A.NamedField(name=f"__cg{len(requests) - 1}")
            if isinstance(e, A.PositionalField):
                # positions refer to the (group, bags…) shape — needs
                # the materialized frame
                return None
            if isinstance(e, (A.NamedField, A.Literal)):
                # bare bag ref outside an aggregate needs the array
                if isinstance(e, A.NamedField) and e.name in side_names:
                    return None
                return e
            kids = {
                A.BinOp: ("left", "right"), A.Neg: ("expr",),
                A.CastExpr: ("expr",), A.Cmp: ("left", "right"),
                A.And: ("left", "right"), A.Or: ("left", "right"),
                A.Not: ("expr",), A.IsNull: ("expr",),
                A.BinCond: ("cond", "then", "els"),
            }.get(type(e))
            if kids is not None:
                repl = {}
                for k in kids:
                    sub = rewrite(getattr(e, k))
                    if sub is None:
                        return None
                    repl[k] = sub
                return dataclasses.replace(e, **repl)
            if isinstance(e, A.FuncCall):  # scalar call
                new_args = []
                for a in e.args:
                    sub = rewrite(a)
                    if sub is None:
                        return None
                    new_args.append(sub)
                return dataclasses.replace(e, args=new_args)
            if isinstance(e, A.DerefTuple):
                # group.key is fine; anything touching a bag is not
                base = e.base
                if isinstance(base, A.NamedField) and base.name == "group":
                    return e
                return None
            return None

        new_gens: list[A.GenExpr] = []
        for gi, gen in enumerate(op.gens):
            if gen.flatten or isinstance(gen.expr, A.Star):
                return None
            ne = rewrite(gen.expr)
            if ne is None:
                return None
            # name from the ORIGINAL expr — the placeholder would
            # yield an internal __cg name and be stripped at output
            alias = gen.alias or _default_name(gen.expr, None, gi)
            new_gens.append(dataclasses.replace(gen, expr=ne, alias=alias))

        # per-side groupBy().agg() with only the requested aggregates
        by_side: dict[str, list[tuple[int, str, Optional[str]]]] = {}
        for i, (side, name, field) in enumerate(requests):
            by_side.setdefault(side, []).append((i, name, field))
        parts: list[DataFrame] = []
        for grel in cg.grouped():
            # every side contributes its keys — the cogroup key set is
            # the union over ALL inputs, so a side without requested
            # aggregates still joins its distinct keys (else groups
            # that exist only there vanish, e.g. zero-order customers
            # in a COUNT(orders) distribution)
            wanted = by_side.get(grel.rel_name, [])
            aggs = [F.count(F.lit(1)).alias(f"__side_{grel.rel_name}")] \
                if not wanted else []
            for i, name, field in wanted:
                args = [] if field is None else [grel.src[
                    S.resolve_column(grel.src.columns, field)]]
                aggs.append(E.builtins.AGGREGATES[name].fused(*args)
                            .alias(f"__cg{i}"))
            keys = grel.key_cols()
            if len(keys) == 1:
                gb = [keys[0][1].alias("group")]
            else:
                gb = [F.struct(*[c.alias(n) for n, c in keys])
                      .alias("group")]
            parts.append(grel.src.groupBy(*gb).agg(*aggs))
        if not parts:
            return None
        joined = parts[0]
        for p in parts[1:]:
            joined = joined.join(p, on="group", how="full")

        # empty-side normalization, matching the bag path's values
        fixed = []
        for i, (side, name, field) in enumerate(requests):
            c = F.col(f"__cg{i}")
            if name in self._COGROUP_EMPTY:
                c = F.coalesce(c, F.lit(self._COGROUP_EMPTY[name]))
            fixed.append(c.alias(f"__cg{i}"))
        joined = joined.select("group", *fixed)

        # evaluate the rewritten generators over the joined frame
        fop = dataclasses.replace(op, gens=new_gens, nested_ops=[])
        return self._foreach_rows(fop, joined)

    def _build_nested(self, nop: A.NestedAssign, grel: GroupedRelation,
                      ctx: Ctx) -> NestedBag:
        expr = nop.expr
        ops: list[tuple] = []
        # unwrap chained nested ops
        while isinstance(expr, tuple):
            kind = expr[0]
            if kind == "distinct":
                ops.insert(0, ("distinct",))
                expr = expr[1]
            elif kind == "filter":
                ops.insert(0, ("filter", expr[2]))
                expr = expr[1]
            elif kind == "limit":
                ops.insert(0, ("limit", expr[2]))
                expr = expr[1]
            elif kind == "order":
                ops.insert(0, ("order", expr[2]))
                expr = expr[1]
            else:
                raise ExecError(f"unknown nested op {kind}")
        # base: A.col, A, or another nested alias
        if isinstance(expr, A.NamedField):
            if expr.name in ctx.nested_bags:
                base = ctx.nested_bags[expr.name]
                return NestedBag(base.proj, base.whole_cols, base.ops + ops,
                                 base.src)
            if expr.name == grel.rel_name:
                return NestedBag(None, list(grel.src.columns), ops, grel.src)
            # a single source column treated as bag projection
            cname = S.resolve_column(grel.src.columns, expr.name, expr.lineage)
            return NestedBag(cname, None, ops, grel.src)
        if isinstance(expr, A.DerefTuple) and isinstance(expr.base, A.NamedField):
            bname = expr.base.name
            fname = (expr.field.name if isinstance(expr.field, A.NamedField)
                     else S.positional(grel.src.columns, expr.field.pos))
            if bname in ctx.nested_bags:
                base = ctx.nested_bags[bname]
                if base.proj is not None:
                    raise ExecError(
                        f"{bname} is already a projected bag — "
                        f"deref {fname!r} has nothing to project")
                cname = S.resolve_column(base.src.columns, fname)
                return NestedBag(cname, None, base.ops + ops, base.src)
            cname = S.resolve_column(grel.src.columns, fname)
            return NestedBag(cname, None, ops, grel.src)
        raise ExecError(f"unsupported nested assignment {nop!r}")

    def op_filter(self, op: A.Filter) -> None:
        df = self.df(op.rel)
        ctx = self.ctx(df)
        self.env[op.out] = df.filter(compile_expr(op.pred, ctx))

    def op_group(self, op: A.Group) -> None:
        df = self.df(op.rel)
        self.env[op.out] = GroupedRelation(
            df, op.keys, op.rel, self.udfs,
            window_spec=self.window_specs.get(op.rel))

    def op_cube(self, op: A.Cube) -> None:
        df = self.df(op.rel)
        # Pig names the cube bag "cube" (not the input alias)
        self.env[op.out] = CubedRelation(df, op.keys, "cube", self.udfs,
                                         rollup=op.rollup)

    def op_cogroup(self, op: A.CoGroup) -> None:
        sides = [(rel, self.df(rel), keys)
                 for rel, keys in zip(op.rels, op.keys)]
        self.env[op.out] = CoGroupedRelation(sides, self.udfs)

    # ----------------------------------------------------------- joins

    def _lineage_rename(self, df: DataFrame, rel: str) -> DataFrame:
        # toDF: ONE py4j call for the whole rename — per-column alias
        # Columns cost ~35 ms/join of driver round-trips (r10 profile:
        # 0.5 s of a TPC-H 7-join plan build)
        return df.toDF(*[f"{rel}{S.LINEAGE_SEP}{c}" for c in df.columns])

    _UNIT_SECONDS = {"SECONDS": 1, "SECOND": 1, "MINUTES": 60,
                     "MINUTE": 60, "HOURS": 3600, "HOUR": 3600}

    def _windowed_join(self, op: A.Join) -> None:
        """`JOIN A BY k, B BY k WINDOW n SECONDS` — equi-join scoped to
        |ts_A − ts_B| ≤ n (ref op/Join.scala:35 timeWindow +
        WindowSupport rewrite). On streams this is the standard
        Structured-Streaming stream-stream join with a time-range
        condition; watermarks (piglet.watermark option) bound state."""
        if len(op.rels) != 2:
            raise ExecError("windowed JOIN supports exactly two inputs")
        horizon = op.window[0] * self._UNIT_SECONDS[op.window[1]]
        wm = self.options.get("watermark") or self.options.get(
            "piglet.watermark")
        sides = []
        for rel, keys in zip(op.rels, op.keys):
            df = self.df(rel)
            ts = self.ts_fields.get(rel)
            if ts is None:
                raise ExecError(
                    f"windowed JOIN needs TIMESTAMP(...) on input {rel!r}")
            if wm and df.isStreaming:
                df = df.withWatermark(ts, wm)
            renamed = df.select(*[df[c].alias(f"{rel}{S.LINEAGE_SEP}{c}")
                                  for c in df.columns])
            ctx = self.ctx(renamed)
            sides.append((renamed,
                          [compile_expr(k, ctx) for k in keys],
                          renamed[f"{rel}{S.LINEAGE_SEP}{ts}"]))
        (ldf, lkeys, lts), (rdf, rkeys, rts) = sides
        cond = None
        for kl, kr in zip(lkeys, rkeys):
            eq = kl == kr
            cond = eq if cond is None else cond & eq
        rng = (lts >= rts - F.expr(f"INTERVAL {horizon} SECONDS")) & \
              (lts <= rts + F.expr(f"INTERVAL {horizon} SECONDS"))
        cond = rng if cond is None else cond & rng
        self.env[op.out] = ldf.join(rdf, on=cond, how="inner")

    def op_join(self, op: A.Join) -> None:
        if op.window is None and len(op.rels) == 2 and all(
                r in self.window_specs for r in op.rels):
            # JOIN of two WINDOW'd relations is window-scoped (the
            # reference's windowMode rewrite applies the upstream
            # window to the join, windowJoin.pig)
            spec = self.window_specs[op.rels[0]]
            if not isinstance(spec.size, str):
                # RowsWindowSpec.size is an int (count window) — a
                # count-scoped join has no time horizon to rewrite to
                raise ExecError(
                    "JOIN of ROWS-windowed relations is not supported; "
                    "use RANGE windows (time-scoped) for windowed joins")
            secs = int(spec.size.split()[0])
            op = dataclasses.replace(op, window=(secs, "SECONDS"))
        if op.window is not None:
            self._windowed_join(op)
            return
        if len(set(op.rels)) != len(op.rels):
            # same Pig restriction as the reference: self-joins need two
            # aliases of the input (lineage prefixes must be unique)
            raise ExecError(
                "JOIN inputs must be distinct aliases; for a self-join, "
                "load or FOREACH-copy the relation under a second alias")
        if len(op.rels) == 2 and not (op.strategy or "").strip():
            # r10 window rewrite: JOIN A BY k, B BY gk where B is A's
            # own per-k aggregate is exactly a window over A — see
            # _join_group_window
            rewritten = self._join_group_window(op)
            if rewritten is not None:
                self.env[op.out] = rewritten
                return
        dfs = []
        keycols: list[list[Column]] = []
        for rel, keys in zip(op.rels, op.keys):
            df = self._lineage_rename(self.df(rel), rel)
            ctx = self.ctx(df)
            dfs.append(df)
            keycols.append([compile_expr(k, ctx) for k in keys])
        strat = (op.strategy or "").lower().strip()
        if strat.startswith("salted") or strat == "skewed":
            # JOIN … USING 'salted(n)' / 'skewed': deterministic
            # big-side salting + dim replication — the Spark-idiomatic
            # equivalent of classic Pig's sampling skewed join. Use
            # when one key carries a disproportionate share of the
            # left (big) input and AQE skew splitting isn't enough.
            self.env[op.out] = self._salted_join(op, dfs, keycols, strat)
            return
        out = dfs[0]
        for i in range(1, len(dfs)):
            cond = None
            for kl, kr in zip(keycols[0], keycols[i]):
                eq = kl == kr
                cond = eq if cond is None else cond & eq
            right = dfs[i]
            if strat in ("replicated", "repl"):
                # classic Pig fragment-replicate join: every non-first
                # input is map-side (broadcast)
                right = F.broadcast(right)
            elif strat == "merge":
                right = right.hint("MERGE")
            out = out.join(right, on=cond, how="inner")
        self.env[op.out] = out

    # deterministic aggregates whose fused compilation is a single
    # window-able function call; first/last-style and distinct
    # aggregates are excluded (windows reject or reorder them)
    _WINDOWABLE_AGGS = frozenset(
        {"count", "count_star", "sum", "min", "max", "avg"})

    def _join_group_window(self, op: A.Join) -> Optional[DataFrame]:
        """Rewrite `J = JOIN A BY k, B BY gk` where
        `B = FOREACH (GROUP A BY k) GENERATE group [AS gk], aggs…`
        into a WINDOW over A partitioned by k (guide §2.4: two
        operations keyed the same way share one exchange; the join
        formulation re-executes A's whole subtree for the aggregate
        side — TPC-H Q21's sf0.1 plan held 18 parquet scans and 36
        exchanges from three stacked instances of this idiom).

        Exact-equivalence argument: B has one row per group key
        (including a null-key group), but an equi-join never matches
        null keys, so the join (a) keeps each A-row whose key is
        fully non-null exactly once (its group always exists in B)
        and (b) drops null-key rows. The window version filters null
        keys and computes the same deterministic aggregates over the
        same partitions (NaN keys group and join identically in
        Spark). Column names, order and types replicate the join
        output exactly (A::cols… then B::gen-names in FOREACH
        order).

        Conservative gating — returns None (generic join runs)
        unless: the producer chain is literally Foreach(Group(A))
        with no rebind in between (generation counters), no
        nested_ops, no streaming/window metadata, every FOREACH gen
        is either a group-key reference or an aliased whitelisted
        aggregate over the bag (no casts, no flatten), the join keys
        structurally equal the GROUP keys, and the rewritten plan
        ANALYZES (any resolution surprise falls back)."""
        try:
            for agg_side in (1, 0):
                out = self._join_group_window_side(op, agg_side)
                if out is not None:
                    return out
        except Exception:
            return None
        return None

    def _join_group_window_side(self, op: A.Join,
                                agg_side: int) -> Optional[DataFrame]:
        from pyspark.sql.window import Window as _W
        base_side = 1 - agg_side
        b_alias, a_alias = op.rels[agg_side], op.rels[base_side]
        fe = self.producers.get(b_alias)
        if fe is None:
            return None
        f_op, f_snap = fe
        if not isinstance(f_op, A.Foreach) or f_op.nested_ops:
            return None
        ge = self.producers.get(f_op.rel)
        if ge is None:
            return None
        g_op, g_snap = ge
        if not isinstance(g_op, A.Group) or not g_op.keys:
            return None
        if g_op.rel != a_alias:
            return None
        # rebind guards: the Foreach must still see the CURRENT Group
        # binding, and the Group the CURRENT A binding
        if f_snap.get(f_op.rel) != self.alias_gen.get(f_op.rel, 0):
            return None
        if g_snap.get(a_alias) != self.alias_gen.get(a_alias, 0):
            return None
        if any(r in self.window_specs
               for r in (a_alias, b_alias, f_op.rel)):
            return None
        if op.keys[base_side] != g_op.keys:
            return None
        nkeys = len(g_op.keys)
        key_names = [k.name if isinstance(k, A.NamedField) else None
                     for k in g_op.keys]
        # classify B's generate list
        b_cols: list[tuple[str, str, Any]] = []  # (name, kind, payload)
        for gen in f_op.gens:
            if gen.flatten or gen.pig_type is not None:
                return None
            e = gen.expr
            if (isinstance(e, A.DerefTuple)
                    and isinstance(e.base, A.NamedField)
                    and e.base.name == a_alias
                    and isinstance(e.field, A.NamedField)
                    and e.field.name in key_names):
                # `A.f` where f is a group key — the same lineage
                # simplification _foreach_fused applies
                idx = key_names.index(e.field.name)
                b_cols.append((gen.alias or e.field.name, "key", idx))
                continue
            if isinstance(e, A.NamedField) and e.name == "group":
                if nkeys != 1:
                    return None  # whole-struct key output unsupported
                b_cols.append((gen.alias or "group", "key", 0))
                continue
            if (isinstance(e, A.DerefTuple)
                    and isinstance(e.base, A.NamedField)
                    and e.base.name == "group"):
                f = e.field
                if isinstance(f, A.NamedField) and f.name in key_names:
                    idx = key_names.index(f.name)
                    b_cols.append((gen.alias or f.name, "key", idx))
                    continue
                if isinstance(f, A.PositionalField) \
                        and 0 <= f.pos < nkeys:
                    nm = gen.alias or key_names[f.pos]
                    if nm is None:
                        return None
                    b_cols.append((nm, "key", f.pos))
                    continue
                return None
            if isinstance(e, A.FuncCall) \
                    and e.name.lower() in self._WINDOWABLE_AGGS \
                    and gen.alias:
                if len(e.args) > 1:
                    return None
                arg = e.args[0] if e.args else None
                arg_ok = (arg is None or isinstance(arg, A.Star)
                          or (isinstance(arg, A.NamedField)
                              and arg.name == a_alias)
                          or (isinstance(arg, A.DerefTuple)
                              and isinstance(arg.base, A.NamedField)
                              and arg.base.name == a_alias
                              and isinstance(arg.field, (
                                  A.NamedField, A.PositionalField))))
                if not arg_ok:
                    return None
                b_cols.append((gen.alias, "agg", e))
                continue
            return None
        names_seen = [n for n, _, _ in b_cols]
        if len(set(names_seen)) != len(names_seen):
            return None
        # right join keys must name B's key columns in left-key order
        right = op.keys[agg_side]
        if len(right) != nkeys:
            return None
        keymap = {n: p for n, kind, p in b_cols if kind == "key"}
        for i, rk in enumerate(right):
            if not isinstance(rk, A.NamedField) or rk.lineage:
                return None
            if keymap.get(rk.name) != i:
                return None
        dfA = self.df(a_alias)
        if not isinstance(dfA, DataFrame) or dfA.isStreaming:
            return None
        dfA = self._lineage_rename(dfA, a_alias)
        ctxA = self.ctx(dfA)
        kcols = [compile_expr(k, ctxA) for k in g_op.keys]
        w = _W.partitionBy(*kcols)
        fctx = Ctx(dfA, mode="fused", bag_name=a_alias, udfs=self.udfs)
        appended = []
        for nm, kind, payload in b_cols:
            if kind == "key":
                c = kcols[payload]
            else:
                c = compile_expr(payload, fctx).over(w)
            appended.append(c.alias(f"{b_alias}{S.LINEAGE_SEP}{nm}"))
        notnull = kcols[0].isNotNull()
        for k in kcols[1:]:
            notnull = notnull & k.isNotNull()
        out = dfA.filter(notnull).select(
            *[dfA[c] for c in dfA.columns], *appended)
        out.schema  # force analysis — resolution surprises fall back
        return out

    def _salted_join(self, op: A.Join, dfs: list[DataFrame],
                     keycols: list[list[Column]], strat: str) -> DataFrame:
        """Skew-spreading 2-way join: the LEFT (big) side gets a
        row-local deterministic salt in 0..n-1, the right (dim) side
        is replicated n×, and the salt joins as an extra key — a hot
        key's rows land on n reducer partitions instead of one
        straggler. Inner join only (the Pig USING clause's contract);
        result equals the plain join column-for-column. The salt is
        positional (monotonically_increasing_id mod n) — uniform even
        when ALL columns of hot rows are identical, the pathology a
        value-hash salt cannot spread (r02 advice), and safe for
        map-typed columns that F.hash refuses."""
        import re as _re
        m = _re.fullmatch(r"salted\s*\((\d+)\)", strat)
        n_salt = int(m.group(1)) if m else 16
        if len(dfs) != 2:
            raise ExecError(
                "JOIN USING 'salted'/'skewed' supports exactly 2 inputs")
        big = dfs[0].withColumn(
            "__salt_l", F.pmod(F.monotonically_increasing_id(),
                               F.lit(n_salt)).cast("int"))
        dim = (dfs[1]
               .withColumn("__salt_r", F.explode(F.sequence(
                   F.lit(0), F.lit(n_salt - 1))))
               .withColumn("__salt_r", F.col("__salt_r").cast("int")))
        cond = F.col("__salt_l") == F.col("__salt_r")
        for kl, kr in zip(keycols[0], keycols[1]):
            cond = cond & (kl == kr)
        return (big.join(dim, on=cond, how="inner")
                .drop("__salt_l", "__salt_r"))

    def op_cross(self, op: A.Cross) -> None:
        dfs = [self._lineage_rename(self.df(r), r) for r in op.rels]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.crossJoin(d)
        self.env[op.out] = out

    # ------------------------------------------------------- set ops

    def op_assert(self, op: A.Assert) -> None:
        """Classic-Pig ASSERT: guard the alias with a lazy DISTRIBUTED
        row check — any violating row (condition false OR null, Pig
        semantics) raises at execution, inside the scan, with the
        user's message. No driver-side count job: the check rides
        whatever action touches the alias next.

        Semantics note (same as Apache Pig's FILTER-with-throwing-UDF
        implementation): the guard evaluates over the rows the plan
        actually READS — a downstream LIMIT that stops the scan
        early, or datasource pruning that eliminates whole row
        groups, can skip violating rows it never materializes. For a
        guaranteed full-corpus audit, DUMP/STORE/count the asserted
        alias itself."""
        df = self.df(op.rel)
        ctx = self.ctx(df)
        cond = F.coalesce(compile_expr(op.pred, ctx), F.lit(False))
        msg = op.message or f"ASSERT on {op.rel} violated"
        guard = F.when(cond, F.lit(True)).otherwise(
            F.raise_error(F.lit(msg)))
        self.env[op.rel] = df.filter(guard)

    def op_union(self, op: A.Union) -> None:
        dfs = [self.df(r) for r in op.rels]
        if getattr(op, "onschema", False):
            # classic-Pig UNION ONSCHEMA: align by column name,
            # null-fill columns a side lacks (unionByName)
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d, allowMissingColumns=True)
            self.env[op.out] = out
            return
        width = len(dfs[0].columns)
        for rel, d in zip(op.rels[1:], dfs[1:]):
            if len(d.columns) != width:
                raise ExecError(
                    f"UNION: {op.rels[0]!r} has {width} fields but "
                    f"{rel!r} has {len(d.columns)} — Pig unions are "
                    f"positional and need equal arity (or use UNION "
                    f"ONSCHEMA to merge by column name)")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.union(d)  # positional, no dedup (Union.scala:29)
        self.env[op.out] = out

    def op_intersection(self, op: A.Intersection) -> None:
        dfs = [self.df(r) for r in op.rels]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.intersect(d)
        self.env[op.out] = out

    def op_difference(self, op: A.Difference) -> None:
        left, right = self.df(op.rels[0]), self.df(op.rels[1])
        if op.keys:
            lctx, rctx = self.ctx(left), self.ctx(right)
            cond = None
            for kl, kr in zip(op.keys[0], op.keys[1]):
                eq = compile_expr(kl, lctx).eqNullSafe(compile_expr(kr, rctx))
                cond = eq if cond is None else cond & eq
            self.env[op.out] = left.join(right, on=cond, how="left_anti")
        else:
            cond = None
            for lc, rc in zip(left.columns, right.columns):
                eq = left[lc].eqNullSafe(right[rc])
                cond = eq if cond is None else cond & eq
            self.env[op.out] = left.join(right, on=cond, how="left_anti")

    # --------------------------------------------- order/limit/sample

    def op_orderby(self, op: A.OrderBy) -> None:
        df = self.df(op.rel)
        if getattr(op, "skip_sort", False):
            # rewrite.drop_order_before_group: the sort's only
            # consumer is a grouping op — bag order after GROUP is
            # undefined (Pig semantics; ref SparkRuleset.scala:33-47
            # removes the sort too), so skip the range-partition
            # shuffle and pass rows through
            self.env[op.out] = df
            return
        ctx = self.ctx(df)
        if not op.specs:  # ORDER BY *
            cols = [df[c].asc() if op.star_asc else df[c].desc()
                    for c in df.columns]
        else:
            cols = []
            for sp in op.specs:
                c = compile_expr(sp.field, ctx)
                cols.append(c.asc() if sp.asc else c.desc())
        self.env[op.out] = df.orderBy(*cols)

    def op_limit(self, op: A.Limit) -> None:
        df = self.df(op.rel)
        if not isinstance(op.n, A.Literal):
            raise ExecError("LIMIT requires a literal count")
        self.env[op.out] = df.limit(int(op.n.value))

    def op_rank(self, op: A.Rank) -> None:
        """RANK (classic Pig; not in the reference grammar): prepend
        ``rank_<rel>``.

        BY form: range-repartition on the sort key (equal keys
        colocate under RangePartitioner, so per-partition rank() /
        dense_rank() is globally correct), then add broadcast
        cumulative offsets (rows before partition; distinct keys
        before partition for DENSE) — a global total order with no
        single-partition window. No-BY form: 1-based input-order row
        number via the ``_with_index`` offsets machinery."""
        from pyspark.sql.window import Window
        df = self.df(op.rel)
        rank_name = f"rank_{op.rel}"
        if not op.specs:
            out = self._with_index(df).withColumn(
                rank_name, (F.col("index") + 1).cast("long"))
            self.env[op.out] = out.select(rank_name, *df.columns)
            return
        ctx = self.ctx(df)
        keys = [compile_expr(sp.field, ctx) for sp in op.specs]
        order = [k.asc() if sp.asc else k.desc()
                 for k, sp in zip(keys, op.specs)]
        nparts = int(df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
        # localCheckpoint pins the range partitioning: the stats branch
        # and the window branch below consume it as separate subplans,
        # and AQE may coalesce the two copies of the exchange
        # differently — spark_partition_id would then disagree between
        # offset computation and ranking (observed at sf0.1). A global
        # total order needs this materialization barrier anyway
        # (sample → range-partition → count → offset, the TeraSort
        # pattern).
        # pin a wide upstream first: repartitionByRange's range-bounds
        # sampling job would execute it a second time (datapipe.util
        # .pin_if_wide; measured on dsir_resample, SCALE.md r05)
        from ..datapipe.util import cum_offsets, pin_if_wide
        base = (pin_if_wide(df).repartitionByRange(nparts, *order)
                .withColumn("__pid", F.spark_partition_id())
                .localCheckpoint())
        aggs = [F.count(F.lit(1)).alias("__cnt")]
        if op.dense:
            # struct() so an all-NULL key still counts as one group
            aggs.append(F.count_distinct(F.struct(*keys)).alias("__dcnt"))
        stats = base.groupBy("__pid").agg(*aggs)
        offsets = cum_offsets(stats, "__dcnt" if op.dense else "__cnt")
        w = Window.partitionBy("__pid").orderBy(*order)
        ranker = F.dense_rank() if op.dense else F.rank()
        ranked = (base.join(F.broadcast(offsets), on="__pid")
                  .withColumn(rank_name, (ranker.over(w)
                                          + F.col("__off")).cast("long")))
        self.env[op.out] = ranked.select(rank_name, *df.columns)

    def op_sample(self, op: A.Sample) -> None:
        df = self.df(op.rel)
        if not isinstance(op.fraction, A.Literal):
            raise ExecError("SAMPLE requires a literal fraction")
        frac = float(op.fraction.value)
        if op.seed is None:
            self.env[op.out] = df.sample(frac)
            return
        if not isinstance(op.seed, A.Literal):
            raise ExecError("SAMPLE … SEED requires a literal seed")
        # deterministic hash-threshold sample: keep a row iff the
        # first 8 hex digits of md5(seed | row-as-strings) fall below
        # fraction × 2³². Per-row, stateless, map-only — identical
        # membership on any engine with md5 (the repo's portable
        # oracle-parity idiom, cf. datapipe/dedup.py) and independent
        # of partitioning, so cluster re-runs select the same rows
        h = F.conv(F.substring(F.md5(F.concat_ws(
            "|", F.lit(str(op.seed.value)),
            *[F.coalesce(F.col(c).cast("string"), F.lit(""))
              for c in df.columns])), 1, 8), 16, 10).cast("bigint")
        self.env[op.out] = df.filter(h < F.lit(int(frac * 4294967296)))

    def op_distinct(self, op: A.Distinct) -> None:
        self.env[op.out] = self.df(op.rel).distinct()

    def op_splitinto(self, op: A.SplitInto) -> None:
        df = self.df(op.rel)
        ctx = self.ctx(df)
        conds = [(br, compile_expr(br.pred, ctx)
                  if br.pred is not None else None)
                 for br in op.branches]
        for br, cond in conds:  # SPLIT → N filters (GeneralRuleset:99-130)
            if cond is None:
                # OTHERWISE: matches no other branch; null conditions
                # count as non-matching (Pig semantics), hence coalesce
                disj = None
                for _, other in conds:
                    if other is not None:
                        disj = other if disj is None else (disj | other)
                cond = F.lit(True) if disj is None \
                    else ~F.coalesce(disj, F.lit(False))
            self.env[br.out] = df.filter(cond)

    def op_accumulate(self, op: A.Accumulate) -> None:
        df = self.df(op.rel)
        ctx = Ctx(df, mode="fused", bag_name=op.rel, udfs=self.udfs)
        aggs = []
        for i, gen in enumerate(op.gens):
            col = compile_expr(gen.expr, ctx)
            name = gen.alias or _default_name(gen.expr, df, i)
            aggs.append(col.alias(name))
        self.env[op.out] = df.groupBy().agg(*aggs)

    # -------------------------------------------------------------- zip

    def _with_index(self, df: DataFrame) -> DataFrame:
        """Distributed 0-based dense index (no single-partition sort):
        monotonically_increasing_id encodes (partition, row#); add
        per-partition offsets via a broadcast join. The input is
        pinned (pin_if_wide) so the offsets collect and the main job
        see identical partitioning — mid values must agree between
        the two passes."""
        from ..datapipe.util import cum_offsets, pin_if_wide
        mid = F.monotonically_increasing_id()
        df = pin_if_wide(df).withColumn("__mid", mid)
        # exact bit arithmetic — double division loses precision past
        # 2^53 and can truncate to a neighboring partition id
        pid = F.shiftright(F.col("__mid"), 33)
        row_in_part = F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
        df = df.withColumn("__pid", pid).withColumn("__row", row_in_part)
        counts = df.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
        offsets = cum_offsets(counts)
        out = df.join(F.broadcast(offsets), on="__pid", how="inner")
        out = out.withColumn("index", (F.col("__off") + F.col("__row"))
                             .cast("long"))
        return out.drop("__mid", "__pid", "__row", "__off")

    def op_zip(self, op: A.Zip) -> None:
        if op.with_index:
            self.env[op.out] = self._with_index(self.df(op.rels[0]))
            return
        dfs = [self._with_index(self._lineage_rename(self.df(r), r))
               for r in op.rels]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.join(d, on="index", how="inner")
        self.env[op.out] = out.drop("index")

    # ---------------------------------------------------- infrastructure

    def op_streamop(self, op: A.StreamOp) -> None:
        fn = self.stream_ops.get(op.op_name) or self.udfs.get(op.op_name)
        if fn is None or not callable(fn):
            raise ExecError(f"unknown STREAM THROUGH operator {op.op_name!r}")
        df = self.df(op.rel)
        out = fn(df, *op.params)
        if op.schema is not None:
            out = out.toDF(*[f.name for f in op.schema.fields])
        self.env[op.out] = out

    def op_cache(self, op: A.Cache) -> None:
        level = getattr(StorageLevel, op.level, StorageLevel.MEMORY_AND_DISK)
        self.env[op.out] = self.df(op.rel).persist(level)

    def op_materialize(self, op: A.Materialize) -> None:
        """Lineage-keyed parquet checkpoint
        (ref mm/MaterializationManager.scala:86-382)."""
        base = self.options.get("materialization_dir", "/tmp/piglet_mat")
        key = self.lineage.get(
            op.rel,
            hashlib.md5((self.script_hash + ":" + op.rel).encode())
            .hexdigest())[:16]
        path = f"{base}/{op.rel}_{key}"
        df = self.df(op.rel)
        try:
            cached = self.spark.read.parquet(path)
            self.env[op.rel] = cached
            return
        except Exception:
            pass
        df.write.mode("overwrite").parquet(path)
        self.env[op.rel] = self.spark.read.parquet(path)
        if self.mm is not None:
            # pin in the auto-materialization cache map: explicit
            # MATERIALIZE results are `fixed` entries no eviction
            # strategy may remove (ref CacheManager.scala:108-119)
            self.mm.cache.insert_fixed(self.lineage.get(op.rel, key), path)

    def op_register(self, op: A.Register) -> None:
        if op.path.endswith(".py"):
            self.spark.sparkContext.addPyFile(op.path)

    def op_setcmd(self, op: A.SetCmd) -> None:
        if op.key.startswith("spark."):
            self.spark.conf.set(op.key, str(op.value))
        else:
            self.options[op.key] = op.value

    def op_definealias(self, op: A.DefineAlias) -> None:
        from ..functions import builtins
        target = builtins.lookup_scalar(op.func.split(".")[-1])
        if target is not None:
            self.udfs[op.alias] = target
        elif op.func in self.udfs:
            self.udfs[op.alias] = self.udfs[op.func]
        else:
            # late binding: resolved from embedded code at call time
            self.udfs[op.alias] = _LateBound(self, op.func)

    def op_definemacro(self, op: A.DefineMacro) -> None:
        pass  # handled by rewrite pass

    def op_embedcmd(self, op: A.EmbedCmd) -> None:
        """Execute embedded ``<% python %>`` code; register callables as
        UDFs (plain functions wrapped via F.udf with annotated types,
        column-builders used directly)."""
        ns: dict[str, Any] = {"F": F, "spark": self.spark}
        try:
            code = compile(op.code, "<piglet-embed>", "exec",
                           dont_inherit=True)
            exec(code, ns)  # noqa: S102 — user-authored script code
        except (SyntaxError, NameError):
            # reference scripts embed single-expression Scala defs
            # (udf/ScalaUDFParser.scala); translate the simple form
            # `def f(a: Int, b: Int): Int = expr` (NameError: the Scala
            # type names leak as python annotations)
            ns = {"F": F, "spark": self.spark}
            src = _scala_defs_to_python(op.code)
            code = compile(src, "<piglet-embed>", "exec", dont_inherit=True)
            exec(code, ns)  # noqa: S102
        for name, obj in ns.items():
            if name.startswith("_") or not callable(obj) or name in ("F",):
                continue
            if getattr(obj, "__piglet_column__", False):
                self.udfs[name] = obj
            elif getattr(obj, "__piglet_operator__", False):
                self.stream_ops[name] = obj
            elif callable(obj) and getattr(obj, "__module__", "") != "builtins":
                import warnings
                ret = getattr(obj, "__annotations__", {}).get("return", str)
                spark_t = _PY2SPARK.get(ret, "string")
                with warnings.catch_warnings():
                    # pyspark warns it can't infer an eval type from the
                    # hints; we pass the return type explicitly
                    warnings.simplefilter("ignore", UserWarning)
                    self.udfs[name] = F.udf(obj, spark_t)

    # ------------------------------------------ spatial / long tail

    def op_spatialfilter(self, op: "A.SpatialFilter") -> None:
        # index hint ignored: partition pruning subsumes live rtrees
        df = self.df(op.rel)
        ctx = self.ctx(df)
        self.env[op.out] = df.filter(compile_expr(op.pred, ctx))

    def op_spatialjoin(self, op: "A.SpatialJoin") -> None:
        """Grid-bucket pre-join + exact predicate (the scale pattern:
        candidates ∝ spatial locality, never the n² cross product).
        Ref op/SpatialJoin.scala:12 (STARK grid/BSP partitioners)."""
        from ..functions import spatial as sp
        if len(op.rels) != 2 or not isinstance(op.pred, A.FuncCall) \
                or len(op.pred.args) != 2:
            raise ExecError("SPATIAL_JOIN needs two inputs and a binary "
                            "predicate pred(left_field, right_field)")
        cell, bsp_args = 1.0, None
        for part in op.partitioners or []:
            if part and part[0].lower() == "bsp":
                bsp_args = part[1] or []
            elif part and part[1]:
                try:
                    cell = float(part[1][-1])
                except (TypeError, ValueError):
                    pass
        lrel, rrel = op.rels
        left = self._lineage_rename(self.df(lrel), lrel)
        right = self._lineage_rename(self.df(rrel), rrel)
        lgeom = compile_expr(op.pred.args[0], self.ctx(left))
        rgeom = compile_expr(op.pred.args[1], self.ctx(right))
        if bsp_args is not None:
            # r10: adaptive BSP prejoin (PARTITION BY BSP(n[, sample])
            # on either input). The tree trains on the LEFT side's
            # bbox centers; both sides explode to the leaves their
            # bbox intersects (closed rects ⇒ candidate completeness),
            # so a skewed corpus can't pile one grid cell — each leaf
            # holds ~equal sample mass. Exact predicate unchanged.
            n_parts = (int(float(bsp_args[0])) if bsp_args
                       else int(self.spark.conf.get(
                           "spark.sql.shuffle.partitions", "32")))
            sample = (int(float(bsp_args[1]))
                      if len(bsp_args) > 1 else 4096)
        # Reference-cell dedup (r10): a pair whose geometries cover
        # several cells used to match once per shared cell and was
        # deduped by a dropDuplicates over synthetic row ids — a
        # full extra shuffle whose rows carry the geometry structs
        # (SortAggregate, the costliest nodes in the plan). Instead
        # a pair survives only in its CANONICAL shared cell, a cheap
        # per-row expression over the two bboxes — deterministic,
        # exactly one survivor per matched pair, map-side, no
        # shuffle; provably the same pair set (the covered-cell sets
        # are axis-aligned intervals / closed rects, so the
        # canonical cell below always lies in their intersection).
        if bsp_args is not None:
            pts = sp.bsp_sample_points(left, lgeom, sample)
            rects = sp.bsp_leaf_rects(sp.bsp_tree(pts, n_parts))
            lc = left.withColumn("__cell", F.explode(
                sp.bsp_cells_bbox(lgeom, rects)))
            rc = right.withColumn("__cell", F.explode(
                sp.bsp_cells_bbox(rgeom, rects)))
            # canonical leaf: the LOWEST-id rect intersecting BOTH
            # bboxes — identical to min(listed(l) ∩ listed(r))
            # because listing is exactly rect-vs-bbox intersection
            canon = sp.bsp_first_shared_cell(lgeom, rgeom, rects)
        else:
            lc = left.withColumn("__cell", F.explode(
                sp.grid_cells_bbox(lgeom, cell)))
            rc = right.withColumn("__cell", F.explode(
                sp.grid_cells_bbox(rgeom, cell)))
            # canonical grid cell: componentwise max of the two
            # bboxes' min cells — in both covered rectangles of
            # cells whenever they intersect at all
            canon = sp.grid_shared_corner_cell(lgeom, rgeom, cell)
        joined = (lc.join(rc, on="__cell", how="inner")
                  .filter(F.col("__cell") == canon))
        # pred args resolve positionally: first → left, second → right
        # (ref SpatialJoin schema rules; see spatialjoin.pig comment) —
        # the per-side Columns stay valid through the join
        from ..functions import builtins as bi
        fn = bi.lookup_scalar(op.pred.name.lower())
        if fn is None:
            raise ExecError(f"unknown spatial predicate {op.pred.name!r}")
        self.env[op.out] = (joined.filter(fn(lgeom, rgeom))
                            .drop("__cell"))

    def op_partition(self, op: "A.Partition") -> None:
        """PARTITION rel ON field USING scheme(args) — ref
        op/Partition.scala via PartitionerEmitter.scala:29 (STARK
        SpatialGridPartitioner / BSPartitioner / HashPartitioner).
        grid(cell): fixed cells. bsp(n_parts[, sample]): the
        data-ADAPTIVE partitioner (r10) — a bounded md5-ordered
        sample trains a driver-side k-d median-split tree
        (functions/spatial.bsp_tree) whose literal bounds broadcast
        into one codegen'd CASE assignment, so skewed data gets
        equi-depth leaves instead of one hot grid cell. No scheme =
        hash repartition on the field (the reference's
        HashPartitioner arm)."""
        from ..functions import spatial as sp
        df = self.df(op.rel)
        ctx = self.ctx(df)
        col = compile_expr(op.on, ctx)
        if op.scheme == "grid":
            cell = float(op.args[-1]) if op.args else 1.0
            dt = E.static_dtype(op.on, ctx)
            if isinstance(dt, T.StructType):  # geometry column
                col = sp.grid_cell(col, cell)
            else:  # plain numeric field → 1-D grid
                col = F.floor(col.cast("double") / F.lit(cell)).cast("long")
            self.env[op.out] = df.repartition(col)
            return
        if op.scheme == "bsp":
            n_parts = (int(float(op.args[0])) if op.args
                       else int(self.spark.conf.get(
                           "spark.sql.shuffle.partitions", "32")))
            sample = (int(float(op.args[1]))
                      if len(op.args) > 1 else 4096)
            dt = E.static_dtype(op.on, ctx)
            if isinstance(dt, T.StructType):  # geometry column
                pts = sp.bsp_sample_points(df, col, sample)
                tree = sp.bsp_tree(pts, n_parts)
                leaf = sp.bsp_assign(col["xs"][0], col["ys"][0], tree)
            else:  # plain numeric field → 1-D equi-depth splits
                v = col.cast("double")
                rows = (df.select(v.alias("_x"))
                        .filter(F.col("_x").isNotNull())
                        .orderBy(F.md5(F.col("_x").cast("string")),
                                 F.col("_x"))
                        .limit(sample).collect())
                tree = sp.bsp_tree([(float(r["_x"]), 0.0)
                                    for r in rows], n_parts)
                leaf = sp.bsp_assign(v, F.lit(0.0), tree)
            self.env[op.out] = df.repartition(n_parts, leaf)
            return
        self.env[op.out] = df.repartition(col)

    def op_indexop(self, op: "A.IndexOp") -> None:
        # No rtree bags: Catalyst partition pruning + the grid-bucket
        # spatial join subsume the reference's live index
        # (op/IndexOp.scala:18). Identity with a persist hint.
        self.env[op.out] = self.df(op.rel)

    def op_delay(self, op: "A.Delay") -> None:
        """DELAY rel BY (wtime, sample) — the reference's profiling
        op (op/Delay.scala; spark emitter DelayEmitter.scala:6-27):
        sleep ``wtime`` once per partition, then if ``sample`` < 0
        keep ~1/|sample| of the rows, else emit each row ``sample``
        times (0 empties, 1 is identity). Documented divergence: the
        1/|f| subsample is a DETERMINISTIC hash threshold
        (xxhash64(*row) % |f| == 0) instead of Random.nextInt — same
        expected rate, reproducible, matching the repo-wide
        SAMPLE … SEED policy. The sleep is an Arrow mapInPandas
        pass-through (once per partition, like the reference's
        mapPartitions Thread.sleep); skipped entirely at wtime=0 so
        the common profiling-off path stays pure Catalyst."""
        df = self.df(op.rel)

        def _lit(e, default):
            return e.value if isinstance(e, A.Literal) else default
        wtime = _lit(op.wtime, 0)
        sample = int(_lit(op.sample, 1))
        if isinstance(wtime, str):
            # ISO-8601 duration body, reference parses f"PT{s}"
            # (PigParser.scala:1049-1051): trailing H/M/S unit
            m = re.fullmatch(r"(?i)([0-9.]+)([HMS])", wtime.strip())
            if not m:
                raise ExecError(
                    f"DELAY: unparseable wait time {wtime!r} "
                    f"(expected e.g. '2.5S', '1M', '1H' or an int "
                    f"millisecond count)")
            ms = float(m.group(1)) * {"h": 3600_000, "m": 60_000,
                                      "s": 1000}[m.group(2).lower()]
        else:
            ms = float(wtime)  # int literal = milliseconds
        if ms > 0:
            import time as _time
            delay_s = ms / 1000.0

            def _sleepy(batches):
                _time.sleep(delay_s)  # once per partition
                yield from batches
            df = df.mapInPandas(_sleepy, schema=df.schema)
        if sample < 0:
            cols = [F.col(f.name).cast("string")
                    if "map" in f.dataType.simpleString() else
                    F.col(f.name) for f in df.schema.fields]
            df = df.filter(F.pmod(F.xxhash64(*cols),
                                  F.lit(-sample)) == 0)
        elif sample != 1:
            # duplicate each row `sample` times (0 until n semantics)
            df = (df.withColumn(
                "__dup", F.explode(F.array(
                    *[F.lit(i) for i in range(sample)])))
                .drop("__dup")) if sample > 0 else df.limit(0)
        self.env[op.out] = df

    def op_visualize(self, op: "A.Visualize") -> None:
        """Scatter plot of point geometries → SVG (no plotting libs in
        this environment; ref op/Visualize.scala:5)."""
        df = self.df(op.rel)
        ctx = self.ctx(df)
        g = compile_expr(op.field_ref, ctx)
        pts = (df.select(g["xs"][0].alias("x"), g["ys"][0].alias("y"))
               .limit(10000).collect())
        # filter PAIRS, not coordinates independently — a row with one
        # null coordinate must drop entirely, not shift the zip and
        # fabricate points from mismatched rows (r05 review)
        pairs = [(r["x"], r["y"]) for r in pts
                 if r["x"] is not None and r["y"] is not None]
        xs = [x for x, _ in pairs]
        ys = [y for _, y in pairs]
        w, h = op.width, op.height
        if xs:
            x0, x1 = min(xs), max(xs)
            y0, y1 = min(ys), max(ys)
            sx = (w - 20) / ((x1 - x0) or 1.0)
            sy = (h - 20) / ((y1 - y0) or 1.0)
            circles = "".join(
                f'<circle cx="{10 + (x - x0) * sx:.1f}" '
                f'cy="{h - 10 - (y - y0) * sy:.1f}" r="2" fill="#336"/>'
                for x, y in zip(xs, ys))
        else:
            circles = ""
        svg = (f'<svg xmlns="http://www.w3.org/2000/svg" width="{w}" '
               f'height="{h}">{circles}</svg>')
        path = op.path if op.path.endswith(".svg") else op.path + ".svg"
        with open(path, "w") as f:
            f.write(svg)

    def op_rscript(self, op: "A.RScript") -> None:
        try:
            import rpy2  # noqa: F401
        except ImportError:
            raise ExecError(
                "RSCRIPT requires an R runtime (rpy2), which is not "
                "installed in this environment") from None
        raise ExecError("RSCRIPT: rpy2 bridge not implemented")

    def op_hdfscmd(self, op: "A.HdfsCmd") -> None:
        """fs -cmd args (ref op/cmd/HdfsCmd.scala:28 / HDFSService).
        Passthrough to a real `hadoop`/`hdfs` binary is OPT-IN: it runs
        only with `SET piglet.fs 'hdfs'`, or when HADOOP_CONF_DIR is set
        (a configured cluster edge node) and piglet.fs isn't 'local'.
        Binary presence alone is NOT enough — a dev laptop with hadoop
        on PATH but no cluster must keep local-filesystem semantics, so
        existing scripts don't silently change behavior."""
        import os
        import shutil
        cmd, args = op.cmd.lower(), op.args
        fs_mode = str(self.options.get("piglet.fs", "")).lower()
        want_hdfs = (fs_mode == "hdfs"
                     or (fs_mode != "local"
                         and os.environ.get("HADOOP_CONF_DIR")))
        if want_hdfs:
            hadoop = shutil.which("hadoop") or shutil.which("hdfs")
            if hadoop is None and fs_mode == "hdfs":
                raise ExecError(
                    "SET piglet.fs 'hdfs' but no hadoop/hdfs binary on "
                    "PATH")
            if hadoop:
                import subprocess
                exe = [hadoop, "fs"] if hadoop.endswith("hadoop") \
                    else [hadoop, "dfs"]
                res = subprocess.run(exe + [f"-{op.cmd}", *op.args],
                                     capture_output=True, text=True)
                if res.stdout:
                    print(res.stdout, end="")
                if res.returncode != 0:
                    raise ExecError(
                        f"hadoop fs -{op.cmd} failed "
                        f"(rc={res.returncode}): {res.stderr.strip()}")
                return
        # local semantics: drop flag args (-r, -f, …) — the handlers
        # below are already recursive/forced where it matters
        args = [a for a in args if not a.startswith("-")]
        if cmd in ("copytolocal", "cp", "copyfromlocal") and len(args) >= 2:
            shutil.copy(args[0], args[1])
        elif cmd == "mv" and len(args) >= 2:
            shutil.move(args[0], args[1])
        elif cmd in ("rm", "rmr", "rm_r"):
            for a in args:
                if os.path.isdir(a):
                    shutil.rmtree(a)
                elif os.path.exists(a):
                    os.remove(a)
        elif cmd == "mkdir":
            for a in args:
                os.makedirs(a, exist_ok=True)
        elif cmd == "ls":
            for a in args or ["."]:
                print("\n".join(sorted(os.listdir(a))))
        elif cmd in ("touchz", "touch"):
            for a in args:
                open(a, "a").close()
        else:
            raise ExecError(f"unsupported fs command -{op.cmd}")

    def op_sqlstmt(self, op: "A.SqlStmt") -> None:
        """Register every defined alias as a temp view, run Spark SQL.
        Aliases with `::` lineage columns are queryable via backticks.
        GROUP/COGROUP aliases the query references materialize to
        their (group, bag) form first (r05 — they were skipped and
        SQL over them raised TABLE_OR_VIEW_NOT_FOUND, though every
        other consumer materializes them transparently)."""
        text = re.sub(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"", " ",
                      op.query)
        for alias, rel in list(self.env.items()):
            if isinstance(rel, (GroupedRelation, CoGroupedRelation)) \
                    and re.search(rf"\b{re.escape(alias)}\b", text,
                                  re.IGNORECASE):
                rel = self.df(alias)  # materialize + rebind
            if isinstance(rel, DataFrame) and not rel.isStreaming:
                rel.createOrReplaceTempView(alias)
        self.env[op.out] = self.spark.sql(op.query)

    # ----------------------------------- beyond-reference statements

    def op_dedup(self, op: "A.Dedup") -> None:
        df = self.df(op.rel)
        if df.isStreaming:
            # dedup-on-ingest: Spark's stateful dropDuplicates emits
            # the FIRST arrival per key and suppresses later ones
            # across micro-batches (append-mode safe — a distinct()/
            # groupBy rewrite would demand update mode). With
            # TIMESTAMP(f) + SET piglet.watermark, state is bounded by
            # the watermark horizon via dropDuplicatesWithinWatermark;
            # otherwise state grows with distinct keys (documented —
            # exact dedup over an unbounded keyspace has no smaller
            # state).
            names = []
            for k in op.keys:
                if not isinstance(k, A.NamedField):
                    raise ExecError(
                        "streaming DEDUP keys must be plain columns "
                        "(project the expression in a FOREACH first)")
                names.append(E.resolve_named(k, self.ctx(df)))
            ts = self.ts_fields.get(op.rel)
            wm = self.options.get("watermark") or self.options.get(
                "piglet.watermark")
            if ts and wm:
                self.env[op.out] = (df.withWatermark(ts, str(wm))
                                    .dropDuplicatesWithinWatermark(
                                        names or None))
            else:
                self.env[op.out] = df.dropDuplicates(names or None)
            return
        if not op.keys:
            self.env[op.out] = df.distinct()
            return
        ctx = self.ctx(df)
        keycols = [compile_expr(k, ctx) for k in op.keys]
        # keep the lexicographically-first row per key: min(struct(*))
        # fuses into partial aggregation — one shuffle, no window sort
        packed = df.groupBy(*keycols).agg(
            F.min(F.struct(*[df[c] for c in df.columns])).alias("_row"))
        self.env[op.out] = packed.select(
            *[F.col("_row")[c].alias(c) for c in df.columns])

    def op_neardup(self, op: "A.NearDup") -> None:
        from ..datapipe import dedup as dp
        df = self.df(op.rel)
        ctx = self.ctx(df)
        text_col = E.resolve_named(op.on, ctx) if isinstance(
            op.on, A.NamedField) else S.positional(df.columns, op.on.pos)
        if op.id_field is not None:
            id_col = E.resolve_named(op.id_field, ctx) if isinstance(
                op.id_field, A.NamedField) else S.positional(
                    df.columns, op.id_field.pos)
        else:
            id_col = df.columns[0]
        method = getattr(op, "method", "minhash") or "minhash"
        if method == "minhash":
            pairs = dp.minhash_lsh_pairs(
                df, text_col=text_col, id_col=id_col, threshold=op.threshold)
        elif method == "simhash":
            # THRESHOLD = max hamming distance for simhash
            pairs = dp.simhash_pairs(
                df, text_col=text_col, id_col=id_col,
                max_hamming=int(op.threshold))
        elif method == "ngram":
            pairs = dp.ngram_jaccard_pairs(
                df, text_col=text_col, id_col=id_col,
                threshold=op.threshold)
        elif method == "embedding":
            # ON names the vector column; THRESHOLD = cosine
            pairs = dp.embedding_neardup_pairs(
                df, vec_col=text_col, id_col=id_col,
                threshold=op.threshold)
        elif method == "semantic":
            # SemDeDup (r04): ON names the vector column; THRESHOLD =
            # cosine. Without CLUSTER → within-cluster pairs; with
            # CLUSTER → the full (id, group_id, keep) verdict with the
            # paper's lowest-centroid-cosine keeper per group
            if op.cluster:
                self.env[op.out] = dp.semantic_dedup(
                    df, vec_col=text_col, id_col=id_col,
                    threshold=op.threshold)
                return
            pairs, _ = dp.semantic_pairs(
                df, vec_col=text_col, id_col=id_col,
                threshold=op.threshold)
        else:
            raise ExecError(
                f"NEARDUP USING {method!r}: unknown method (choose "
                f"minhash, simhash, ngram, embedding, or semantic)")
        if op.cluster:
            self.env[op.out] = dp.neardup_clusters(
                df, text_col=text_col, id_col=id_col, pairs=pairs)
        else:
            self.env[op.out] = pairs

    # ----------------------------------------------------------- RDF

    def op_rdfload(self, op: A.RDFLoad) -> None:
        df = storage.load(self.spark, op.path, "RDFFileStorage", [], None)
        if op.grouped:
            others = [c for c in ("subject", "predicate", "object")
                      if c != op.grouped]
            df = df.groupBy(op.grouped).agg(
                F.collect_list(F.struct(*others)).alias("stmts"))
        self.env[op.out] = df

    def op_tuplify(self, op: A.Tuplify) -> None:
        df = self.df(op.rel)
        ctx = self.ctx(df)
        key = compile_expr(op.on, ctx)
        if isinstance(op.on, A.NamedField):
            kname = E.resolve_named(op.on, ctx)
        else:
            kname = S.positional(df.columns, op.on.pos)
        others = [c for c in df.columns if c != kname]
        self.env[op.out] = df.groupBy(key.alias(kname)).agg(
            F.collect_list(F.struct(*others)).alias("stmts"))

    def op_bgpfilter(self, op: A.BGPFilter) -> None:
        """SPARQL BGP over a triple relation: each pattern = filter on
        constants; shared variables = equi-joins
        (ref rulesets/RDFRuleset.scala star/path join generation).
        Grouped-schema inputs (RDFLOAD … GROUPED ON x / TUPLIFY)
        route to the specialized group-level plan (r09, ref F4-F8/J2
        of the same ruleset / the SPARQling-Pig BTW'15 paper)."""
        triples = self.df(op.rel)
        if self._bgp_grouped_col(triples) is not None:
            self.env[op.out] = self._bgp_grouped(op, triples)
            return
        s, p, o = triples.columns[:3]
        if len(op.patterns) == 1:
            # single pattern = plain filter; schema stays the triple
            # (ref truth/bgpfilter.data keeps (s, p, o)). A variable
            # repeated WITHIN the pattern ({ ?s <likes> ?s }) is a
            # same-triple equality constraint (SPARQL join-on-self
            # semantics) — column-equality filter (r10 ADVICE)
            pat = op.patterns[0]
            df = triples
            var_cols: dict[str, str] = {}
            for col, term in ((s, pat.subj), (p, pat.pred), (o, pat.obj)):
                if isinstance(term, A.Literal):
                    df = df.filter(F.col(col) == term.value)
                elif isinstance(term, A.NamedField) and \
                        term.name.startswith("?"):
                    if term.name in var_cols:
                        df = df.filter(
                            F.col(col) == F.col(var_cols[term.name]))
                    else:
                        var_cols[term.name] = col
            self.env[op.out] = df
            return
        # no variable shared between patterns → the reference's F9
        # rule (RDFRuleset.scala:585-604) splits the BGP into CHAINED
        # single-pattern filters: triples matching every pattern's
        # constants, triple schema kept — not a binding cross join
        seen_vars: dict[str, int] = {}
        for pat in op.patterns:
            for term in (pat.subj, pat.pred, pat.obj):
                if isinstance(term, A.NamedField) and \
                        term.name.startswith("?"):
                    seen_vars[term.name] = seen_vars.get(term.name, 0) + 1
        if all(n == 1 for n in seen_vars.values()):
            df = triples
            for pat in op.patterns:
                for col, term in ((s, pat.subj), (p, pat.pred),
                                  (o, pat.obj)):
                    if isinstance(term, A.Literal):
                        df = df.filter(F.col(col) == term.value)
            self.env[op.out] = df
            return
        parts = []
        variables: set[str] = set()
        for i, pat in enumerate(op.patterns):
            df = triples
            sel = []
            bound: dict[str, str] = {}
            for col, term in ((s, pat.subj), (p, pat.pred), (o, pat.obj)):
                if isinstance(term, A.Literal):
                    df = df.filter(F.col(col) == term.value)
                elif isinstance(term, A.NamedField) and term.name.startswith("?"):
                    v = term.name[1:]
                    if v in bound:
                        # repeated variable within ONE pattern =
                        # same-triple equality, not a second output
                        # column (a duplicate alias would poison the
                        # downstream join — r10 ADVICE)
                        df = df.filter(F.col(col) == F.col(bound[v]))
                    else:
                        bound[v] = col
                        sel.append(F.col(col).alias(v))
                        variables.add(v)
            parts.append(df.select(*sel) if sel else df.select(F.lit(1).alias(f"_m{i}")))
        out = parts[0]
        for nxt in parts[1:]:
            shared = [c for c in out.columns if c in nxt.columns]
            out = out.join(nxt, on=shared, how="inner") if shared \
                else out.crossJoin(nxt)
        # output schema = bound variables, alphabetical (matches the
        # reference's truth ordering for star/path joins)
        sel = [c for c in sorted(variables) if c in out.columns]
        if sel:
            out = out.select(*sel)
        self.env[op.out] = out

    @staticmethod
    def _bgp_grouped_col(df: DataFrame) -> "str | None":
        """The grouping column name if ``df`` has the grouped RDF
        schema ``(subject|predicate|object, stmts: bag)``, else
        None (ref RDFLoad.groupedSchemas / groupedSchemaEarlyAbort,
        RDFRuleset.scala:219-231)."""
        from pyspark.sql import types as T
        if len(df.columns) != 2 or df.columns[1] != "stmts":
            return None
        g = df.columns[0]
        if g not in ("subject", "predicate", "object"):
            return None
        st = df.schema["stmts"].dataType
        if not (isinstance(st, T.ArrayType)
                and isinstance(st.elementType, T.StructType)):
            return None
        return g

    def _bgp_grouped(self, op: A.BGPFilter,
                     grouped: DataFrame) -> DataFrame:
        """BGP over the grouped RDF schema — the RDFRuleset.scala
        specializations (F4-F8 single-pattern, J2 star join;
        SPARQling Pig, BTW'15) re-expressed group-level, NEVER
        re-exploding the grouped layout when the pattern structure
        allows it:

        - a constant in the GROUPING position filters the group key
          directly (F4/F7/F8's group_filter — at scale this is a
          partition-prunable key predicate, the whole point of
          storing RDF grouped);
        - constants in the OTHER positions become an EXISTS over the
          group's statement bag (F5/F6's nested filter-then-COUNT>0
          plan, fused to one ``F.exists`` — no explode, no shuffle,
          map-only);
        - multiple patterns forming a STAR on the grouping position
          (every pattern carries the same variable there, no other
          variable shared across patterns) AND each bag constraint
          independently — J2's GENERATE cnt_i / FILTER AND(cnt_i>0)
          without materializing the counts.

        Output keeps the grouped schema (the group survives) — the
        reference's rewritten plans flow the grouped relation onward
        the same way (its cnt columns are internal helpers). Pattern
        shapes the grouped rules don't cover (a path join, variables
        shared outside the grouping position, or a variable/mixed
        grouping term) fall back to exploding into plain triples and
        running the general BGP plan — always correct, just not
        grouped-specialized (the reference has no rule for those
        either: its F/J rules return None and the BGPFilter runs on
        re-read plain data)."""
        gcol = self._bgp_grouped_col(grouped)
        order = ("subject", "predicate", "object")
        others = [c for c in order if c != gcol]

        def pat_terms(pat):
            return dict(zip(order, (pat.subj, pat.pred, pat.obj)))

        # --- decide specializability: grouping term per pattern is
        # the one shared variable (star) or a constant; every other
        # variable appears in only one pattern
        star_var = None
        var_seen: dict[str, int] = {}
        specializable = True
        for pat in op.patterns:
            t = pat_terms(pat)
            g = t[gcol]
            in_pat: dict[str, int] = {}
            if isinstance(g, A.NamedField) and g.name.startswith("?"):
                in_pat[g.name] = 1
                if star_var is None:
                    star_var = g.name
                elif g.name != star_var:
                    specializable = False
            elif not isinstance(g, A.Literal):
                specializable = False
            for c in others:
                term = t[c]
                if isinstance(term, A.NamedField) and \
                        term.name.startswith("?"):
                    var_seen[term.name] = var_seen.get(term.name, 0) + 1
                    in_pat[term.name] = in_pat.get(term.name, 0) + 1
            if any(n > 1 for n in in_pat.values()):
                # intra-pattern equality ({ ?s <likes> ?s } or
                # { ?g ?v ?v }): the grouped F/J rules carry no
                # same-triple equality constraint, so specializing
                # would silently drop it and return a superset (r10
                # ADVICE fix) — take the explode fallback, which
                # behaves exactly like the plain path
                specializable = False
        if star_var is not None and star_var in var_seen:
            # the star variable also occurs in a NON-grouping
            # position of some pattern: the bag constraint
            # "other-position == group key" has no group-level rule
            # either — explode fallback (r10 ADVICE fix)
            specializable = False
        if len(op.patterns) > 1:
            if any(n > 1 for n in var_seen.values()):
                specializable = False  # path join — explode fallback
            # mixed star var + per-pattern constants on the grouping
            # term is fine (F7/F8 chain group filters); a variable
            # grouping term must be THE star variable in all patterns
            if star_var is not None:
                for pat in op.patterns:
                    g = pat_terms(pat)[gcol]
                    if isinstance(g, A.NamedField) and \
                            g.name != star_var:
                        specializable = False
        if not specializable:
            exploded = (grouped
                        .select(F.col(gcol), F.explode("stmts")
                                .alias("_t"))
                        .select(*[F.col(gcol) if c == gcol
                                  else F.col(f"_t.{c}").alias(c)
                                  for c in order]))
            tmp = f"__bgp_exploded_{op.out}"
            self.env[tmp] = exploded
            inner = A.BGPFilter(out=op.out, rel=tmp,
                                patterns=op.patterns)
            self.op_bgpfilter(inner)
            del self.env[tmp]
            return self.env[op.out]
        out = grouped
        for pat in op.patterns:
            t = pat_terms(pat)
            if isinstance(t[gcol], A.Literal):
                out = out.filter(F.col(gcol) == t[gcol].value)
            consts = [(c, t[c].value) for c in others
                      if isinstance(t[c], A.Literal)]
            if consts:
                # closure factory: F.exists inspects the lambda's
                # arity, so no default-arg capture
                def _mk(cs):
                    def pred(s):
                        cond = F.lit(True)
                        for col, val in cs:
                            cond = cond & (s[col] == val)
                        return cond
                    return pred
                out = out.filter(F.exists("stmts", _mk(consts)))
        return out

    # ------------------------------------------------------ streaming

    def op_socketread(self, op: A.SocketRead) -> None:
        from ..streaming import stream_exec
        df = stream_exec.socket_read(self.spark, op,
                                     pump_registry=self.zmq_pumps)
        self.env[op.out] = df
        self._record_ts(op.out, op.timestamp_field, df)

    def op_socketwrite(self, op: A.SocketWrite) -> None:
        from ..streaming import stream_exec
        q = stream_exec.socket_write(_strip_internal(self.df(op.rel)),
                                     op, self.options)
        if q is not None:
            self.stream_queries.append(q)

    def op_window(self, op: A.Window) -> None:
        from ..streaming import stream_exec
        df = self.df(op.rel)
        if op.size[1] == "ROWS" or (op.slide and op.slide[1] == "ROWS"):
            out, spec = self._rows_window(df, op)
            self.env[op.out] = out
            self.window_specs[op.out] = spec
            return
        wm = self.options.get("watermark") or self.options.get(
            "piglet.watermark")
        df, spec = stream_exec.apply_window(
            df, op, ts_col=self.ts_fields.get(op.rel), watermark=wm)
        self.env[op.out] = df
        self.window_specs[op.out] = spec
        self.ts_fields[op.out] = spec.ts_col

    def _rows_window(self, df: DataFrame, op: A.Window):
        """WINDOW … ROWS n [SLIDE ROWS m]: count-based windows on
        BOUNDED input, with Flink countWindow semantics (the
        reference's only backend that compiled ROWS —
        StreamWindowEmitter.scala:50-62; its Spark backend never did,
        so this exceeds reference parity). Tumbling: consecutive
        groups of n in arrival order, only complete windows fire.
        Sliding: a window fires every m elements containing the last
        ≤n elements (early windows are partial, as in Flink).

        Scale shape: the global arrival index reuses the ZIP WITH
        INDEX machinery (per-partition offsets + broadcast join — no
        single-partition sort); the total count is one driver-side
        count() folded in as a literal. True (unbounded) streams run
        the cross-batch stateful path (stream_exec.rows_window_stream,
        Flink countWindow semantics via applyInPandasWithState)."""
        from ..streaming.stream_exec import (RowsWindowSpec,
                                             StreamingError,
                                             rows_window_stream)
        if op.size[1] != "ROWS":
            raise StreamingError("SLIDE ROWS requires a ROWS window size")
        n = int(op.size[0])
        m = None
        if op.slide is not None:
            if op.slide[1] != "ROWS":
                raise StreamingError(
                    "a ROWS window requires SLIDE ROWS (mixed "
                    "count/time units are not defined)")
            m = int(op.slide[0])
        key = op.partition
        if key is not None and key not in df.columns:
            raise ExecError(
                f"WINDOW … PARTITION BY {key!r}: no such column")
        if df.isStreaming:
            return rows_window_stream(df, n, m, key=key)
        idx = self._with_index(df).withColumnRenamed("index", "__idx")
        if key is not None:
            # keyed count windows: per-key arrival position + per-key
            # total via one shuffle on the key (no global sort, no
            # driver action) — the batch mirror of Flink's
            # keyBy(k).countWindow
            from pyspark.sql.window import Window as SqlWin
            kw = SqlWin.partitionBy(key)
            idx = (idx
                   .withColumn("__pos", F.row_number().over(
                       kw.orderBy("__idx")) - 1)
                   .withColumn("__tot", F.count(F.lit(1)).over(kw)))
            i, big_n = F.col("__pos"), F.col("__tot")
        else:
            # the scalar total as a literal (not a broadcast
            # self-join): the indexed frame then has exactly ONE
            # consumer, so nothing needs persist — the r02 version
            # persisted it for the two-consumer broadcast-total plan
            # and leaked the cache for the session lifetime
            n_total = df.count()
            i, big_n = F.col("__idx"), F.lit(n_total)
        if m is None or m == n:
            wid = F.floor(i / n)
            out = (idx.withColumn("__rowwin", wid)
                   .filter((wid + 1) * n <= big_n))
        else:
            # window w fires at element (w+1)m-1 and spans the n
            # elements before it: row i belongs to every w in
            # [floor(i/m), floor((i+n)/m)-1], capped by the last
            # window that actually fires (floor(N/m)-1)
            w_min = F.floor(i / m)
            w_max = F.least(F.floor((i + n) / m) - 1,
                            F.floor(big_n / m) - 1)
            seq = F.when(w_min <= w_max, F.sequence(w_min, w_max)) \
                .otherwise(F.array().cast("array<bigint>"))
            out = idx.withColumn("__rowwin", F.explode(seq))
        return (out.drop("__idx", "__pos", "__tot"),
                RowsWindowSpec(n, m, key=key))

    def op_matchevent(self, op: A.MatchEvent) -> None:
        from ..streaming import cep
        df = self.df(op.rel)
        self.env[op.out] = cep.match_event(df, op, self)


def _scala_defs_to_python(src: str) -> str:
    """Translate `def name(a: Int, b: String): Int = <expr>` Scala
    one-liners (the form the reference's ScalaUDFParser accepts) into
    annotated python defs."""
    import re as _re
    tmap = {"Int": "int", "Long": "int", "Double": "float",
            "Float": "float", "String": "str", "Boolean": "bool"}

    def repl(m: "_re.Match") -> str:
        name, params, ret, body = m.groups()
        py_params = []
        for p in params.split(","):
            p = p.strip()
            if not p:
                continue
            pname, _, ptype = p.partition(":")
            py_params.append(
                f"{pname.strip()}: {tmap.get(ptype.strip(), 'str')}")
        return (f"def {name}({', '.join(py_params)}) -> "
                f"{tmap.get(ret.strip(), 'str')}:\n    return {body.strip()}")

    return _re.sub(
        r"def\s+(\w+)\s*\(([^)]*)\)\s*:\s*(\w+)\s*=\s*([^\n]+)",
        repl, src)


class _LateBound:
    """DEFINE alias for a function registered later via embedded code."""

    def __init__(self, executor: Executor, func: str):
        self.executor = executor
        self.func = func

    def __call__(self, *args):
        fn = self.executor.udfs.get(self.func)
        if fn is None or isinstance(fn, _LateBound):
            raise ExecError(f"function {self.func!r} was never registered")
        return fn(*args)


# ---------------------------------------------------------- finalization

def _default_name(e: A.Expr, df: DataFrame, i: int) -> str:
    if isinstance(e, A.NamedField):
        return S.base_name(e.name)
    if isinstance(e, A.PositionalField):
        return S.base_name(df.columns[e.pos]) if e.pos < len(df.columns) \
            else f"_{i}"
    if isinstance(e, A.DerefTuple):
        f = e.field
        if isinstance(f, A.NamedField):
            return f.name
    if isinstance(e, A.FuncCall):
        return f"_{i}"
    return f"_{i}"


def _is_group_ref(e: A.Expr) -> bool:
    if isinstance(e, A.NamedField) and e.name == "group":
        return True
    if isinstance(e, A.DerefTuple) and isinstance(e.base, A.NamedField) \
            and e.base.name == "group":
        return True
    return False


def _finalize(df: DataFrame, names: list[Optional[str]], flat_idx: list[int],
              gens: list[A.GenExpr]) -> DataFrame:
    """Rename temp columns _g{i} → output names; expand FLATTEN gens
    (arrays → explode; structs → inline fields)."""
    # explode arrays first (chained explodes = Pig cross-product flatten)
    for i in flat_idx:
        cname = f"_g{i}"
        dt = df.schema[cname].dataType
        if isinstance(dt, T.ArrayType):
            df = df.withColumn(cname, F.explode(cname))
    # build final select: expand structs of flattened gens
    sel: list[Column] = []
    used: set[str] = set()
    for i, name in enumerate(names):
        cname = f"_g{i}"
        dt = df.schema[cname].dataType
        flatten_this = i in flat_idx
        if flatten_this and isinstance(dt, T.StructType):
            decl = gens[i].pig_type if i < len(gens) else None
            fnames = None
            if isinstance(decl, A.TupleDecl):
                fnames = [fd.name for fd in decl.fields]
            elif len(dt.fields) == 1 and name:
                # FLATTEN(single-field bag) AS alias → alias names it
                fnames = [name]
            for j, f in enumerate(dt.fields):
                out_name = (fnames[j] if fnames and j < len(fnames)
                            else f.name)
                out_name = _uniq(out_name, used)
                sel.append(F.col(cname)[f.name].alias(out_name))
        else:
            out_name = _uniq(name or cname, used)
            sel.append(F.col(cname).alias(out_name))
    return df.select(*sel)


def _uniq(name: str, used: set[str]) -> str:
    base = name
    k = 1
    while name in used:
        name = f"{base}_{k}"
        k += 1
    used.add(name)
    return name


def _pig_schema_str(schema: T.StructType) -> str:
    def fmt(dt: T.DataType) -> str:
        if isinstance(dt, T.StructType):
            inner = ", ".join(f"{f.name}: {fmt(f.dataType)}" for f in dt.fields)
            return f"({inner})"
        if isinstance(dt, T.ArrayType):
            return "{" + fmt(dt.elementType) + "}"
        if isinstance(dt, T.MapType):
            return f"[{fmt(dt.valueType)}]"
        m = {T.IntegerType: "int", T.LongType: "long", T.FloatType: "float",
             T.DoubleType: "double", T.BooleanType: "boolean",
             T.StringType: "chararray", T.TimestampType: "datetime"}
        for k, v in m.items():
            if isinstance(dt, k):
                return v
        return dt.simpleString()
    inner = ", ".join(f"{f.name}: {fmt(f.dataType)}" for f in schema.fields)
    return "{" + inner + "}"
