"""Emit equivalent PySpark source code for a Pig Latin script.

The reference's Zeppelin surface returns generated backend code as a
string (api/PigletInterpreterAPI.createCodeFromInput,
api/PigletInterpreterAPI.scala:30-49); ``PigEngine.to_code(script)``
is the analogue: a runnable PySpark program for the plan, for
debugging and for diffing engine behavior against DataFrame code.

Runtime linkage: generated code calls the engine's own function
library, as the reference's generated Scala links its `sparklib` jar.
A function call emits ``SCALARS[name](…)`` through the engine's
argument rule (``exprs.scalar_args``), an aggregate
``AGGREGATES[name].fused(…)`` or, over a nested FILTER bag,
``filter_aggregate(…)`` (``piglet_spark.functions.builtins``); a
PigStorage STORE emits ``piglet_spark.sources.storage.pig_format_rows``;
casts and LOAD schemas take their types from ``plans/schema.py``. So a
function, aggregate, type or output format has one definition, and the
generated program needs piglet_spark importable. Imports are emitted
only when used: a program with no function call and no STORE is plain
PySpark.

Scope: LOAD (PigStorage/PigStream, TextLoader, Parquet, RDFLOAD),
FILTER, FOREACH (expressions, builtin and embedded `<% %>` functions,
constructors, FLATTEN(TOKENIZE)), GROUP BY/ALL with a grouped FOREACH
of aggregates and expressions over them (nested `u = DISTINCT Rel.f`
and `f = FILTER Rel BY p` bodies), ACCUMULATE, JOIN incl. replicated,
CROSS, DISTINCT, LIMIT, ORDER BY, UNION, SAMPLE, SPLIT INTO, WINDOW
RANGE over bounded input, SPATIAL_FILTER / SPATIAL_JOIN, BGP_FILTER,
STREAM THROUGH a registered datapipe op, STORE, DUMP. Anything else
(COGROUP, CUBE, RANK, ZIP, set operators, CEP, salted JOIN, …) raises
:class:`CodegenUnsupported` naming what is missing; the engine runs
every operator. tests/test_codegen.py::test_codegen_registry_sweep
pins which Pig registry queries emit (equal rows and dtypes to the
engine) and which refuse; tests/test_codegen_conformance.py does the
same over the reference's integration scripts.

DUMP is emitted as ``print(tuple(row))`` per row — plain tuple
rendering, not Pig's ``{bag}``/``(tuple)`` text format.
"""

from __future__ import annotations

import re
from typing import Optional

from .functions import builtins
from .plans import ast as A
from .plans import schema as S
from .plans.exprs import (CompileError, _is_stringy, iter_expr, map_expr,
                          scalar_args)

__all__ = ["CodegenUnsupported", "to_code"]


class CodegenUnsupported(Exception):
    """Operator or expression outside the emit subset."""


_PROLOGUE = '''\
# Generated by piglet_spark (PigEngine.to_code) — equivalent PySpark
# for a Pig Latin script. Runnable as-is: `spark-submit thisfile.py`
# or exec() with an active SparkSession named `spark` in scope.
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

try:
    spark
except NameError:
    spark = SparkSession.builder.getOrCreate()
# Pig null-on-error semantics (divide-by-zero / bad casts -> null):
spark.conf.set("spark.sql.ansi.enabled", "false")


def _r(df, name):
    """Resolve a Pig field name against a DataFrame, accepting the
    `alias::col` lineage-qualified columns a JOIN produces."""
    if name in df.columns:
        return name
    hits = [c for c in df.columns if c.endswith("::" + name)]
    if len(hits) == 1:
        return hits[0]
    raise ValueError(f"cannot resolve field {name!r} among {df.columns}")


def _pig_div(df, l, r):
    """Pig division: int/int truncates toward zero (Java semantics,
    reference ArithmeticExpr int typing); any other operand type is
    double division. Operand types are resolved by analyzing the
    Columns against `df` (analysis only — no job)."""
    _ints = ("tinyint", "smallint", "int", "bigint")
    lt = df.select(l).schema[0].dataType.simpleString()
    rt = df.select(r).schema[0].dataType.simpleString()
    res = l / r
    if lt in _ints and rt in _ints:
        return res.cast("bigint" if "bigint" in (lt, rt) else "int")
    return res
'''

# runtime-library names a generated program may use → the import
# that binds them (emitted only for the names it uses)
_RUNTIME = {
    "SCALARS": "from piglet_spark.functions.builtins import SCALARS",
    "AGGREGATES": "from piglet_spark.functions.builtins import AGGREGATES",
    "filter_aggregate": ("from piglet_spark.functions.builtins "
                         "import filter_aggregate"),
    "pig_format_rows": ("from piglet_spark.sources.storage "
                        "import pig_format_rows"),
    "_rt_sp": "from piglet_spark.functions import spatial as _rt_sp",
    "datapipe_ops": ("from piglet_spark.datapipe.registry "
                     "import datapipe_ops"),
}
# module-level names of a generated program no Pig alias may shadow
_RESERVED = {"spark", "F", "SparkSession", "_r", "_pig_div", *_RUNTIME}


def _pyvar(alias: str, used: dict[str, str]) -> str:
    """Stable Python identifier for a Pig alias."""
    import keyword
    if alias in used:
        return used[alias]
    v = re.sub(r"\W", "_", alias)
    if not v or v[0].isdigit() or keyword.iskeyword(v) or v in _RESERVED:
        # Pig aliases may be Python reserved words (`in`, `for`, …) —
        # `in = spark.read…` is a SyntaxError in the emitted module
        v = "_" + v
    while v in used.values():
        v += "_"
    used[alias] = v
    return v


def _lit(value) -> str:
    return f"F.lit({value!r})"


def _bag(src: str, rel: str) -> str:
    """The per-group bag of ``rel``'s tuples (a GroupedRelation's)."""
    return (f"F.collect_list(F.struct(*[F.col(_c) for _c in "
            f"{src}.columns])).alias({rel!r})")


def _strip(e: A.Expr, bags: set[str]) -> A.Expr:
    """Rewrite ``bag.field`` derefs of the given bags to plain field
    refs — an aggregate's argument reads the pre-group rows."""
    return map_expr(e, lambda n: n.field if isinstance(n, A.DerefTuple)
                    and isinstance(n.base, A.NamedField)
                    and n.base.name in bags else None)


class _Emitter:
    def __init__(self):
        self.lines: list[str] = []
        self.runtime: set[str] = set()  # _RUNTIME names the code uses
        self.vars: dict[str, str] = {}  # pig alias → python var
        # alias → pending Group info (src alias, key exprs) — GROUP is
        # lazy in the engine (GroupedRelation) and in generated code
        # (the consuming FOREACH emits one groupBy().agg())
        self.groups: dict[str, tuple[str, list[A.Expr]]] = {}
        # embedded `<% %>` functions: pig name → generated reference
        # (either the raw column-builder name or an F.udf wrapper var)
        self.embed_fns: dict[str, str] = {}
        # while a grouped FOREACH or ACCUMULATE generator compiles:
        # (bag relation, pre-group DataFrame var, nested-body env) —
        # fields are then readable only inside an aggregate's argument
        self.grp: Optional[tuple[str, str, dict]] = None
        self.tmp = 0

    def rt(self, name: str) -> str:
        """A runtime-library name, recording its import."""
        self.runtime.add(name)
        return name

    def fresh(self) -> str:
        """Temp variable no Pig alias can clobber: a script alias
        literally named `_t1` maps through _pyvar to `_t1`, so skip
        candidates an alias already claimed — and register the temp in
        the vars table (under a key no Pig alias can equal) so a LATER
        alias named `_t1` gets renamed by _pyvar instead of clobbering
        the temp."""
        while True:
            self.tmp += 1
            v = f"_t{self.tmp}"
            if v not in self.vars and v not in self.vars.values():
                self.vars[f"\x00tmp{self.tmp}"] = v
                return v

    # ------------------------------------------------------ expressions

    def expr(self, e: A.Expr, dfv: str) -> str:
        """Python source of a Column for expression `e` over DataFrame
        variable `dfv`."""
        if self.grp is not None and isinstance(
                e, (A.NamedField, A.PositionalField, A.DerefTuple, A.Star)):
            raise CodegenUnsupported(
                "grouped FOREACH generators must be aggregates, "
                "expressions over them, or `group`")
        if isinstance(e, A.NamedField):
            return f"F.col(_r({dfv}, {e.full!r}))"
        if isinstance(e, A.PositionalField):
            return f"F.col({dfv}.columns[{e.pos}])"
        if isinstance(e, A.Literal):
            return _lit(e.value)
        if isinstance(e, A.BinOp):
            if e.op == "+" and (_is_stringy(e.left)
                                or _is_stringy(e.right)):
                # `"POINT(" + lat + " " + lon` — `+` with a string
                # operand is concatenation (compile_binop parity;
                # reference Scala codegen does the same)
                return (f"F.concat({self.expr(e.left, dfv)}"
                        f".cast('string'), {self.expr(e.right, dfv)}"
                        f".cast('string'))")
            if e.op == "/":
                # int/int truncating division needs operand types —
                # resolved at runtime by the _pig_div helper
                # (compile_binop parity, fuzzer-found)
                return (f"_pig_div({dfv}, {self.expr(e.left, dfv)}, "
                        f"{self.expr(e.right, dfv)})")
            return (f"({self.expr(e.left, dfv)} {e.op} "
                    f"{self.expr(e.right, dfv)})")
        if isinstance(e, A.Neg):
            return f"(- {self.expr(e.expr, dfv)})"
        if isinstance(e, A.Cmp):
            left, right = self.expr(e.left, dfv), self.expr(e.right, dfv)
            if e.op == "matches":
                if not isinstance(e.right, A.Literal):
                    raise CodegenUnsupported("matches needs a literal regex")
                # Pig matches = full-string regex (String.matches)
                return f"{left}.rlike({'^(?:' + str(e.right.value) + ')$'!r})"
            return f"({left} {e.op} {right})"
        if isinstance(e, A.And):
            return f"({self.expr(e.left, dfv)} & {self.expr(e.right, dfv)})"
        if isinstance(e, A.Or):
            return f"({self.expr(e.left, dfv)} | {self.expr(e.right, dfv)})"
        if isinstance(e, A.Not):
            return f"(~ {self.expr(e.expr, dfv)})"
        if isinstance(e, A.IsNull):
            meth = "isNotNull" if e.negated else "isNull"
            return f"{self.expr(e.expr, dfv)}.{meth}()"
        if isinstance(e, A.BinCond):
            # two WHENs, no OTHERWISE: a NULL condition matches
            # neither and yields NULL — Pig bincond semantics
            # (compile_expr parity; .otherwise would wrongly catch
            # NULL conditions)
            c = self.expr(e.cond, dfv)
            return (f"F.when({c}, {self.expr(e.then, dfv)})"
                    f".when(~({c}), {self.expr(e.els, dfv)})")
        if isinstance(e, A.CastExpr):
            t = S.pig_to_spark(e.pig_type).simpleString()
            return f"{self.expr(e.expr, dfv)}.cast({t!r})"
        if isinstance(e, A.FuncCall):
            name = e.name.lower()
            if name in self.embed_fns:
                args = ", ".join(self.expr(a, dfv) for a in e.args)
                return f"{self.embed_fns[name]}({args})"
            if builtins.is_aggregate(name):
                return self.aggregate(e)
            if name not in builtins.SCALARS:
                raise CodegenUnsupported(
                    f"function {e.name} is not a builtin")
            try:
                args = scalar_args(e, lambda a: self.expr(a, dfv),
                                   lit=_lit, raw=repr)
            except CompileError as err:
                raise CodegenUnsupported(str(err)) from None
            return f"{self.rt('SCALARS')}[{name!r}]({', '.join(args)})"
        if isinstance(e, A.TupleCons):
            parts = ", ".join(self.expr(x, dfv) for x in e.exprs)
            return f"F.struct({parts})"
        if isinstance(e, A.BagCons):
            # Pig `{e1, e2}` = bag of 1-field tuples → {(v1),(v2)};
            # uniform inner field name — array() demands identical
            # struct types across elements
            parts = ", ".join(f"F.struct({self.expr(x, dfv)}.alias('t'))"
                              for x in e.exprs)
            return f"F.array({parts})"
        if isinstance(e, A.MapCons):
            parts = ", ".join(self.expr(x, dfv) for x in e.exprs)
            return f"F.create_map({parts})"
        raise CodegenUnsupported(f"expression {type(e).__name__}")

    # -------------------------------------------------------- operators

    def emit(self, op: A.Op) -> None:
        meth = getattr(self, "op_" + type(op).__name__.lower(), None)
        if meth is None:
            raise CodegenUnsupported(
                f"operator {type(op).__name__} is outside the "
                f"PySpark-emit subset; run it through PigEngine.run")
        meth(op)

    def op_load(self, op: A.Load) -> None:
        v = _pyvar(op.out, self.vars)
        func = (op.func or "PigStorage").split(".")[-1].lower()
        if func in ("pigstorage", "pigstream"):
            # PigStream parses identically to PigStorage in batch
            # (sources/storage.py registers both to one loader)
            if len(op.func_args) > 1:
                # skipFirstRow / skipEmpty / comments args change what
                # the scan reads (storage._load_pigstorage) — refuse
                # rather than emit silently divergent code
                raise CodegenUnsupported(
                    "PigStorage LOAD with skipFirstRow/comments args")
            delim = str(op.func_args[0]) if op.func_args else "\t"
            if op.schema is None:
                # untyped LOAD: every field is bytearray (string) with
                # positional access only — CSV without a schema gives
                # all-string _c0.._cN, matching the engine's view
                self.lines += [
                    f"{v} = (spark.read.format('csv')",
                    f"    .option('sep', {delim!r})"
                    ".option('header', 'false')",
                    "    .option('quote', '').option('emptyValue', '')",
                    "    .option('inferSchema', 'false')",
                    f"    .load({op.path!r}))",
                ]
                return
            parts = []
            for f in op.schema.fields:
                if not isinstance(f.pig_type, str):
                    raise CodegenUnsupported(
                        f"complex-typed load field {f.name!r}")
                t = S.pig_to_spark(f.pig_type).simpleString()
                parts.append(f"`{f.name}` {t}")
            ddl = ", ".join(parts)
            self.lines += [
                f"{v} = (spark.read.format('csv')",
                f"    .option('sep', {delim!r}).option('header', 'false')",
                "    .option('quote', '').option('emptyValue', '')",
                f"    .schema({ddl!r})",
                f"    .load({op.path!r}))",
            ]
        elif func == "textloader":
            name = "line"
            if op.schema is not None and op.schema.fields:
                name = op.schema.fields[0].name or "line"
            self.lines.append(
                f"{v} = spark.read.text({op.path!r})"
                f".select(F.col('value').alias({name!r}))")
        elif func in ("parquetstorage", "binstorage"):
            self.lines.append(f"{v} = spark.read.parquet({op.path!r})")
        else:
            raise CodegenUnsupported(f"LOAD USING {op.func}")

    def op_embedcmd(self, op: A.EmbedCmd) -> None:
        """Inline embedded `<% %>` code into the generated module —
        the engine's op_embedcmd logic run at GENERATION time to
        discover the callables, with the (possibly Scala→python
        translated) source pasted verbatim and plain functions
        wrapped via F.udf with their annotated return types."""
        from pyspark.sql import functions as F

        from .operators.executor import (_PY2SPARK,
                                         _scala_defs_to_python)
        src = op.code
        ns: dict = {"F": F}
        try:
            exec(compile(src, "<embed>", "exec", dont_inherit=True), ns)
        except (SyntaxError, NameError):
            ns = {"F": F}
            src = _scala_defs_to_python(op.code)
            exec(compile(src, "<embed>", "exec", dont_inherit=True), ns)
        self.lines.append("# embedded user code (<% %> block)")
        self.lines += src.rstrip().splitlines()
        for fname, obj in ns.items():
            if fname.startswith("_") or not callable(obj) or fname == "F":
                continue
            if getattr(obj, "__module__", "") == "builtins":
                continue
            if getattr(obj, "__piglet_column__", False):
                self.embed_fns[fname.lower()] = fname
            elif getattr(obj, "__piglet_operator__", False):
                continue  # STREAM THROUGH ops aren't expressions
            else:
                ret = getattr(obj, "__annotations__", {}).get("return", str)
                spark_t = _PY2SPARK.get(ret, "string")
                var = f"_udf_{fname}"
                self.lines.append(f"{var} = F.udf({fname}, {spark_t!r})")
                self.embed_fns[fname.lower()] = var

    def op_rdfload(self, op: A.RDFLoad) -> None:
        if op.grouped:
            raise CodegenUnsupported("RDFLOAD grouped form")
        # N-triples tokenization (sources/storage._load_rdf parity —
        # quoted string or bare word, first three tokens; reference
        # Storage.scala RDF pattern)
        v = _pyvar(op.out, self.vars)
        tok = r'("[^"]*"|\S+)'
        pat = rf"^\s*{tok}\s+{tok}\s+{tok}"
        self.lines += [
            f"{v} = (spark.read.text({op.path!r})",
            f"    .select(*[F.regexp_extract('value', {pat!r}, _i + 1)",
            "              .alias(_n) for _i, _n in enumerate(",
            "                  ['subject', 'predicate', 'object'])])",
            "    .filter(F.col('subject') != ''))",
        ]

    def op_filter(self, op: A.Filter) -> None:
        src = self._df(op.rel)
        v = _pyvar(op.out, self.vars)
        self.lines.append(f"{v} = {src}.filter({self.expr(op.pred, src)})")

    def op_group(self, op: A.Group) -> None:
        if op.rel in self.groups:
            raise CodegenUnsupported("GROUP of a GROUP")
        self.groups[op.out] = (op.rel, op.keys)

    def op_foreach(self, op: A.Foreach) -> None:
        if op.rel in self.groups:
            self._grouped_foreach(op)
            return
        if op.nested_ops:
            raise CodegenUnsupported(
                "nested FOREACH body over a non-grouped relation")
        src = self._df(op.rel)
        v = _pyvar(op.out, self.vars)
        if any(g.flatten for g in op.gens):
            g = op.gens[0]
            if len(op.gens) != 1 or not (
                    isinstance(g.expr, A.FuncCall) and len(g.expr.args) == 1
                    and g.expr.name.lower() == "tokenize"):
                raise CodegenUnsupported("FLATTEN is emitted for a lone "
                                         "FLATTEN(TOKENIZE(f)) only")
            # one output row per token
            self.lines.append(
                f"{v} = {src}.select(F.explode(F.transform("
                f"{self.expr(g.expr, src)}, lambda _t: _t['token']))"
                f".alias({(g.alias or 'token')!r}))")
            return
        items = []
        used: set[str] = set()
        for i, g in enumerate(op.gens):
            if isinstance(g.expr, A.Star):
                items.append(f"{src}['*']")
                continue
            # duplicate output names dedup `name` → `name_1`
            # (executor _uniq parity — `GENERATE b1::name, b2::name`)
            name, k = self._gen_name(g, i), 1
            while name in used:
                name = f"{self._gen_name(g, i)}_{k}"
                k += 1
            used.add(name)
            items.append(f"{self.expr(g.expr, src)}"
                         f".alias({name!r})")
        self.lines.append(f"{v} = {src}.select({', '.join(items)})")

    def _grouped_foreach(self, op: A.Foreach) -> None:
        src_rel, keys = self.groups[op.rel]
        src = self._df(src_rel)
        # nested body: resolve `s = Rel.field; u = DISTINCT s;` and
        # `f = FILTER Rel BY pred;` chains to (field-expr, distinct?,
        # filter-pred?) so COUNT(u)/COUNT(f)/SUM(f.x) fuse to
        # count_distinct / filter_aggregate — the engine's NestedBag
        # fusions
        nested: dict[str, tuple[Optional[A.Expr], bool,
                                Optional[A.Expr]]] = {}
        for n in (op.nested_ops or []):
            ex = n.expr
            kind, base = ex[:2] if isinstance(ex, tuple) else (None, None)
            if not isinstance(base, A.NamedField):
                base = None
            if kind == "distinct" and base and base.name in nested:
                nested[n.out] = (nested[base.name][0], True, None)
            elif kind == "filter" and base and base.name == src_rel:
                nested[n.out] = (None, False, ex[2])
            elif isinstance(ex, A.Expr) and (isinstance(ex, A.NamedField)
                                             or _strip(ex, {src_rel}) != ex):
                nested[n.out] = (_strip(ex, {src_rel}), False, None)
            else:
                raise CodegenUnsupported(
                    "nested FOREACH body (bag-projection, DISTINCT, "
                    "and whole-relation FILTER only)")
        v = _pyvar(op.out, self.vars)
        # the generator projecting `group` names the key column (Pig:
        # `group AS flag` renames it; absent an alias it stays `group`)
        key_name = "group"
        for g in op.gens:
            if isinstance(g.expr, A.NamedField) and g.expr.name == "group":
                key_name = g.alias or "group"
        if len(keys) > 1 and not all(isinstance(k, A.NamedField)
                                     for k in keys):
            raise CodegenUnsupported(
                "composite group keys must be named fields")
        gb = self._group_key(keys, src, key_name)
        def _group_deref(e: A.Expr) -> Optional[str]:
            # `group.f` — a component of a composite group key (or the
            # single key itself when names match)
            if isinstance(e, A.DerefTuple) \
                    and isinstance(e.base, A.NamedField) \
                    and e.base.name == "group" \
                    and isinstance(e.field, A.NamedField):
                return e.field.name
            return None

        aggs = []
        star = any(isinstance(g.expr, A.Star) for g in op.gens)
        derefs = any(_group_deref(g.expr) for g in op.gens)
        if star and derefs:
            raise CodegenUnsupported(
                "`*` cannot mix with group.<field> projections")
        for i, g in enumerate(op.gens):
            if isinstance(g.expr, A.NamedField) and g.expr.name == "group":
                continue  # emitted as the groupBy key column
            if _group_deref(g.expr):
                continue  # derived from the key post-agg (select below)
            if isinstance(g.expr, A.Star):
                # `GENERATE *` over a grouped relation = (group, bag)
                # — the engine's _foreach_fused Star expansion; key
                # comes first from groupBy, so Star must lead
                if i != 0:
                    raise CodegenUnsupported(
                        "`*` in a grouped FOREACH must be the first "
                        "generator")
                aggs.append(_bag(src, src_rel))
                continue
            e, name = g.expr, self._gen_name(g, i)
            if isinstance(e, A.DerefTuple) \
                    and isinstance(e.base, A.NamedField) \
                    and e.base.name == src_rel \
                    and isinstance(e.field, A.NamedField) \
                    and any(isinstance(k, A.NamedField)
                            and k.name == e.field.name for k in keys):
                # bag projection of a grouping key (`A.f1` under GROUP
                # A BY f1): constant within the group — rendered as the
                # key value (reference truth grouping2.data)
                col = f"F.first({self.expr(e.field, src)})"
            else:
                col = self._expr_in((src_rel, src, nested), e, src)
            aggs.append(f"{col}.alias({name!r})")
        if aggs:
            self.lines.append(
                f"{v} = {src}.groupBy({gb}).agg({', '.join(aggs)})")
        else:
            # generators project only the key — GROUP+FOREACH collapses
            # to DISTINCT over the key expression
            self.lines.append(f"{v} = {src}.select({gb}).distinct()")
        if not star:
            # Pig projects columns in generator order (groupBy() puts
            # the key first); group.<field> extracts a key component
            cols = []
            for i, g in enumerate(op.gens):
                f = _group_deref(g.expr)
                if f is None:
                    cols.append(f"F.col({self._gen_name(g, i)!r})")
                    continue
                key = f"F.col({key_name!r})"
                if not (len(keys) == 1 and isinstance(keys[0], A.NamedField)
                        and keys[0].name == f):
                    key += f"[{f!r}]"
                cols.append(f"{key}.alias({(g.alias or f)!r})")
            self.lines.append(f"{v} = {v}.select({', '.join(cols)})")

    def _group_key(self, keys: list[A.Expr], src: str, name: str) -> str:
        """The groupBy column ``name`` of GROUP BY ``keys``: a constant
        for GROUP ALL, a struct of the keys (named fields keep their
        names) for a composite key."""
        if not keys:
            return f"F.lit('all').alias({name!r})"
        if len(keys) == 1:
            return f"{self.expr(keys[0], src)}.alias({name!r})"
        parts = ", ".join(self.expr(k, src) + (
            f".alias({k.name!r})" if isinstance(k, A.NamedField) else "")
            for k in keys)
        return f"F.struct({parts}).alias({name!r})"

    def _gen_name(self, g: A.GenExpr, i: int) -> str:
        """Output column name — the executor's _default_name rules:
        named fields keep their base name, computed exprs get `_i`."""
        if g.alias:
            return g.alias
        e = g.expr
        if isinstance(e, A.NamedField):
            return e.name.rsplit("::", 1)[-1]
        if isinstance(e, A.DerefTuple) and isinstance(e.field, A.NamedField):
            return e.field.name
        return f"_{i}"

    def _expr_in(self, grp: Optional[tuple], e: A.Expr, src: str) -> str:
        """``self.expr(e, src)`` with ``self.grp`` set to ``grp``."""
        prev, self.grp = self.grp, grp
        try:
            return self.expr(e, src)
        finally:
            self.grp = prev

    def aggregate(self, e: A.FuncCall) -> str:
        """``AGGREGATES[name].fused(…)`` over the pre-group rows — the
        engine's fused path (exprs.compile_aggregate), nested-bag
        fusions included."""
        if self.grp is None:
            raise CodegenUnsupported(f"aggregate {e.name} outside a "
                                     "grouped FOREACH or ACCUMULATE")
        if len(e.args) > 1:
            raise CodegenUnsupported(
                f"aggregate {e.name} with {len(e.args)} args")
        rel, src, nested = self.grp
        name = e.name.lower()
        arg = e.args[0] if e.args else A.Star()
        fused = f"{self.rt('AGGREGATES')}[{name!r}].fused"
        if isinstance(arg, A.Star):
            return f"{fused}(F.lit(1))"
        if isinstance(arg, A.NamedField) and arg.name == rel:
            # COUNT(A) — the whole bag
            if name in builtins.SIZE_ONLY:
                return f"{fused}()"
            return f"{fused}(F.struct(*[F.col(_c) for _c in {src}.columns]))"
        bags = {n.name for n in iter_expr(arg)
                if isinstance(n, A.NamedField) and n.name in nested}
        if not bags:  # the argument reads the pre-group rows
            return f"{fused}({self._expr_in(None, _strip(arg, {rel}), src)})"
        bname = min(bags)
        fld, distinct, pred = nested[bname] if len(bags) == 1 \
            else (None, False, None)
        if isinstance(arg, A.NamedField) and fld is not None:
            # COUNT(u) / SUM(s) over a projected nested bag
            col = self._expr_in(None, fld, src)
            if not distinct:
                return f"{fused}({col})"
            if name in ("count", "count_star"):
                return f"F.count_distinct({col})"
        elif pred is not None and name != "median" and (
                name in builtins.SIZE_ONLY
                or not isinstance(arg, A.NamedField)):
            # COUNT(f), SUM(f.x), SUM(f.x * 2) over a FILTER bag
            args = [repr(name), self._expr_in(None, pred, src)]
            if not isinstance(arg, A.NamedField):
                args.append(self._expr_in(
                    None, _strip(arg, {rel, bname}), src))
            return f"{self.rt('filter_aggregate')}({', '.join(args)})"
        raise CodegenUnsupported(
            f"{e.name} over nested bag(s) {sorted(bags)}: only COUNT of "
            "a DISTINCT bag, and fields of one FILTER bag, fuse")

    def op_join(self, op: A.Join) -> None:
        if op.window is not None:
            raise CodegenUnsupported("windowed JOIN")
        strat = (op.strategy or "").lower().strip()
        if strat not in ("", "replicated", "repl"):
            raise CodegenUnsupported(f"JOIN USING {op.strategy!r}")
        v = _pyvar(op.out, self.vars)
        sides = []
        for rel, keys in zip(op.rels, op.keys):
            src = self._df(rel)
            t = self.fresh()
            # lineage-prefix rename (executor._lineage_rename parity):
            # downstream refs are `rel::col`, unqualified when unique
            self.lines.append(
                f"{t} = {src}.select(*[{src}[_c].alias("
                f"{rel!r} + '::' + _c) for _c in {src}.columns])")
            sides.append((t, keys))
        lt, lkeys = sides[0]
        cur = lt
        for t, keys in sides[1:]:
            conds = [f"({self.expr(kl, lt)} == {self.expr(kr, t)})"
                     for kl, kr in zip(lkeys, keys)]
            right = f"F.broadcast({t})" if strat else t
            self.lines.append(
                f"{v} = {cur}.join({right}, on={' & '.join(conds)}, "
                f"how='inner')")
            cur = v
        self.vars[op.out] = v

    def op_distinct(self, op: A.Distinct) -> None:
        v = _pyvar(op.out, self.vars)
        self.lines.append(f"{v} = {self._df(op.rel)}.distinct()")

    def op_window(self, op: A.Window) -> None:
        """WINDOW … RANGE over a BOUNDED batch source is one
        arrival-time window spanning the whole input (engine parity:
        with no TIMESTAMP field, stream_exec.apply_window stamps every
        row with the same batch timestamp; ref SparksCompileIt runs
        these scripts on bounded files the same way), so the generated
        code aliases the input. ROWS windows and unbounded streams need
        the engine's stateful runtime."""
        if op.size[1] == "ROWS" or (op.slide and op.slide[1] == "ROWS"):
            raise CodegenUnsupported(
                "ROWS Window (stateful count windows need the engine "
                "runtime)")
        v = _pyvar(op.out, self.vars)
        self.lines.append(
            f"{v} = {self._df(op.rel)}"
            "  # WINDOW RANGE: bounded input = one arrival-time window")

    def op_streamop(self, op: "A.StreamOp") -> None:
        """STREAM … THROUGH <datapipe op>(literal args): emitted as a
        call into the shared registry (datapipe/registry.py) — the
        exact same callables the engine executor dispatches to, so
        generated programs and engine runs cannot diverge. User
        Python functions DEFINEd in the script are not in that
        registry and stay engine-only."""
        from .datapipe.registry import datapipe_ops
        if op.op_name not in datapipe_ops():
            raise CodegenUnsupported(
                f"STREAM THROUGH {op.op_name!r} (not a registered "
                "datapipe op — script-DEFINEd functions are "
                "engine-only)")
        if not all(isinstance(p, (str, int, float, bool))
                   for p in op.params):
            raise CodegenUnsupported(
                "STREAM THROUGH params must be plain literals")
        v = _pyvar(op.out, self.vars)
        args = "".join(f", {p!r}" for p in op.params)
        call = (f"{self.rt('datapipe_ops')}()[{op.op_name!r}]"
                f"({self._df(op.rel)}{args})")
        if op.schema is not None:
            names = [f.name for f in op.schema.fields]
            call += f".toDF(*{names!r})"
        self.lines.append(f"{v} = {call}")

    def op_limit(self, op: A.Limit) -> None:
        v = _pyvar(op.out, self.vars)
        if not isinstance(op.n, A.Literal):
            raise CodegenUnsupported("LIMIT must be a literal")
        self.lines.append(
            f"{v} = {self._df(op.rel)}.limit({int(op.n.value)})")

    def op_sample(self, op: A.Sample) -> None:
        v = _pyvar(op.out, self.vars)
        src = self._df(op.rel)
        if not isinstance(op.fraction, A.Literal):
            raise CodegenUnsupported("SAMPLE fraction must be a literal")
        frac = float(op.fraction.value)
        if op.seed is None:
            self.lines.append(f"{v} = {src}.sample({frac})")
            return
        # seeded SAMPLE = md5-prefix hash threshold (executor
        # op_sample parity: deterministic across runs/partitionings)
        seed = str(op.seed.value)
        self.lines.append(
            f"{v} = {src}.filter(F.conv(F.substring(F.md5(F.concat_ws("
            f"'|', F.lit({seed!r}), *[F.coalesce(F.col(_c).cast('string'), "
            f"F.lit('')) for _c in {src}.columns])), 1, 8), 16, 10)"
            f".cast('bigint') < F.lit({int(frac * 4294967296)}))")

    def op_orderby(self, op: A.OrderBy) -> None:
        v = _pyvar(op.out, self.vars)
        src = self._df(op.rel)
        cols = []
        for spec in op.specs:
            if isinstance(spec.field, A.Star):
                cols.append(
                    f"*[F.col(_c).{'asc' if spec.asc else 'desc'}() "
                    f"for _c in {src}.columns]")
            else:
                d = "asc" if spec.asc else "desc"
                cols.append(f"{self.expr(spec.field, src)}.{d}()")
        self.lines.append(f"{v} = {src}.orderBy({', '.join(cols)})")

    def op_union(self, op: A.Union) -> None:
        v = _pyvar(op.out, self.vars)
        srcs = [self._df(r) for r in op.rels]
        cur = srcs[0]
        for s in srcs[1:]:
            meth = ("unionByName({0}, allowMissingColumns=True)"
                    if getattr(op, "onschema", False)
                    else "union({0})").format(s)
            self.lines.append(f"{v} = {cur}.{meth}")
            cur = v
        self.vars[op.out] = v

    def op_splitinto(self, op: A.SplitInto) -> None:
        src = self._df(op.rel)
        prev_preds = []
        for b in op.branches:
            v = _pyvar(b.out, self.vars)
            if b.pred is None:  # OTHERWISE: rows matching no branch
                if not prev_preds:
                    raise CodegenUnsupported("SPLIT OTHERWISE alone")
                neg = " & ".join(f"~F.coalesce({p}, F.lit(False))"
                                 for p in prev_preds)
                self.lines.append(f"{v} = {src}.filter({neg})")
            else:
                p = self.expr(b.pred, src)
                prev_preds.append(p)
                self.lines.append(f"{v} = {src}.filter({p})")

    def op_accumulate(self, op: "A.Accumulate") -> None:
        """ACCUMULATE A GENERATE min(f), … — one global aggregation
        row (df.agg with map-side partial aggregation), its generators
        compiled like a grouped FOREACH's (executor op_accumulate)."""
        src = self._df(op.rel)
        v = _pyvar(op.out, self.vars)
        aggs = [f"{self._expr_in((op.rel, src, {}), g.expr, src)}"
                f".alias({self._gen_name(g, i)!r})"
                for i, g in enumerate(op.gens)]
        self.lines.append(f"{v} = {src}.agg({', '.join(aggs)})")

    def op_cross(self, op: A.Cross) -> None:
        """n-ary CROSS — chained crossJoin with `alias::` lineage
        prefixes so same-named columns from different inputs never
        collide (the engine's naming)."""
        v = _pyvar(op.out, self.vars)
        tmps = []
        for rel in op.rels:
            s = self._df(rel)
            t = self.fresh()
            self.lines.append(
                f"{t} = {s}.select([F.col(_c).alias({rel!r} + '::' + _c)"
                f" for _c in {s}.columns])")
            tmps.append(t)
        chain = tmps[0]
        for t in tmps[1:]:
            chain = f"{chain}.crossJoin({t})"
        self.lines.append(f"{v} = {chain}")

    def op_spatialfilter(self, op: "A.SpatialFilter") -> None:
        """SPATIAL_FILTER rel BY pred — a plain filter over the
        runtime spatial predicate (executor op_spatialfilter parity;
        the index hint is ignored there too: Catalyst pruning
        subsumes a live rtree)."""
        src = self._df(op.rel)
        v = _pyvar(op.out, self.vars)
        self.lines.append(f"{v} = {src}.filter({self.expr(op.pred, src)})")

    def op_spatialjoin(self, op: "A.SpatialJoin") -> None:
        """SPATIAL_JOIN a, b ON pred(l, r) — the engine's grid-bucket
        pre-join + exact predicate (executor op_spatialjoin): per-side
        lineage rename, geometry materialized as a column, bbox grid
        cells exploded, equi-join on cell, dedup on row ids, exact
        predicate filter. Never the n² cross product."""
        if len(op.rels) != 2 or not isinstance(op.pred, A.FuncCall) \
                or len(op.pred.args) != 2:
            raise CodegenUnsupported(
                "SPATIAL_JOIN needs two inputs and a binary predicate")
        pname = op.pred.name.lower()
        if pname not in builtins.SCALARS:
            raise CodegenUnsupported(
                f"spatial predicate {op.pred.name!r}")
        self.rt("_rt_sp")
        cell, bsp_args = 1.0, None
        for part in op.partitioners or []:
            if part and part[0].lower() == "bsp":
                bsp_args = part[1] or []
            elif part and part[1]:
                try:
                    cell = float(part[1][-1])
                except (TypeError, ValueError):
                    pass
        v = _pyvar(op.out, self.vars)
        sides = []
        for rel, arg, gcol, idc in ((op.rels[0], op.pred.args[0],
                                     "__lgeom", "__lid"),
                                    (op.rels[1], op.pred.args[1],
                                     "__rgeom", "__rid")):
            s = self._df(rel)
            t = self.fresh()
            # lineage-prefix rename, then pin the side's geometry as a
            # column so the post-join exact filter is unambiguous even
            # though both sides share field names (ref spatialjoin.pig:
            # pred args resolve positionally, left then right)
            self.lines += [
                f"{t} = {s}.select([F.col(_c).alias({rel!r} + '::' + _c)"
                f" for _c in {s}.columns])",
                f"{t} = {t}.withColumn({gcol!r}, {self.expr(arg, t)})"
                f".withColumn({idc!r}, F.monotonically_increasing_id())",
            ]
            sides.append(t)
        lt, rt = sides
        if bsp_args is not None:
            # adaptive BSP prejoin (executor op_spatialjoin parity):
            # the tree trains at RUNTIME on the left side's bbox
            # centers (bounded deterministic sample), then both sides
            # explode to the leaves their bbox intersects
            n_parts = int(float(bsp_args[0])) if bsp_args else 32
            sample = (int(float(bsp_args[1]))
                      if len(bsp_args) > 1 else 4096)
            rv = self.fresh()
            self.lines += [
                f"{rv} = _rt_sp.bsp_leaf_rects(_rt_sp.bsp_tree("
                f"_rt_sp.bsp_sample_points({lt}, F.col('__lgeom'), "
                f"{sample}), {n_parts}))",
                f"{lt} = {lt}.withColumn('__cell', F.explode("
                f"_rt_sp.bsp_cells_bbox(F.col('__lgeom'), {rv})))",
                f"{rt} = {rt}.withColumn('__cell', F.explode("
                f"_rt_sp.bsp_cells_bbox(F.col('__rgeom'), {rv})))",
            ]
        else:
            self.lines += [
                f"{lt} = {lt}.withColumn('__cell', F.explode("
                f"_rt_sp.grid_cells_bbox(F.col('__lgeom'), {cell!r})))",
                f"{rt} = {rt}.withColumn('__cell', F.explode("
                f"_rt_sp.grid_cells_bbox(F.col('__rgeom'), {cell!r})))",
            ]
        self.lines += [
            f"{v} = ({lt}.join({rt}, on='__cell', how='inner')",
            "    .dropDuplicates(['__lid', '__rid']))",
            f"{v} = {v}.filter({self.rt('SCALARS')}[{pname!r}]("
            "F.col('__lgeom'), F.col('__rgeom')))",
            f"{v} = {v}.drop('__cell', '__lid', '__rid', "
            f"'__lgeom', '__rgeom')",
        ]

    def op_bgpfilter(self, op: "A.BGPFilter") -> None:
        """BGP_FILTER — SPARQL basic graph pattern over a triple
        relation (executor op_bgpfilter parity): one pattern = filter
        on the constant terms keeping the (s, p, o) schema; multiple
        patterns = per-pattern select of bound variables, equi-joined
        on shared variables, output columns = variables sorted."""
        src = self._df(op.rel)
        v = _pyvar(op.out, self.vars)
        if len(op.patterns) == 1:
            pat = op.patterns[0]
            cur = src
            for i, term in enumerate((pat.subj, pat.pred, pat.obj)):
                if isinstance(term, A.Literal):
                    self.lines.append(
                        f"{v} = {cur}.filter(F.col({cur}.columns[{i}])"
                        f" == {term.value!r})")
                    cur = v
            if cur is src:  # all-variable pattern: identity
                self.lines.append(f"{v} = {src}")
            return
        parts: list[tuple[str, list[str]]] = []
        for pi, pat in enumerate(op.patterns):
            t = self.fresh()
            cur, bound = src, []
            sel = []
            for i, term in enumerate((pat.subj, pat.pred, pat.obj)):
                if isinstance(term, A.Literal):
                    self.lines.append(
                        f"{t} = {cur}.filter(F.col({src}.columns[{i}])"
                        f" == {term.value!r})")
                    cur = t
                elif isinstance(term, A.NamedField) \
                        and term.name.startswith("?"):
                    var = term.name[1:]
                    sel.append(f"F.col({src}.columns[{i}])"
                               f".alias({var!r})")
                    bound.append(var)
            if cur is src:
                self.lines.append(f"{t} = {src}")
            if not sel:  # all-constant pattern: existence marker
                sel = [f"F.lit(1).alias('_m{pi}')"]
            self.lines.append(f"{t} = {t}.select({', '.join(sel)})")
            parts.append((t, bound))
        cur, cols = parts[0]
        for t, bound in parts[1:]:
            shared = [c for c in cols if c in bound]
            nxt = self.fresh()
            if shared:
                self.lines.append(
                    f"{nxt} = {cur}.join({t}, on={shared!r}, "
                    f"how='inner')")
            else:
                self.lines.append(f"{nxt} = {cur}.crossJoin({t})")
            cols = cols + [c for c in bound if c not in cols]
            cur = nxt
        ordered = sorted(cols)
        self.lines.append(
            f"{v} = {cur}.select({', '.join(repr(c) for c in ordered)})")

    def op_store(self, op: A.Store) -> None:
        src = self._df(op.rel)
        func = (op.func or "PigStorage").split(".")[-1].lower()
        if func == "pigstorage":
            delim = str(op.func_args[0]) if op.func_args else ","
            self.lines.append(
                f"{self.rt('pig_format_rows')}({src}, {delim!r}).write"
                f".mode('overwrite').text({op.path!r})")
        elif func in ("parquetstorage", "binstorage"):
            self.lines.append(
                f"{src}.write.mode('overwrite').parquet({op.path!r})")
        else:
            raise CodegenUnsupported(f"STORE USING {op.func}")

    def op_dump(self, op: A.Dump) -> None:
        self.lines.append(
            f"for _row in {self._df(op.rel)}.collect(): print(tuple(_row))")

    def op_describe(self, op: A.Describe) -> None:
        self.lines.append(f"{self._df(op.rel)}.printSchema()")

    def op_display(self, op: A.Display) -> None:
        self.lines.append(f"{self._df(op.rel)}.show(truncate=False)")

    # ---------------------------------------------------------- helpers

    def _df(self, alias: str) -> str:
        if alias in self.groups:
            # STORE/DUMP of a raw GROUP result: materialize (group,
            # bag-of-input-tuples) like the engine's GroupedRelation
            # (kept in self.groups too — a FOREACH aggregation over
            # the same alias still fuses to groupBy().agg())
            marker = f"\x00grpmat_{alias}"
            if marker in self.vars:
                return self.vars[marker]
            src_rel, keys = self.groups[alias]
            src = self._df(src_rel)
            v = self.fresh()
            self.lines.append(f"{v} = {src}.groupBy("
                              f"{self._group_key(keys, src, 'group')})"
                              f".agg({_bag(src, src_rel)})")
            self.vars[marker] = v
            return v
        if alias not in self.vars:
            raise CodegenUnsupported(f"unknown alias {alias!r}")
        return self.vars[alias]


def to_code(ops: list[A.Op]) -> str:
    """PySpark source for a parsed+rewritten plan (see module doc)."""
    em = _Emitter()
    for op in ops:
        em.emit(op)
    rt = "".join(f"\n{_RUNTIME[n]}" for n in sorted(em.runtime))
    return _PROLOGUE + rt + "\n\n\n" + "\n".join(em.lines) + "\n"
