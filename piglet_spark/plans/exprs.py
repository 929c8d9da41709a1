"""Compile Pig expressions/predicates → native Spark Columns.

Semantics parity: expr/ArithmeticExpr.scala (arithmetic + casts +
constructors), expr/Predicate.scala (boolean ops), Types.scala:112-141
(numeric escalation; bytearray+bytearray → double). Everything compiles
to JVM-side Column expressions — no Python UDFs unless the user
registered one.
"""

from __future__ import annotations

import dataclasses
import inspect
from collections.abc import Iterator
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import ast as A
from . import schema as S
from ..functions import builtins


class CompileError(Exception):
    pass


class Ctx:
    """Expression-compilation context.

    mode:
      - "row":   plain relation; refs resolve against df columns, and
                 a bag is a materialized array<struct> column.
      - "fused": FOREACH over a lazy GROUP — aggregates compile to
                 groupBy().agg() columns over the *pre-group* df.

    ``fields`` binds column names to a higher-order-function lambda
    element's fields (a nested FILTER over a bag array); ``df`` then
    only supplies their types.
    """

    def __init__(self, df: DataFrame, mode: str = "row",
                 bag_name: Optional[str] = None,
                 key_cols: Optional[list[str]] = None,
                 udfs: Optional[dict[str, Callable]] = None,
                 nested_bags: Optional[dict[str, Any]] = None,
                 fields: Optional[dict[str, Column]] = None):
        self.df = df
        self.fields = fields
        self.mode = mode
        self.bag_name = bag_name
        self.key_cols = key_cols or []
        self.udfs = udfs or {}
        # nested FOREACH: alias -> NestedBag descriptor
        self.nested_bags = nested_bags or {}
        # True while compiling the argument of an aggregate call:
        # bag refs then denote pre-group columns, not collect_list
        self.in_agg = False

    @property
    def columns(self) -> list[str]:
        return self.df.columns if self.fields is None else list(self.fields)

    def col(self, name: str) -> Column:
        return self.df[name] if self.fields is None else self.fields[name]

    def dtype(self, name: str) -> T.DataType:
        return self.df.schema[name].dataType

    def with_bag_element(self, bag_name: str, elem: Column) -> "Ctx":
        """Child context for compiling an expression INSIDE a
        higher-order-function lambda over bag ``bag_name``:
        ``bag.field`` derefs resolve to the lambda element's field,
        everything else still resolves against the outer row (Spark
        HOF lambdas may reference outer attributes)."""
        sub = Ctx(self.df, mode=self.mode, bag_name=self.bag_name,
                  key_cols=self.key_cols, udfs=self.udfs,
                  nested_bags=self.nested_bags)
        sub.in_agg = self.in_agg
        sub.bag_elements = dict(getattr(self, "bag_elements", {}))
        sub.bag_elements[bag_name] = elem
        return sub


def _is_string(dt: Optional[T.DataType]) -> bool:
    return isinstance(dt, (T.StringType, T.BinaryType))


def _is_int(dt: Optional[T.DataType]) -> bool:
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))


# builtins whose runtime Column type is fixed — lets bytearray
# escalation see e.g. `i / STRLEN(s)` as int÷int (Pig/Java integer
# division, like the reference's typed Scala codegen) instead of
# treating the call as unknown→double (r06 fuzzer find)
_FUNC_STATIC_TYPES: dict[str, T.DataType] = {
    "strlen": T.IntegerType(), "indexof": T.IntegerType(),
    "last_index_of": T.IntegerType(), "size": T.IntegerType(),
    "upper": T.StringType(), "lower": T.StringType(),
    "trim": T.StringType(), "substring": T.StringType(),
    "concat": T.StringType(), "replace": T.StringType(),
    "regex_extract": T.StringType(), "tostring": T.StringType(),
    "toint": T.IntegerType(), "tolong": T.LongType(),
    "todouble": T.DoubleType(), "tofloat": T.FloatType(),
    "startswith": T.BooleanType(), "endswith": T.BooleanType(),
    "strcontains": T.BooleanType(),
    "getyear": T.IntegerType(), "getmonth": T.IntegerType(),
    "getday": T.IntegerType(), "gethour": T.IntegerType(),
    "getminute": T.IntegerType(), "getsecond": T.IntegerType(),
    "random": T.DoubleType(),
}


def static_dtype(expr: A.Expr, ctx: Ctx) -> Optional[T.DataType]:
    """Best-effort static type, used for bytearray-arithmetic casts."""
    try:
        if isinstance(expr, A.NamedField):
            return ctx.dtype(resolve_named(expr, ctx))
        if isinstance(expr, A.PositionalField):
            return ctx.dtype(S.positional(ctx.columns, expr.pos))
        if isinstance(expr, A.Literal):
            return S.pig_to_spark(expr.pig_type) if expr.pig_type else None
        if isinstance(expr, A.CastExpr):
            return S.pig_to_spark(expr.pig_type)
        if isinstance(expr, A.BinOp):
            lt, rt = static_dtype(expr.left, ctx), static_dtype(expr.right, ctx)
            if isinstance(lt, T.DoubleType) or isinstance(rt, T.DoubleType):
                return T.DoubleType()
            if lt is None or rt is None:
                return None
            if _is_string(lt) or _is_string(rt):
                return T.DoubleType()
            return lt if _priority(lt) >= _priority(rt) else rt
        if isinstance(expr, A.Neg):
            return static_dtype(expr.expr, ctx)
        if isinstance(expr, A.FuncCall):
            return _FUNC_STATIC_TYPES.get(expr.name.lower())
        if isinstance(expr, A.BinCond):
            lt = static_dtype(expr.then, ctx)
            rt = static_dtype(expr.els, ctx)
            if lt is None or rt is None or type(lt) is type(rt):
                return lt if lt is not None else rt
            if _priority(lt) >= 0 and _priority(rt) >= 0:
                return lt if _priority(lt) >= _priority(rt) else rt
            return None
        if isinstance(expr, A.DerefTuple):
            # fused mode: `A.x` projects the group bag → a pre-group
            # source column whose type we know exactly
            if ctx.mode == "fused" and isinstance(expr.base, A.NamedField) \
                    and expr.base.name == ctx.bag_name \
                    and isinstance(expr.field, A.NamedField):
                return ctx.dtype(S.resolve_column(ctx.columns,
                                                  expr.field.name))
            base = static_dtype(expr.base, ctx)
            if isinstance(base, T.StructType) and isinstance(expr.field, A.NamedField):
                return base[expr.field.name].dataType
            if isinstance(base, T.ArrayType) and \
                    isinstance(base.elementType, T.StructType) and \
                    isinstance(expr.field, A.NamedField):
                # bag projection `B.x`: the ELEMENT type — what the
                # correlated-aggregate fold sees (r03, integral-sum
                # type preservation)
                return base.elementType[expr.field.name].dataType
            return None
    except (S.UnknownFieldError, S.AmbiguousFieldError, KeyError):
        return None
    return None


def _priority(dt: T.DataType) -> int:
    order = [T.IntegerType, T.LongType, T.FloatType, T.DoubleType]
    for i, t in enumerate(order):
        if isinstance(dt, t):
            return i
    return -1


def resolve_named(expr: A.NamedField, ctx: Ctx) -> str:
    return S.resolve_column(ctx.columns, expr.name, expr.lineage)


def _children(e: A.Expr) -> Iterator[tuple[str, Any, list]]:
    """(field name, value, value as a list) of each field of ``e`` that
    holds an expression or a list/tuple holding one."""
    for f in dataclasses.fields(e):
        v = getattr(e, f.name)
        items = list(v) if isinstance(v, (list, tuple)) else [v]
        if any(isinstance(x, A.Expr) for x in items):
            yield f.name, v, items


def iter_expr(e: A.Expr,
              prune: Callable[[A.Expr], bool] = lambda n: False
              ) -> Iterator[A.Expr]:
    """Every node of the expression tree rooted at ``e``, pre-order;
    the subtree below a node for which ``prune`` holds is skipped."""
    yield e
    if not prune(e):
        for _, _, items in _children(e):
            for x in items:
                if isinstance(x, A.Expr):
                    yield from iter_expr(x, prune)


def map_expr(e: A.Expr,
             fn: Callable[[A.Expr], Optional[A.Expr]]) -> A.Expr:
    """``e`` with every node for which ``fn`` returns a replacement
    swapped for it, pre-order (a replaced node's subtree is not
    visited). Unchanged subtrees are shared, not copied."""
    new = fn(e)
    if new is not None:
        return new
    kw = {}
    for name, v, items in _children(e):
        out = [map_expr(x, fn) if isinstance(x, A.Expr) else x
               for x in items]
        if any(a is not b for a, b in zip(items, out)):
            kw[name] = type(v)(out) if isinstance(v, (list, tuple)) \
                else out[0]
    return dataclasses.replace(e, **kw) if kw else e


def compile_expr(expr: A.Expr, ctx: Ctx) -> Column:
    if isinstance(expr, A.Literal):
        return F.lit(expr.value)

    if isinstance(expr, A.NamedField):
        # nested-FOREACH intermediate alias?
        if expr.name in ctx.nested_bags:
            return ctx.nested_bags[expr.name].as_column(ctx)
        if ctx.mode == "fused" and expr.name == ctx.bag_name and not ctx.in_agg:
            # bare bag ref outside an aggregate → the materialized bag
            return F.collect_list(
                F.struct(*[ctx.col(c) for c in ctx.columns]))
        return ctx.col(resolve_named(expr, ctx))

    if isinstance(expr, A.PositionalField):
        return ctx.col(S.positional(ctx.columns, expr.pos))

    if isinstance(expr, A.Star):
        return F.struct(*[ctx.col(c) for c in ctx.columns])

    if isinstance(expr, A.DerefTuple):
        return compile_deref(expr, ctx)

    if isinstance(expr, A.DerefMap):
        base = compile_expr(expr.base, ctx)
        return base[expr.key]

    if isinstance(expr, A.BinOp):
        return compile_binop(expr, ctx)

    if isinstance(expr, A.Neg):
        return -compile_expr(expr.expr, ctx)

    if isinstance(expr, A.CastExpr):
        inner = compile_expr(expr.expr, ctx)
        return inner.cast(S.pig_to_spark(expr.pig_type))

    if isinstance(expr, A.FuncCall):
        return compile_func(expr, ctx)

    if isinstance(expr, A.TupleCons):
        return F.struct(*[compile_expr(e, ctx) for e in expr.exprs])

    if isinstance(expr, A.BagCons):
        elems = []
        for e in expr.exprs:
            c = compile_expr(e, ctx)
            if isinstance(e, (A.TupleCons,)):
                elems.append(c)
            else:
                # uniform field name so array element types unify
                elems.append(F.struct(c.alias("_0")))
        return F.array(*elems)

    if isinstance(expr, A.MapCons):
        return F.create_map(*[compile_expr(e, ctx) for e in expr.exprs])

    if isinstance(expr, A.Cmp):
        return compile_cmp(expr, ctx)

    if isinstance(expr, A.And):
        return compile_expr(expr.left, ctx) & compile_expr(expr.right, ctx)

    if isinstance(expr, A.Or):
        return compile_expr(expr.left, ctx) | compile_expr(expr.right, ctx)

    if isinstance(expr, A.Not):
        return ~compile_expr(expr.expr, ctx)

    if isinstance(expr, A.IsNull):
        c = compile_expr(expr.expr, ctx)
        return c.isNotNull() if expr.negated else c.isNull()

    if isinstance(expr, A.BinCond):
        # Pig bincond (p ? a : b) — CaseWhen, stays in codegen. Two
        # WHEN branches and no OTHERWISE: a NULL condition matches
        # neither and yields NULL (Pig's documented bincond behavior),
        # not the else value. CaseWhen branches each re-evaluate the
        # condition expression, which is wrong for a NONDETERMINISTIC
        # condition (RANDOM() < 0.5 could be false in both branches →
        # spurious NULL); those can never be NULL, so they take the
        # single-evaluation when/otherwise form instead.
        cond = compile_expr(expr.cond, ctx)
        then = compile_expr(expr.then, ctx)
        els = compile_expr(expr.els, ctx)
        if _is_nondeterministic(expr.cond):
            return F.when(cond, then).otherwise(els)
        return F.when(cond, then).when(~cond, els)

    raise CompileError(f"cannot compile expression {expr!r}")


def _is_nondeterministic(expr: A.Expr) -> bool:
    """Whether an expression (sub)tree contains a nondeterministic
    builtin call (RANDOM). User UDFs are assumed deterministic."""
    return any(isinstance(n, A.FuncCall) and n.name.lower() == "random"
               for n in iter_expr(expr))


def compile_deref(expr: A.DerefTuple, ctx: Ctx) -> Column:
    """`a.b`: struct-field access, bag-column projection, or (fused mode)
    projection of the group bag → pre-group column."""
    base = expr.base
    fname = (expr.field.name if isinstance(expr.field, A.NamedField)
             else expr.field.pos)

    if isinstance(base, A.NamedField):
        # inside a HOF lambda over this bag (correlated bag-aggregate
        # expressions): bag.field = the lambda element's field
        elems = getattr(ctx, "bag_elements", None)
        if elems and base.name in elems:
            elem = elems[base.name]
            if isinstance(fname, int):
                dt = static_dtype(base, ctx)
                if isinstance(dt, T.ArrayType) and \
                        isinstance(dt.elementType, T.StructType):
                    fname = dt.elementType.names[fname]
            return elem[fname]
        # fused mode: BagName.x → pre-group column x (inside aggregates)
        # or collect_list(x) (bare bag projection)
        if ctx.mode == "fused" and base.name == ctx.bag_name:
            if isinstance(fname, int):
                col = ctx.col(S.positional(ctx.columns, fname))
            else:
                col = ctx.col(S.resolve_column(ctx.columns, fname))
            return col if ctx.in_agg else F.collect_list(col)
        # nested bag alias
        if base.name in ctx.nested_bags:
            return ctx.nested_bags[base.name].project(fname, ctx)
        # 'group' composite key: group.f1
        if base.name == "group" and "group" in ctx.columns:
            g = ctx.col("group")
            if isinstance(ctx.dtype("group"), T.StructType):
                return g[fname] if not isinstance(fname, int) else g[
                    ctx.dtype("group").names[fname]]
            return g

    base_col = compile_expr(base, ctx)
    base_dt = static_dtype(base, ctx)
    if isinstance(base_dt, T.ArrayType):
        # bag projection: one column per element
        if isinstance(fname, int):
            elem = base_dt.elementType
            if isinstance(elem, T.StructType):
                fname = elem.names[fname]
        return F.transform(base_col, lambda x: x[fname])
    if isinstance(fname, int):
        if isinstance(base_dt, T.StructType):
            fname = base_dt.names[fname]
        else:
            raise CompileError(f"positional deref on non-struct: {expr!r}")
    return base_col[fname]


_STRING_FUNCS = {"concat", "lower", "upper", "trim", "substring", "replace",
                 "tostring", "normalize_text", "fingerprint", "langid",
                 "regex_extract"}


def _is_stringy(e: A.Expr) -> bool:
    """Definitely-string expression (vs an untyped bytearray column
    that must behave numerically): string literal, chararray cast, a
    string-returning function, or a concat chain."""
    if isinstance(e, A.Literal):
        return e.pig_type == "chararray"
    if isinstance(e, A.CastExpr):
        return e.pig_type == "chararray"
    if isinstance(e, A.FuncCall):
        return e.name.lower() in _STRING_FUNCS
    if isinstance(e, A.BinOp) and e.op == "+":
        return _is_stringy(e.left) or _is_stringy(e.right)
    return False


def compile_binop(expr: A.BinOp, ctx: Ctx) -> Column:
    # `"POINT(" + lat + " " + lon` — reference Scala codegen makes `+`
    # string concatenation when an operand is a string (spatialfilter.pig)
    if expr.op == "+" and (_is_stringy(expr.left) or _is_stringy(expr.right)):
        left = compile_expr(expr.left, ctx).cast("string")
        right = compile_expr(expr.right, ctx).cast("string")
        return F.concat(left, right)
    lt, rt = static_dtype(expr.left, ctx), static_dtype(expr.right, ctx)
    left = compile_expr(expr.left, ctx)
    right = compile_expr(expr.right, ctx)
    # bytearray (string) operands behave numerically: escalate to double
    # (ArithmeticExpr.scala:175-200)
    if _is_string(lt) or lt is None:
        left = left.cast("double")
        lt = T.DoubleType()
    if _is_string(rt) or rt is None:
        right = right.cast("double")
        rt = T.DoubleType()
    if expr.op == "+":
        return left + right
    if expr.op == "-":
        return left - right
    if expr.op == "*":
        return left * right
    if expr.op == "%":
        return left % right
    if expr.op == "/":
        res = left / right
        # Pig int/int → int division (Java semantics: truncate toward 0)
        if _is_int(lt) and _is_int(rt):
            target = "long" if isinstance(lt, T.LongType) or isinstance(
                rt, T.LongType) else "int"
            return res.cast(target)
        return res
    raise CompileError(f"unknown arithmetic op {expr.op}")


def compile_cmp(expr: A.Cmp, ctx: Ctx) -> Column:
    lt, rt = static_dtype(expr.left, ctx), static_dtype(expr.right, ctx)
    left = compile_expr(expr.left, ctx)
    right = compile_expr(expr.right, ctx)
    # untyped column vs numeric literal → numeric comparison
    if _is_string(lt) and rt is not None and isinstance(rt, T.NumericType):
        left = left.cast("double")
    if _is_string(rt) and lt is not None and isinstance(lt, T.NumericType):
        right = right.cast("double")
    op = expr.op
    if op == "==":
        return left == right
    if op == "!=":
        return left != right
    if op == "<":
        return left < right
    if op == "<=":
        return left <= right
    if op == ">":
        return left > right
    if op == ">=":
        return left >= right
    if op == "matches":
        # Pig `matches` = full-string regex (String.matches) — anchor
        # column-valued patterns too
        if isinstance(expr.right, A.Literal):
            return left.rlike(f"^(?:{expr.right.value})$")
        return F.regexp_like(
            left, F.concat(F.lit("^(?:"), right, F.lit(")$")))
    raise CompileError(f"unknown comparison {op}")


def _flatten_string_concat(e: A.Expr) -> list:
    """Flatten a Pig string-concat `+` chain into its segments,
    mirroring compile_binop's concat decision exactly (a BinOp `+`
    with a stringy side concatenates; anything else is one segment)."""
    if isinstance(e, A.BinOp) and e.op == "+" \
            and (_is_stringy(e.left) or _is_stringy(e.right)):
        return _flatten_string_concat(e.left) \
            + _flatten_string_concat(e.right)
    return [e]


def _is_str_lit(e: A.Expr, value: str) -> bool:
    return (isinstance(e, A.Literal) and e.pig_type == "chararray"
            and e.value == value)


# builtins whose arguments after the first must be raw Python strings
# (a regex, needle or JSONPath): a Column there would be resolved as a
# column name or stringified
_RAW_STR_TAIL = frozenset(["strsplit", "regex_extract", "indexof",
                           "json_get"])


def _check_arity(name: str, n: int) -> None:
    """Raise CompileError, at build time, when a builtin scalar gets a
    number of arguments its definition does not take."""
    sig = inspect.signature(builtins.SCALARS[name])
    try:
        sig.bind(*range(n))
        return
    except TypeError:
        pass
    pos = [p for p in sig.parameters.values()
           if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)]
    lo = sum(p.default is p.empty for p in pos)
    hi = None if any(p.kind is p.VAR_POSITIONAL
                     for p in sig.parameters.values()) else len(pos)
    if hi is not None and n > hi:
        want = f"at most {hi}" if lo < hi else str(hi)
    else:
        want = str(lo) if lo == hi else f"at least {lo}"
    raise CompileError(f"{name.upper()} takes {want} argument(s), got {n}")


def scalar_args(expr: A.FuncCall, compile_arg: Callable[[A.Expr], Any],
                lit: Callable[[Any], Any] = F.lit,
                raw: Callable[[Any], Any] = lambda v: v) -> list:
    """The arguments of a call to ``builtins.SCALARS[name]`` — one rule
    for the engine and for generated code (codegen passes source-text
    callables). A matrix constructor's bag argument unrolls to its
    elements: ``ddmatrix(2, 3, {v1, v2, ...})``. Number and boolean
    literals pass ``raw`` (builders need Python values for ROUND's
    scale, SUBSTRING's bounds, matrix dims). String literals pass
    ``lit`` — a raw string would resolve as a column name — except the
    tail of the ``_RAW_STR_TAIL`` builders. Every other argument goes
    through ``compile_arg``. Arity, JSON_GET's literal path and ROUND's
    integer literal scale are checked here, at build time."""
    name = expr.name.lower()
    args = list(expr.args)
    if name.endswith("matrix") and len(args) == 3 and \
            isinstance(args[2], A.BagCons):
        args = args[:2] + args[2].exprs
    _check_arity(name, len(args))
    if name == "json_get" and not (isinstance(args[1], A.Literal)
                                   and isinstance(args[1].value, str)):
        raise CompileError("JSON_GET path must be a string literal")
    if name == "round" and len(args) == 2:
        scale = args[1]
        try:
            builtins._round_scale(
                scale.value if isinstance(scale, A.Literal) else scale)
        except ValueError as e:
            raise CompileError(str(e)) from None

    def conv(i: int, a: A.Expr):
        if not isinstance(a, A.Literal):
            return compile_arg(a)
        if isinstance(a.value, str) and not (name in _RAW_STR_TAIL
                                             and i >= 1):
            return lit(a.value)
        return raw(a.value)

    return [conv(i, a) for i, a in enumerate(args)]


def compile_func(expr: A.FuncCall, ctx: Ctx) -> Column:
    name = expr.name.lower()

    if builtins.is_aggregate(name):
        # ISEMPTY/NONEMPTY are overloaded on chararray in the
        # reference (UDF.scala maps them to PigFuncs.strIsEmpty /
        # strNonEmpty as non-aggregates) — dispatch on the static
        # argument type the way its typed funcTable does.
        if name in ("isempty", "nonempty") and len(expr.args) == 1:
            dt = static_dtype(expr.args[0], ctx)
            if isinstance(dt, T.StringType):
                c = compile_expr(expr.args[0], ctx)
                return (F.length(c) == 0) if name == "isempty" \
                    else (F.length(c) > 0)
        return compile_aggregate(expr, ctx)

    # r10: geometry('POINT(' + x + ' ' + y + ')') — the dominant
    # spatial idiom builds a WKT string per row only to regex-parse
    # it straight back (measured 1.39 s vs 0.16 s for 100k points at
    # sf0.1). When the argument is exactly that concat template with
    # NUMERIC x/y, construct the (gtype, xs, ys) struct directly.
    # Exact equivalence: the old path casts x to string (concat),
    # then the parser casts the token back to double — reproduced
    # verbatim as x.cast(string).cast(double) (NOT a direct numeric
    # cast: a float's shortest-decimal string re-parses to a
    # different double than float→double widening). Numeric string
    # forms never contain the parser's delimiters, and a NULL x or y
    # nulls the whole WKT → a struct with all-null fields, mirrored
    # by the when() guards.
    if name == "geometry" and len(expr.args) == 1:
        segs = _flatten_string_concat(expr.args[0])
        if (len(segs) == 5
                and _is_str_lit(segs[0], "POINT(")
                and _is_str_lit(segs[2], " ")
                and _is_str_lit(segs[4], ")")
                and isinstance(static_dtype(segs[1], ctx),
                               T.NumericType)
                and isinstance(static_dtype(segs[3], ctx),
                               T.NumericType)):
            xs_ = compile_expr(segs[1], ctx).cast("string")
            ys_ = compile_expr(segs[3], ctx).cast("string")
            ok = xs_.isNotNull() & ys_.isNotNull()
            return F.struct(
                F.when(ok, F.lit("POINT")).alias("gtype"),
                F.when(ok, F.array(xs_.cast("double"))).alias("xs"),
                F.when(ok, F.array(ys_.cast("double"))).alias("ys"))

    # classic-Pig TOP(n, field, bag): the n largest tuples of the bag
    # by the given field (index or name). Needs the bag's static
    # schema to resolve a positional field, so it's handled here
    # rather than in the SCALARS registry. Runs entirely on arrays
    # (sort+slice per row) — no shuffle.
    if name == "top" and len(expr.args) == 3:
        n_arg, f_arg, bag_arg = expr.args
        if not isinstance(n_arg, A.Literal):
            raise CompileError("TOP(n, field, bag): n must be a literal")
        n = int(n_arg.value)
        fname = f_arg.value if isinstance(f_arg, A.Literal) else (
            f_arg.name if isinstance(f_arg, A.NamedField) else None)
        if fname is None:
            raise CompileError(
                "TOP(n, field, bag): field must be an index or name")
        if ctx.mode == "fused" and isinstance(bag_arg, A.NamedField) \
                and bag_arg.name == ctx.bag_name:
            # FOREACH over a lazy GROUP: TOP compiles to ONE
            # collect_list aggregate of (key, tuple) structs + an
            # array sort/slice — the per-group bag materializes only
            # because TOP's result inherently is one (the rest of the
            # FOREACH stays fused)
            cols = list(ctx.columns)
            if isinstance(fname, int):
                fname = S.positional(cols, fname)
            elem = F.struct(*[ctx.col(c) for c in cols])
            keyed = F.collect_list(
                F.struct(ctx.col(fname).alias("_k"), elem.alias("_t")))
            return F.transform(
                F.slice(F.reverse(F.array_sort(keyed)), 1, n),
                lambda s: s["_t"])
        bag = compile_expr(bag_arg, ctx)
        dt = static_dtype(bag_arg, ctx)
        if isinstance(fname, int):
            if not (isinstance(dt, T.ArrayType)
                    and isinstance(dt.elementType, T.StructType)):
                raise CompileError(
                    "TOP with a positional field needs a bag of tuples")
            fname = dt.elementType.names[fname]
        keyed = F.transform(
            bag, lambda x: F.struct(x[fname].alias("_k"), x.alias("_t")))
        return F.transform(
            F.slice(F.reverse(F.array_sort(keyed)), 1, n),
            lambda s: s["_t"])

    if name in builtins.SCALARS:
        return builtins.SCALARS[name](
            *scalar_args(expr, lambda a: compile_expr(a, ctx)))

    # user-registered function (DEFINE / embedded python / registry)
    fn = ctx.udfs.get(expr.name) or ctx.udfs.get(name)
    if fn is not None:
        args = [compile_expr(a, ctx) for a in expr.args]
        return fn(*args)

    import difflib
    known = list(builtins.SCALARS) + list(builtins.AGGREGATES) + \
        list(ctx.udfs)
    close = difflib.get_close_matches(name, known, n=3, cutoff=0.6)
    hint = f"; did you mean {', '.join(c.upper() for c in close)}?" \
        if close else ""
    raise CompileError(f"unknown function {expr.name!r}{hint}")


def _bag_bases_in(e: A.Expr, ctx: Ctx) -> set[str]:
    """Names of bag (array<struct>) columns dereferenced anywhere in
    the expression tree."""
    found = set()
    for n in iter_expr(e):
        if isinstance(n, A.DerefTuple) and isinstance(n.base, A.NamedField):
            dt = static_dtype(n.base, ctx)
            if isinstance(dt, T.ArrayType) and \
                    isinstance(dt.elementType, T.StructType):
                found.add(n.base.name)
    return found


def _nested_deref(n: A.Expr, bags: dict) -> Optional[str]:
    """The nested-bag alias ``n`` dereferences (``f.x``), if any."""
    if isinstance(n, A.DerefTuple) and isinstance(n.base, A.NamedField) \
            and n.base.name in bags:
        return n.base.name
    return None


def _nested_bag_refs(e: A.Expr, ctx: Ctx) -> Optional[set[str]]:
    """Nested-bag aliases referenced inside the expression tree —
    field derefs (``f.x``) of whole-tuple bags, or bare names of
    PROJECTED bags (``s`` in ``SUM(s * 2)``, an element-wise use).
    None if a reference isn't strippable to pre-group columns (a bare
    whole-tuple bag, or a deref of a projected bag)."""
    bags = ctx.nested_bags
    found: set[str] = set()
    for n in iter_expr(e, lambda m: _nested_deref(m, bags) is not None):
        deref = _nested_deref(n, bags)
        name = deref or (n.name if isinstance(n, A.NamedField) else None)
        if name not in bags:
            continue
        # a deref needs a whole-tuple bag, a bare name a projected one
        if (bags[name].proj is None) != (deref is not None):
            return None
        found.add(name)
    return found


def _strip_nested_refs(e: A.Expr, bname: str, bag) -> A.Expr:
    """Rewrite ``bname.field`` derefs (whole-tuple bags) or bare
    ``bname`` refs (projected bags) to plain pre-group field refs —
    the fused-aggregation view of the bag."""
    def strip(n: A.Expr) -> Optional[A.Expr]:
        if _nested_deref(n, {bname: bag}):
            if isinstance(n.field, A.PositionalField) \
                    and bag.whole_cols is not None:
                return A.NamedField(name=bag.whole_cols[n.field.pos])
            return n.field
        if isinstance(n, A.NamedField) and n.name == bname \
                and bag.proj is not None:
            return A.NamedField(name=bag.proj)
        return None
    return map_expr(e, strip)


def compile_aggregate(expr: A.FuncCall, ctx: Ctx) -> Column:
    """Aggregate call: COUNT(A), SUM(A.x), AVG(A.f2)…

    fused mode → the aggregate's ``fused`` form, Catalyst partial+final
    aggregation over pre-group columns (the 100 TB path); row mode →
    its ``array`` form over the materialized bag.
    """
    name = expr.name.lower()
    spec = builtins.AGGREGATES[name]
    arg = expr.args[0] if expr.args else None

    if ctx.mode == "fused":
        if arg is None or isinstance(arg, A.Star):
            return spec.fused(F.lit(1))
        if isinstance(arg, A.NamedField):
            if arg.name == ctx.bag_name:
                # COUNT(A) over the whole bag
                return spec.fused() if name in builtins.SIZE_ONLY \
                    else spec.fused(F.struct(*[ctx.col(c) for c in ctx.columns]))
            if arg.name in ctx.nested_bags:
                return ctx.nested_bags[arg.name].aggregate(name, ctx)
        if isinstance(arg, A.DerefTuple) and \
                isinstance(arg.base, A.NamedField) and \
                arg.base.name in ctx.nested_bags:
            # SUM(f.x) over a nested alias: f.x is an ARRAY of
            # scalars, so fold it — the fused F.sum/F.avg would get
            # an array and fail to resolve (r06 fuzzer find)
            bag = ctx.nested_bags[arg.base.name]
            fname = (arg.field.name
                     if isinstance(arg.field, A.NamedField)
                     else arg.field.pos)
            if isinstance(fname, int) and bag.whole_cols is not None:
                fname = bag.whole_cols[fname]
            if isinstance(fname, str) and name in bag._FILTER_FUSABLE:
                pred = bag.filter_pred(ctx)
                if pred is not None:
                    # FILTER-only bag → Catalyst partial aggregation
                    return builtins.filter_aggregate(name, pred,
                                                     bag.src[fname])
            et = (bag.src.schema[fname].dataType
                  if bag.proj is None and fname in bag.src.columns
                  else None)
            return spec.array(bag.project(fname, ctx), et)
        # composite expression over ONE nested bag that is a plain or
        # FILTER-only view of the group's rows (`SUM(f.x * 2)`):
        # rewrite bag-field derefs to pre-group columns, compile the
        # full expression, gate on the filter predicate — Catalyst
        # partial aggregation (an attempt to compile the deref inline
        # would nest collect_list inside the aggregate, which Spark
        # rejects with NESTED_AGGREGATE_FUNCTION)
        if not isinstance(arg, (A.NamedField, A.DerefTuple)):
            bnames = _nested_bag_refs(arg, ctx)
            if bnames is not None and len(bnames) == 1:
                bname = next(iter(bnames))
                bag = ctx.nested_bags[bname]
                if not bag.ops or (
                        len(bag.ops) == 1 and bag.ops[0][0] == "filter"):
                    pred = bag.filter_pred(ctx)
                    if bag.proj is not None:
                        # a projected bag drops null scalars at
                        # collect time — BEFORE the expression maps
                        # them — so rows with a null projection must
                        # not reach the aggregate at all (e.g.
                        # SUM((s IS NULL ? 1 : 0)) is 0 over a bag)
                        nn = bag.src[bag.proj].isNotNull()
                        pred = nn if pred is None else (pred & nn)
                    stripped = _strip_nested_refs(arg, bname, bag)
                    prev, ctx.in_agg = ctx.in_agg, True
                    try:
                        col = compile_expr(stripped, ctx)
                    finally:
                        ctx.in_agg = prev
                    if pred is None:
                        return spec.fused(col)
                    return builtins.filter_aggregate(name, pred, col)
        prev, ctx.in_agg = ctx.in_agg, True
        try:
            col = compile_expr(arg, ctx)
        finally:
            ctx.in_agg = prev
        return spec.fused(col)

    # row mode: bags are materialized array<struct> columns
    if arg is None or isinstance(arg, A.Star):
        raise CompileError(f"cannot compile aggregate {expr!r} in row mode")
    bag_bases = set() if isinstance(arg, (A.NamedField, A.DerefTuple)) \
        else _bag_bases_in(arg, ctx)
    if len(bag_bases) == 1:
        # correlated bag expression: SUM((B.x != outer_col ? 1 : 0)) —
        # a COMPOSITE expression over exactly one bag compiles to
        # transform(bag, elem → expr) with outer references
        bname = next(iter(bag_bases))
        # resolve via lineage-suffix matching like every other column
        # ref — after joining grouped relations the bag column is
        # named 'GA::A' while the AST says 'A' (r05)
        bag_col = ctx.col(S.resolve_column(ctx.columns, bname))

        def mapper(e):
            # exactly one parameter: F.transform inspects the
            # callable's arity (a 2nd would be the element index)
            return compile_expr(arg, ctx.with_bag_element(bname, e))

        return spec.array(F.transform(bag_col, mapper),
                          static_dtype(arg, ctx))
    if name in builtins.SIZE_ONLY and isinstance(arg, A.DerefTuple) and \
            isinstance(static_dtype(arg.base, ctx), T.ArrayType):
        arg = arg.base  # COUNT(B.x) is the size of bag B
    # B.x projects the field out of bag B (its static type is the
    # element field's); a whole bag of tuples folds its first field
    arr, et = compile_expr(arg, ctx), static_dtype(arg, ctx)
    if isinstance(et, T.ArrayType):
        et = et.elementType
        if isinstance(et, T.StructType) and name not in builtins.SIZE_ONLY:
            f0 = et.names[0]
            arr = F.transform(arr, lambda x: x[f0])
            et = et[f0].dataType
    return spec.array(arr, et)
