"""Built-in Pig function library → native Spark Column builders.

Parity target: /root/reference/src/main/scala/dbis/piglet/udf/UDF.scala:28-75
and common/src/main/scala/dbis/piglet/CommonPigFuncs.scala:24-85.

Every function here stays JVM-side (pyspark.sql.functions) — no Python
UDFs in the hot path. Each aggregate has two forms, one definition of
its value and its type:

- ``fused``: operates on pre-group columns inside ``groupBy().agg()``
  (the scale path — partial aggregation, no bag materialization);
- ``array(arr, elem_type)``: folds an array of scalars — a
  materialized bag's field, a nested bag, or a correlated expression
  mapped over a bag — via higher-order functions. ``elem_type`` is the
  static element type, or None when unknown.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ------------------------------------------------------------ aggregates

class AggSpec:
    def __init__(self, fused: Callable[..., Column],
                 array: Callable[[Column, Optional[T.DataType]], Column]):
        self.fused = fused
        self.array = array


def _round_scale(s) -> int:
    """ROUND's scale must be a literal int — silently rounding to 0
    decimals for a column-valued scale was a wrong-result trap (r05).
    A boolean is not a scale, though Python counts it as an int."""
    if isinstance(s, int) and not isinstance(s, bool):
        return s
    raise ValueError(
        "ROUND scale must be an integer literal, got a "
        f"{type(s).__name__} (column-valued scales are unsupported)")


def _nonnull(arr: Column) -> Column:
    """The null-skipping base of every value fold (Pig/SQL semantics:
    NULL elements don't poison a fold and don't count in
    denominators)."""
    return F.filter(arr, lambda v: v.isNotNull())


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _array_sum(arr: Column, elem_type: Optional[T.DataType]) -> Column:
    """Accumulates in LONG over integral elements and in double
    otherwise — the types ``F.sum`` returns."""
    if isinstance(elem_type, _INTEGRAL):
        zero = F.lit(0).cast("long")
        return F.aggregate(arr, zero,
                           lambda a, x: a + F.coalesce(x.cast("long"), zero))
    return F.aggregate(arr, F.lit(0.0),
                       lambda a, x: a + F.coalesce(x.cast("double"),
                                                   F.lit(0.0)))


def _array_avg(arr: Column) -> Column:
    vals = _nonnull(arr)
    return F.when(F.size(vals) > 0, F.aggregate(
        vals, F.lit(0.0), lambda a, x: a + x.cast("double")) / F.size(vals))


def _array_median(arr: Column) -> Column:
    """Upper median of the non-null values (r05: nulls sort last, so a
    null-inclusive size skewed the index — [1, NULL, 2, 3] gave 3 where
    the fused form gives 2). ``try_element_at``: an all-null bag gives
    NULL under ANSI SQL too, not an index error."""
    vals = F.array_sort(_nonnull(arr))
    return F.try_element_at(vals,
                            (F.floor(F.size(vals) / 2) + 1).cast("int"))


def _array_var(arr: Column) -> Column:
    """Population variance over the non-null values, with a non-null
    denominator, like ``var_pop``."""
    vals = F.transform(_nonnull(arr), lambda v: v.cast("double"))
    n = F.size(vals).cast("double")
    s = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
    s2 = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x * x)
    return F.when(n > 0, s2 / n - (s / n) ** 2).otherwise(F.lit(None))


def _array_count(arr: Column, elem_type: Optional[T.DataType]) -> Column:
    return F.size(arr).cast("long")


AGGREGATES: dict[str, AggSpec] = {
    # COUNT counts all tuples of the bag incl. nulls
    # (CommonPigFuncs.scala:36) and returns long (SURVEY §2.9)
    "count": AggSpec(
        fused=lambda *cols: F.count(F.lit(1)),
        array=_array_count,
    ),
    # SUM/AVG skip NULL values (Pig + SQL aggregate semantics — a NULL
    # element must not poison the fold, and AVG's denominator counts
    # non-null values only). SUM of an all-NULL or empty bag is 0, not
    # NULL: reference parity (CommonPigFuncs.scala:38 sums an empty
    # Iterable to 0), in both forms and after COGROUP's empty-side
    # normalization. Both forms return long over integral values and
    # double otherwise.
    "sum": AggSpec(
        fused=lambda c: F.coalesce(F.sum(c), F.lit(0)),
        array=_array_sum,
    ),
    "min": AggSpec(
        fused=lambda c: F.min(c),
        array=lambda arr, et: F.array_min(arr),
    ),
    "max": AggSpec(
        fused=lambda c: F.max(c),
        array=lambda arr, et: F.array_max(arr),
    ),
    "avg": AggSpec(
        fused=lambda c: F.avg(c),
        array=lambda arr, et: _array_avg(arr),
    ),
    # upper median of the sorted sequence (CommonPigFuncs.scala:30-34);
    # both forms skip nulls (collect_list drops them; the array form
    # filters)
    "median": AggSpec(
        fused=lambda c: F.try_element_at(
            F.array_sort(F.collect_list(c)),
            (F.floor(F.count(c) / 2) + 1).cast("int"),
        ),
        array=lambda arr, et: _array_median(arr),
    ),
    "isempty": AggSpec(
        fused=lambda *c: F.count(F.lit(1)) == 0,
        array=lambda arr, et: F.size(arr) == 0,
    ),
    "nonempty": AggSpec(
        fused=lambda *c: F.count(F.lit(1)) > 0,
        array=lambda arr, et: F.size(arr) > 0,
    ),
    # beyond-reference but standard Pig builtins, cheap to support
    "count_star": AggSpec(
        fused=lambda *c: F.count(F.lit(1)),
        array=_array_count,
    ),
    "var": AggSpec(
        fused=lambda c: F.var_pop(c),
        array=lambda arr, et: _array_var(arr),
    ),
    "stddev": AggSpec(
        fused=lambda c: F.stddev_pop(c),
        array=lambda arr, et: F.sqrt(_array_var(arr)),
    ),
    # HyperLogLog++ cardinality (beyond-reference; the aggregate a
    # 100 TB pipeline actually uses where COUNT(DISTINCT x) would
    # shuffle every distinct value — HLL state is a few KB per group,
    # map-side combined). The array form is the exact distinct count
    # (already-materialized arrays are small by construction), null
    # skipped like approx_count_distinct.
    "approx_distinct": AggSpec(
        fused=lambda c: F.approx_count_distinct(c),
        array=lambda arr, et: F.size(
            _nonnull(F.array_distinct(arr))).cast("long"),
    ),
}


# aggregates that read only the size of their bag, not its values
SIZE_ONLY = frozenset(["count", "count_star", "isempty", "nonempty"])


def is_aggregate(name: str) -> bool:
    return name.lower() in AGGREGATES


def filter_aggregate(name: str, pred: Column,
                     col: Optional[Column] = None) -> Column:
    """Aggregate ``name`` over the rows of a nested ``FILTER`` bag, fused
    into Catalyst partial aggregation as ``agg(when(pred, x))`` — no
    per-group array. COUNT counts the kept tuples, null fields
    included; ISEMPTY/NONEMPTY test that count; the value aggregates
    fold ``col`` over the kept rows, skipping nulls as their array
    folds do."""
    if name in SIZE_ONLY:
        kept = F.count(F.when(pred, F.lit(1)))
        if name == "isempty":
            return kept == 0
        return kept > 0 if name == "nonempty" else kept
    return AGGREGATES[name].fused(F.when(pred, col))


# -------------------------------------------------------------- scalars

def _substring(c: Column, start, stop=None) -> Column:
    # Pig SUBSTRING(s, start[, stop]) — half-open, 0-based; the 2-arg
    # form runs to the end of the string (CommonPigFuncs.scala:66-67).
    # Out-of-range clamps to "" (Spark substring semantics) rather
    # than throwing like the reference's raw String.substring — the
    # null-on-error direction Pig itself takes.
    start = F.lit(start) if not isinstance(start, Column) else start
    if stop is None:
        return F.substring(c, start.cast("int") + F.lit(1),
                           F.lit(2147483647))
    stop = F.lit(stop) if not isinstance(stop, Column) else stop
    return F.substring(
        c, start.cast("int") + F.lit(1), (stop - start).cast("int")
    )


def _tokenize(c: Column) -> Column:
    # split on [, "] (CommonPigFuncs.scala:50); drop empty tokens the way
    # Scala's split drops trailing empties. Pig parity: bag of 1-field
    # tuples, so DUMP/STORE renders {(Mary),(had)}.
    arr = F.split(c, '[, "]')
    arr = F.filter(arr, lambda x: x != "")
    return F.transform(arr, lambda x: F.struct(x.alias("token")))


SCALARS: dict[str, Callable[..., Column]] = {
    "tokenize": _tokenize,
    # limit honored (r05: it was accepted and silently ignored) —
    # Java String.split semantics, same as Pig's STRSPLIT
    "strsplit": lambda c, pat=None, limit=None: F.split(
        c, pat if pat is not None else "\\s+",
        int(limit) if limit is not None else -1
    ),
    "startswith": lambda c, p: c.startswith(p),
    "endswith": lambda c, p: c.endswith(p),
    "strlen": lambda c: F.length(c),
    "size": lambda c: F.size(c),
    "lower": lambda c: F.lower(c),
    "upper": lambda c: F.upper(c),
    "concat": lambda *cs: F.concat(*cs),
    "strcontains": lambda c, s: c.contains(s),
    "trim": lambda c: F.trim(c),
    "substring": _substring,
    "indexof": lambda c, s: F.instr(c, s) - 1,
    "replace": lambda c, a, b: F.regexp_replace(c, a, b),
    "regex_extract": lambda c, pat, idx: F.regexp_extract(c, pat, idx),
    "todouble": lambda c: c.cast("double"),
    "toint": lambda c: c.cast("int"),
    "tolong": lambda c: c.cast("long"),
    "tofloat": lambda c: c.cast("float"),
    "tostring": lambda c: c.cast("string"),
    "tomap": lambda *cs: F.create_map(*cs),
    "totuple": lambda *cs: F.struct(*cs),
    "tobag": lambda *cs: F.array(*[F.struct(c) for c in cs]),
    "sqrt": lambda c: F.sqrt(c.cast("double")),
    "pow": lambda a, b: F.pow(
        a.cast("double") if isinstance(a, Column) else F.lit(float(a)),
        b.cast("double") if isinstance(b, Column) else F.lit(float(b))),
    "abs": lambda c: F.abs(c),
    "ceil": lambda c: F.ceil(c),
    "floor": lambda c: F.floor(c),
    "round": lambda c, s=0: F.round(c, _round_scale(s)),
    "log": lambda c: F.log(c.cast("double")),
    "log10": lambda c: F.log10(c.cast("double")),
    "exp": lambda c: F.exp(c.cast("double")),
    "random": lambda: F.rand(),
    # euclidean distance between two (x, y) points, flattened args
    # (UDF.scala:74 S_DISTANCE — STARK euclid; we take 4 coords)
    "s_distance": lambda x1, y1, x2, y2: F.sqrt(
        (x1.cast("double") - x2.cast("double")) ** 2
        + (y1.cast("double") - y2.cast("double")) ** 2
    ),
    # datetime helpers (streaming timestamps)
    "getsecond": lambda c: F.second(c),
    "getminute": lambda c: F.minute(c),
    "gethour": lambda c: F.hour(c),
    "getday": lambda c: F.dayofmonth(c),
    "getmonth": lambda c: F.month(c),
    "getyear": lambda c: F.year(c),
    # semi-structured extraction (beyond-reference; event `props`
    # columns): JSON_GET(col, 'k') / JSON_GET(col, '$.a.b') → string
    # (null on missing path / invalid JSON, Pig null-on-error style)
    "json_get": lambda c, path: F.get_json_object(
        c, path if str(path).startswith("$") else f"$.{path}"),
}


def _register_datapipe() -> None:
    """Expose the training-data-pipeline operators as Pig scalar
    functions (beyond-reference surface, SURVEY.md §7 step 10)."""
    from ..datapipe import text as dt

    SCALARS.update({
        "langid": dt.lang_id,
        "quality_score": dt.quality_score,
        "token_count": dt.ws_token_count,
        "bpe_token_count": dt.bpe_token_count,
        "fingerprint": dt.fingerprint,
        "normalize_text": dt.normalize_text,
        "ngrams": lambda c, n=3: dt.text_ngrams(
            dt.normalize_text(c), int(n)),
        "cosine_sim": _cosine_sim,
    })


def _cosine_sim(a: Column, b: Column) -> Column:
    from ..datapipe import similarity as sim
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return sim.cosine(ad, bd)


def _register_spatial_matrix() -> None:
    from . import matrix as mx
    from . import spatial as sp

    SCALARS.update({
        "geometry": sp.geometry,
        "st_contains": sp.contains,
        "st_containedby": sp.containedby,
        "st_intersects": sp.intersects,
        "st_distance": sp.distance,
        "contains": sp.contains,
        "containedby": sp.containedby,
        "intersects": sp.intersects,
    })
    mx.register(SCALARS)


_register_datapipe()
_register_spatial_matrix()


def lookup_scalar(name: str) -> Optional[Callable[..., Column]]:
    return SCALARS.get(name.lower())
