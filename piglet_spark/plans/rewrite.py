"""Front-end plan rewrites.

Kept from the reference's rule set (rulesets/GeneralRuleset.scala) are
only the rewrites that are *language-level* — macro expansion
(:290-312, param substitution PigOperator.resolveParameters:137-158)
and SPLIT→filter routing (:99-130, done in the executor). Catalyst
already performs filter pushdown, combine-filters, combine-limits,
top-k fusion etc. (SURVEY.md §4.1), so those rules are intentionally
absent here.
"""

from __future__ import annotations

import dataclasses
from typing import Any

from . import ast as A


class RewriteError(Exception):
    pass


def _subst_expr(e: Any, mapping: dict[str, A.Expr], alias_map: dict[str, str]) -> Any:
    if isinstance(e, A.NamedField):
        if e.name in mapping and not e.lineage:
            return mapping[e.name]
        if e.name in alias_map and not e.lineage:
            return A.NamedField(name=alias_map[e.name])
        if e.lineage:
            lin = tuple(alias_map.get(x, x) for x in e.lineage)
            return A.NamedField(name=e.name, lineage=lin)
        return e
    if dataclasses.is_dataclass(e) and not isinstance(e, type):
        changes = {}
        for f in dataclasses.fields(e):
            v = getattr(e, f.name)
            nv = _subst_any(v, mapping, alias_map)
            if nv is not v:
                changes[f.name] = nv
        return dataclasses.replace(e, **changes) if changes else e
    return e


def _subst_text(s: str, mapping: dict[str, A.Expr]) -> str:
    """Substitute `$param` occurrences INSIDE string values (paths,
    SQL text, filter literals) — Apache Pig macro expansion is
    textual, so `LOAD '$path'` inside a macro body must receive the
    argument (r05: string payloads were passed through untouched and
    execution tried to read a file literally named $path)."""
    import re as _re
    for k, m in mapping.items():
        if not k.startswith("$") or k not in s:
            continue
        if isinstance(m, A.Literal):
            rep = str(m.value)
        elif isinstance(m, A.NamedField):
            rep = m.full
        else:
            continue
        s = _re.sub(_re.escape(k) + r"(?![A-Za-z0-9_])", rep, s)
    return s


def _subst_any(v: Any, mapping: dict[str, A.Expr], alias_map: dict[str, str]) -> Any:
    if isinstance(v, list):
        return [_subst_any(x, mapping, alias_map) for x in v]
    if isinstance(v, tuple):
        return tuple(_subst_any(x, mapping, alias_map) for x in v)
    if isinstance(v, dict):
        return {k: _subst_any(x, mapping, alias_map) for k, x in v.items()}
    if dataclasses.is_dataclass(v) and not isinstance(v, type):
        return _subst_expr(v, mapping, alias_map)
    if isinstance(v, str) and "$" in v:
        return _subst_text(v, mapping)
    return v


def _subst_str(s: str, mapping: dict[str, A.Expr], alias_map: dict[str, str]) -> str:
    if s in alias_map:
        return alias_map[s]
    if s in mapping:
        m = mapping[s]
        if isinstance(m, A.NamedField):
            return m.full
        if isinstance(m, A.Literal):
            return str(m.value)
    return s


def expand_macros(ops: list[A.Op]) -> list[A.Op]:
    """Expand MacroCall sites with the macro body, substituting `$param`
    refs with call arguments and renaming body-internal aliases."""
    macros: dict[str, A.DefineMacro] = {}
    out: list[A.Op] = []
    counter = [0]

    def _op_outs(op: A.Op) -> list[str]:
        # SPLIT defines its aliases in nested SplitBranch.out (r05:
        # they were invisible to alias renaming AND substitution, so
        # a macro containing SPLIT produced undefined/colliding
        # aliases)
        if isinstance(op, A.SplitInto):
            return [b.out for b in op.branches]
        return [op.out] if getattr(op, "out", None) else []

    def expand_call(call: A.MacroCall, depth: int = 0) -> list[A.Op]:
        if depth > 32:
            raise RewriteError(
                f"macro expansion depth exceeded at {call.name!r} — "
                f"recursive macros are not supported (Pig parity)")
        macro = macros.get(call.name)
        if macro is None:
            raise RewriteError(f"unknown macro {call.name!r}")
        if len(call.args) != len(macro.params):
            raise RewriteError(
                f"macro {call.name}: expected {len(macro.params)} args, "
                f"got {len(call.args)}"
            )
        counter[0] += 1
        n = counter[0]
        # $param → arg expr (both '$p' and 'p' spellings)
        mapping: dict[str, A.Expr] = {}
        for p, a in zip(macro.params, call.args):
            mapping[f"${p}"] = a
            mapping[p] = a
        # rename body-internal aliases; RETURNS alias → call output
        alias_map: dict[str, str] = {}
        for op in macro.body:
            for o in _op_outs(op):
                if o.lstrip("$") != macro.returns \
                        and o.lstrip("$") not in macro.params:
                    alias_map[o] = f"__{call.name}_{n}_{o.lstrip('$')}"
        if macro.returns:
            alias_map[macro.returns] = call.out
            alias_map[f"${macro.returns}"] = call.out
        expanded: list[A.Op] = []
        for op in macro.body:
            new_op = _subst_expr(op, mapping, alias_map)
            # rel-name string fields need alias/param mapping too
            str_fields = {}
            for f in dataclasses.fields(new_op):
                v = getattr(new_op, f.name)
                if f.name in ("rel", "out") and isinstance(v, str):
                    str_fields[f.name] = _subst_str(v, mapping, alias_map)
                elif f.name == "rels" and isinstance(v, list):
                    str_fields[f.name] = [_subst_str(x, mapping, alias_map)
                                          for x in v]
                elif f.name == "branches" and isinstance(v, list):
                    str_fields[f.name] = [
                        dataclasses.replace(
                            b, out=_subst_str(b.out, mapping, alias_map))
                        for b in v]
            if str_fields:
                new_op = dataclasses.replace(new_op, **str_fields)
            if isinstance(new_op, A.MacroCall):
                expanded.extend(expand_call(new_op, depth + 1))
            else:
                expanded.append(new_op)
        return expanded

    for op in ops:
        if isinstance(op, A.DefineMacro):
            macros[op.name] = op
        elif isinstance(op, A.MacroCall):
            out.extend(expand_call(op))
        else:
            out.append(op)
    return out


def consumer_counts(ops: list[A.Op]) -> dict[str, int]:
    """How many downstream operators consume each alias — the DAG-
    sharing signal the reference's adaptive materialization uses
    (mm/MaterializationManager.insertMaterializationPoints:99-280
    picks max-benefit points; we use the simple shared-subplan
    heuristic)."""
    import re

    outs: set[str] = set()
    for op in ops:
        if isinstance(op, A.SplitInto):
            outs.update(b.out for b in op.branches)
        elif op.out:
            outs.add(op.out)
    counts: dict[str, int] = {}
    for op in ops:
        ins = list(op.inputs)
        if isinstance(op, A.SqlStmt):
            # SQL consumes every alias its query text references
            # (no declared input list) — count them so auto_cache
            # persists shared subplans consumed via SQL too (r03)
            # case-insensitive like Spark SQL view resolution (r05)
            ins.extend(a for a in outs
                       if re.search(rf"\b{re.escape(a)}\b", op.query,
                                    re.IGNORECASE))
        for rel in ins:
            counts[rel] = counts.get(rel, 0) + 1
    return counts


# Reduction ops: output is (usually far) smaller than input, and the
# subtree below them carries at least one exchange — the sweet spot
# for a materialization point (small bytes stored, large recompute
# avoided). Joins/CROSS/Rank/Cube are deliberately absent: their
# output is input-sized or larger, so re-running the (often broadcast)
# join per consumer measured CHEAPER than materializing its output
# (tools/ckpt_ab.py: q14/q11's shared post-join projection read
# 0.87-0.97× with a checkpoint at sf1; the shared agg/distinct outputs
# of q21/q15 read 1.43×/1.15×).
_REDUCTION_OPS = (A.Group, A.CoGroup, A.Distinct, A.Intersection,
                  A.Difference)
# Single-input narrow ops a reduction may be seen through: `S = FOREACH
# G GENERATE …aggregates…` makes S, not G, the shared alias.
_NARROW_OPS = (A.Foreach, A.Filter, A.Limit, A.Sample)


def checkpoint_candidates(ops: list[A.Op],
                          counts: dict[str, int]) -> set[str]:
    """Aliases worth pinning with a non-eager localCheckpoint: consumed
    by 2+ downstream operators AND a reduction point — an aggregate/
    distinct output (possibly behind narrow ops). Without the pin,
    Spark re-executes the whole subtree once per consumer (the
    formatted plans of the TPC-H Q2/Q21 shapes show the grouped
    lineitem⋈orders subtree 3-4×; ReuseExchange never fires because
    per-consumer column pruning makes the duplicated exchanges
    structurally different).

    The executor gates each candidate on its input bytes when it is
    first read (materialization has a fixed cost that only pays off
    once the recomputed subtree reads enough data; measured crossover
    in tools/ckpt_ab.py).

    localCheckpoint (NOT persist): persist registers the analyzed plan
    in the session CacheManager, so a *later identical query* would
    silently read the cached result — cross-run result reuse that a
    benchmark must not get. A localCheckpoint is private to the
    DataFrame object that created it; a fresh run recomputes."""
    producers: dict[str, A.Op] = {}
    for op in ops:
        if isinstance(op, A.SplitInto):
            for b in op.branches:
                producers[b.out] = op
        elif op.out:
            producers[op.out] = op

    def is_reduction(alias: str, hops: int = 0) -> bool:
        op = producers.get(alias)
        if op is None or hops > 8:
            return False
        if isinstance(op, _REDUCTION_OPS):
            return True
        if isinstance(op, _NARROW_OPS) and len(op.inputs) == 1:
            return is_reduction(op.inputs[0], hops + 1)
        return False

    return {a for a, n in counts.items()
            if n >= 2 and is_reduction(a)}


def drop_order_before_group(ops: list[A.Op]) -> list[A.Op]:
    """Remove an ORDER BY whose ONLY consumer is a (CO)GROUP /
    DISTINCT — grouping destroys row order, so the global sort is a
    wasted range-partition shuffle. Reference parity:
    SparkRuleset.scala:33-47 ("Remove OrderBy later followed by
    GroupBy"); Catalyst does NOT do this (it keeps the Sort).

    DELIBERATE EXTENSION beyond the reference rule: the reference
    matches only the Grouping op; this version also bypasses a sort
    feeding DISTINCT or COGROUP. For ORDER→DISTINCT→STORE the stored
    row order can therefore differ from the reference (which keeps
    that sort). This is intentional: Pig's spec leaves row order
    after DISTINCT/COGROUP undefined (only a terminal ORDER BY
    guarantees output order), DISTINCT's hash-aggregate destroys the
    sort anyway, and dropping it saves a full range-partition
    shuffle. Callers that need ordered distinct output must sort
    AFTER the DISTINCT — same as in Pig itself.

    The OrderBy node is MARKED (``skip_sort``) rather than replaced:
    the executor emits identity for it — alias and grouped-bag names
    stay intact, Pig's bag order after GROUP is undefined anyway, and
    ``to_code`` ignores the mark (generated programs keep the sort —
    correct, just unoptimized). Only single-consumer sorts are
    bypassed — a sort also feeding a LIMIT / STORE / window stays."""
    counts = consumer_counts(ops)
    order_ops = {op.out: op for op in ops if isinstance(op, A.OrderBy)}
    for op in ops:
        if not isinstance(op, (A.Group, A.CoGroup, A.Distinct)):
            continue
        ins = op.rels if isinstance(op, A.CoGroup) else [op.rel]
        for rel in ins:
            src = order_ops.get(rel)
            if src is not None and counts.get(rel, 0) == 1:
                src.skip_sort = True
    return ops


def rewrite(ops: list[A.Op]) -> list[A.Op]:
    return drop_order_before_group(expand_macros(ops))
