"""Profiler-driven automatic materialization — the PySpark-native port
of the reference's ``mm/`` subsystem:

- per-operator profiling stats persisted across runs
  (ref mm/DataflowProfiler.scala:55-120, mm/GlobalOperatorGraph.scala)
- candidate selection with a cost/benefit model: benefit =
  measured cost − estimated parquet read-back time
  (ref mm/MaterializationManager.scala:213-279 ``getCandidates``,
  cost constants piglet.conf `profiler.mibpersec*`)
- choose-point strategies MAXBENEFIT / MARKOV / LAST
  (ref mm/DataflowProfiler.scala:347-396)
- a persistent lineage→parquet cache map with eviction strategies
  NONE / LRU / KNAPSACK / KNAPSACK_RATIO and an optional admission
  check (ref mm/CacheManager.scala, mm/Eviction.scala, mm/CacheEntry.scala)
- plan splice-in on later runs: an alias whose lineage signature has a
  cached result is replaced by a parquet load and its ancestor chain
  is never executed (ref mm/MaterializationManager.scala:282-366
  ``loadIntermediateResults`` / ``replaceWithLoad``)

Execution-model differences from the reference (by design, not
omission): the reference rewrites a DataflowPlan before code
generation; here the engine interpreter consults the cache *while
building* DataFrames, so a hit simply binds the alias to a parquet
scan — the replaced ancestors were never more than unexecuted lazy
plans. Profiling is likewise not injected TimingOps but a bounded
post-run measurement pass over this run's new (never-seen) lineage
signatures; steady-state runs re-profile nothing.

Storage format is parquet (the engine's native interchange), playing
the role of the reference's BinStorage
(MaterializationManager.scala:20).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Optional

# ---------------------------------------------------------------- settings


@dataclass
class ProfilerSettings:
    """Ref ProfilerSettings (mm/DataflowProfiler.scala:401-420) +
    cost constants from piglet.conf (profiler.mibpersec*)."""
    min_benefit_sec: float = 0.0          # `benefit` (undefined -> any > 0)
    prob_threshold: float = float("nan")  # NaN -> disabled (piglet.conf:125)
    strategy: str = "maxbenefit"          # maxbenefit | markov | last
    eviction: str = "none"                # none | lru | knapsack | knapsack_ratio
    admission_check: bool = False
    cache_size: int = 1000 * 1024 ** 3    # "1000g" (piglet.conf:131)
    mib_per_sec_reading: float = 880.0    # piglet.conf:137
    mib_per_sec_writing: float = 100.0    # piglet.conf:138
    max_profile_actions: int = 32         # bound on per-run profiling jobs
    # fold input-file modification state (max mtime + total size) into
    # LOAD lineage signatures, so cached results invalidate when the
    # underlying files change. ON by default (r05): the silent
    # alternative is stale results from an unchanged script over
    # changed files. The reference keys lineage on the plan text only
    # (mm/DataflowProfiler lineageSignature); that contract is
    # reachable with check_inputs=False when stat-ing a
    # many-thousand-file dataset per run is too costly — the splice
    # then prints a visible stderr notice.
    check_inputs: bool = True

    @classmethod
    def from_options(cls, opts: Any) -> "ProfilerSettings":
        if isinstance(opts, ProfilerSettings):
            return opts
        ps = cls()
        if isinstance(opts, dict):
            for k, v in opts.items():
                k = k.lower()
                if k in ("benefit", "min_benefit", "min_benefit_sec"):
                    ps.min_benefit_sec = float(v)
                elif k in ("prob", "prob_threshold"):
                    ps.prob_threshold = float(v)
                elif k == "strategy":
                    ps.strategy = str(v).lower()
                elif k == "eviction":
                    ps.eviction = str(v).lower()
                elif k in ("admission", "admission_check"):
                    # string-safe like check_inputs: 'false' must
                    # disable, not truthy-cast to True (r05)
                    ps.admission_check = str(v).lower() not in (
                        "false", "0", "off", "no", "")
                elif k in ("cachesize", "cache_size"):
                    ps.cache_size = _parse_cache_size(v)
                elif k == "max_profile_actions":
                    ps.max_profile_actions = int(v)
                elif k == "check_inputs":
                    # string-safe: 'false'/'0'/'off' from a SET line
                    # must opt out, not truthy-cast to True
                    ps.check_inputs = str(v).lower() not in (
                        "false", "0", "off", "no", "")
        return ps


def _parse_cache_size(v) -> int:
    """'500m' / '10g' / '1000k' / plain bytes — ref Conf.scala:26
    ``cacheSizePattern`` (units are powers of 1024; unparseable
    strings mean unlimited, like the reference's wildcard case)."""
    import re as _re
    if isinstance(v, (int, float)):
        return int(v)
    m = _re.fullmatch(r"\s*(\d+)\s*([kmg]b?)?\s*", str(v), _re.IGNORECASE)
    if not m:
        return (1 << 63) - 1
    n = int(m.group(1))
    unit = (m.group(2) or "").lower().rstrip("b")
    power = {"": 0, "k": 1, "m": 2, "g": 3}[unit]
    return n * 1024 ** power


# ---------------------------------------------------------------- profiles


class ProfileStore:
    """Persistent per-lineage execution statistics — the rebuild's
    GlobalOperatorGraph (ref mm/GlobalOperatorGraph.scala): cost,
    result rows, bytes/record, and an occurrence count whose ratio to
    total runs is the reuse probability."""

    def __init__(self, base_dir: str):
        self.path = os.path.join(base_dir, "profilerstats.json")
        self.total_runs = 0
        self.ops: dict[str, dict[str, float]] = {}
        self._load()

    def _load(self) -> None:
        try:
            with open(self.path) as f:
                data = json.load(f)
            self.total_runs = int(data.get("total_runs", 0))
            self.ops = dict(data.get("ops", {}))
        except (OSError, ValueError):
            pass

    def save(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"total_runs": self.total_runs, "ops": self.ops}, f)
        os.replace(tmp, self.path)

    def incr_runs(self) -> None:
        self.total_runs += 1

    def seen(self, lineage: str) -> None:
        ent = self.ops.setdefault(lineage, {})
        ent["seen"] = ent.get("seen", 0) + 1

    def record(self, lineage: str, cost_ms: float, rows: int,
               bytes_per_record: float) -> None:
        ent = self.ops.setdefault(lineage, {})
        ent.update(cost_ms=float(cost_ms), rows=int(rows),
                   bytes_per_record=float(bytes_per_record))

    def has_measurement(self, lineage: str) -> bool:
        return "cost_ms" in self.ops.get(lineage, {})

    def prob(self, lineage: str) -> float:
        """Reuse probability = occurrences / total runs
        (ref MaterializationManager.scala:233 ``prob/totalRuns``)."""
        if self.total_runs <= 0:
            return 0.0
        return self.ops.get(lineage, {}).get("seen", 0) / self.total_runs


# ------------------------------------------------------------------- cache


@dataclass
class CacheEntry:
    """Ref mm/CacheEntry.scala."""
    lineage: str
    uri: str
    benefit_ms: float
    bytes: int
    last_loaded: Optional[float] = None
    written: Optional[float] = None
    use_count: int = 0
    fixed: bool = False


@dataclass
class MaterializationPoint:
    """Ref mm/MaterializationPoint.scala."""
    lineage: str
    prob: float
    cost_ms: float
    bytes: int
    benefit_ms: float = float("nan")


def _to_remove(init_size: int, to_process: list[CacheEntry],
               cache_size: int) -> list[CacheEntry]:
    """Ref Eviction.scala:36-53 ``toRemove``: walk the kept-first
    sorted list accumulating sizes; the first entry that no longer
    fits — and everything after it — is evicted."""
    total = init_size
    for i, e in enumerate(to_process):
        if total + e.bytes <= cache_size:
            total += e.bytes
        else:
            return to_process[i:]
    return []


def would_remove(strategy: str, new: CacheEntry, old: list[CacheEntry],
                 cache_size: int) -> list[CacheEntry]:
    """Eviction strategies, ported 1:1 from ref mm/Eviction.scala:56-104."""
    if strategy == "none":
        return []
    if new.bytes > cache_size:
        return [new]
    if strategy == "lru":
        proc = sorted([e for e in old if not e.fixed
                       and e.last_loaded is not None],
                      key=lambda e: e.last_loaded, reverse=True)
        return _to_remove(new.bytes, proc, cache_size)
    if strategy == "knapsack":
        proc = sorted([e for e in [new] + old if not e.fixed],
                      key=lambda e: e.benefit_ms, reverse=True)
        return _to_remove(0, proc, cache_size)
    if strategy == "knapsack_ratio":
        proc = sorted([e for e in [new] + old if not e.fixed],
                      key=lambda e: e.benefit_ms / max(e.bytes, 1),
                      reverse=True)
        return _to_remove(0, proc, cache_size)
    raise ValueError(f"unknown eviction strategy {strategy!r}")


class CacheManager:
    """Persistent lineage → materialized-result map
    (ref mm/CacheManager.scala; map file = materializations.json)."""

    def __init__(self, base_dir: str, settings: ProfilerSettings):
        self.base_dir = base_dir
        self.settings = settings
        self.path = os.path.join(base_dir, "materializations.json")
        self.entries: dict[str, CacheEntry] = {}
        self._load()

    def _load(self) -> None:
        try:
            with open(self.path) as f:
                raw = json.load(f)
            self.entries = {k: CacheEntry(**v) for k, v in raw.items()}
        except (OSError, ValueError, TypeError):
            pass

    def save(self) -> None:
        os.makedirs(self.base_dir, exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({k: vars(e) for k, e in self.entries.items()}, f)
        os.replace(tmp, self.path)

    def get_data_for(self, lineage: str) -> Optional[str]:
        """Path for cached results, marking the LRU timestamp
        (ref CacheManager.scala:44-47 + CacheEntry.markLoaded)."""
        e = self.entries.get(lineage)
        if e is None:
            return None
        e.last_loaded = time.time()
        e.use_count += 1
        self.save()
        return e.uri

    def insert(self, m: MaterializationPoint, path: str) -> bool:
        """Admission + eviction, ref CacheManager.scala:56-105."""
        s = self.settings
        entry = CacheEntry(m.lineage, path, _benefit_of(m), m.bytes,
                           last_loaded=time.time())
        if entry.bytes > s.cache_size:
            return False
        removed = would_remove(s.eviction, entry,
                               list(self.entries.values()), s.cache_size)
        if any(e.lineage == entry.lineage for e in removed):
            # the strategy chose to sacrifice the NEW entry itself: do
            # not insert. (The reference's replace() would re-add it —
            # an apparent bug we do not reproduce.)
            return False
        removed_benefit = sum(e.benefit_ms for e in removed)
        if s.admission_check and removed_benefit >= entry.benefit_ms:
            return False
        for e in removed:
            self.entries.pop(e.lineage, None)
            shutil.rmtree(e.uri, ignore_errors=True)
        entry.written = time.time()
        self.entries[entry.lineage] = entry
        self.save()
        return True

    def insert_fixed(self, lineage: str, path: str) -> None:
        """Pin an explicit MATERIALIZE result: never evicted
        (ref CacheManager.scala:108-119, fixed=true)."""
        self.entries[lineage] = CacheEntry(
            lineage, path, benefit_ms=0.0, bytes=-1,
            written=time.time(), fixed=True)
        self.save()

    def invalidate(self, lineage: Optional[str] = None) -> None:
        """Drop one entry (or all) — the stale-input escape hatch; the
        lineage signature keys on the script plan, not input-file
        mtimes (same contract as the reference)."""
        victims = [lineage] if lineage else list(self.entries)
        for k in victims:
            e = self.entries.pop(k, None)
            if e is not None:
                shutil.rmtree(e.uri, ignore_errors=True)
        self.save()


def _benefit_of(m: MaterializationPoint) -> float:
    return 0.0 if math.isnan(m.benefit_ms) else m.benefit_ms


# ----------------------------------------------------- choose strategies


def choose_points(strategy: str, candidates: list[MaterializationPoint],
                  sink_lineages: set[str]) -> list[MaterializationPoint]:
    """Ref mm/DataflowProfiler.scala:347-396 (MaterializeLast /
    MaxBenefit / Markov)."""
    if not candidates:
        return []
    if strategy == "last":
        return [c for c in candidates if c.lineage in sink_lineages]
    if strategy == "markov":
        best = max(candidates,
                   key=lambda c: c.prob * _benefit_of(c) / 1000.0)
        return [best]
    # maxbenefit (default, piglet.conf:120)
    return [max(candidates, key=_benefit_of)]


# ---------------------------------------------------------------- manager


class MaterializationManager:
    """Engine-facing facade (ref mm/MaterializationManager.scala:86).

    Per run: ``lookup`` splices cached results in while the plan is
    built; ``profile_and_insert`` measures this run's unseen operators
    and materializes the chosen point for future runs."""

    def __init__(self, base_dir: str, settings: ProfilerSettings):
        os.makedirs(base_dir, exist_ok=True)
        self.base_dir = base_dir
        self.settings = settings
        self.profiles = ProfileStore(base_dir)
        self.cache = CacheManager(base_dir, settings)
        # accounting for the last profile_and_insert call (tested):
        # profiled = count() actions paid; writes_from_measured = point
        # writes served from the persisted measurement (no recompute)
        self.stats_last_run: dict[str, int] = {}

    # ---- run-time splice-in (replaceWithLoad)

    def lookup(self, spark, lineage: str):
        """DataFrame for a cached lineage, or None. A hit means the
        producing operator AND its whole ancestor chain are replaced
        by one parquet scan (ref loadIntermediateResults,
        MaterializationManager.scala:282-366)."""
        uri = self.cache.get_data_for(lineage)
        if uri is None:
            return None
        try:
            return spark.read.parquet(uri)
        except Exception:
            # written by a crashed run / deleted out-of-band: heal the map
            self.cache.invalidate(lineage)
            return None

    # ---- post-run profiling + point insertion

    def profile_and_insert(self, executor, spliced: set[str],
                           run_aliases: Optional[set] = None) -> list[str]:
        """Measure unseen candidate aliases of this run, persist their
        stats, choose materialization point(s), write them as parquet,
        register cache entries. Returns the materialized lineages.

        ``run_aliases`` scopes profiling to aliases bound during the
        CURRENT run() call: one engine re-used across scripts must not
        re-count a previous script's signatures as seen this run
        (inflating markov/prob_threshold reuse probabilities) nor
        re-profile its stale aliases with extra count() actions."""
        from pyspark.sql import DataFrame
        from pyspark.storagelevel import StorageLevel

        self.profiles.incr_runs()
        candidates: list[MaterializationPoint] = []
        sink_lineages: set[str] = set()
        seen_sigs: set[str] = set()
        actions = 0
        by_sig: dict[str, Any] = {}
        # measured DataFrames are persisted so the chosen point's
        # parquet write re-reads the cached partitions instead of
        # recomputing the subplan from scratch (a first profiled run
        # used to pay each candidate ~twice); unpersisted at the end
        measured: dict[str, Any] = {}
        for alias, sig in executor.lineage.items():
            if run_aliases is not None and alias not in run_aliases:
                continue  # bound by a previous run() on this engine
            if alias in executor._loads or alias in spliced:
                continue  # sources and already-cached aliases
            rel = executor.env.get(alias)
            # only plain batch DataFrames are profiled/cacheable —
            # lazy (Co)GroupedRelations would have to materialize
            # their bags just to be measured, defeating the fusion
            if rel is None or not isinstance(rel, DataFrame) \
                    or rel.isStreaming:
                continue
            if sig not in seen_sigs:  # two aliases can share a sig
                seen_sigs.add(sig)    # (identical re-bound subplans);
                self.profiles.seen(sig)  # count the sig once per run
            if not self.profiles.has_measurement(sig):
                if actions >= self.settings.max_profile_actions:
                    continue
                pre = executor.df(alias)
                if isinstance(pre, DataFrame) and (
                        pre.storageLevel.useMemory
                        or pre.storageLevel.useDisk):
                    # already persisted (a run_all session splice or
                    # a shared-prefix persist): a count() here times
                    # the CACHE, not the recompute — recording that
                    # near-zero cost would permanently (has_measurement
                    # is sticky) exclude exactly the subplans most
                    # worth materializing (r05 review). Leave the sig
                    # unmeasured; a future run without the in-memory
                    # copy measures the true cost.
                    continue
                df = pre.persist(StorageLevel.MEMORY_AND_DISK)
                measured[sig] = df
                actions += 1
                t0 = time.perf_counter()
                try:
                    rows = df.count()
                except Exception:
                    df.unpersist()
                    del measured[sig]
                    continue  # e.g. ASSERT-guarded plans: never cache
                cost_ms = (time.perf_counter() - t0) * 1000.0
                bpr = _estimate_bytes_per_record(df)
                self.profiles.record(sig, cost_ms, rows, bpr)
            ent = self.profiles.ops[sig]
            if "cost_ms" not in ent:
                continue
            size_bytes = ent["rows"] * ent["bytes_per_record"]
            read_ms = size_bytes / (self.settings.mib_per_sec_reading
                                    * 1024 * 1024) * 1000.0
            # conservative pay-off-within-one-reuse policy: the one-off
            # parquet write cost is charged against the benefit, so a
            # point that costs more to write than a single reuse saves
            # is never chosen (r05: mib_per_sec_writing was declared
            # but unused — write cost was absent from the model)
            write_ms = size_bytes / (self.settings.mib_per_sec_writing
                                     * 1024 * 1024) * 1000.0
            benefit_ms = ent["cost_ms"] - read_ms - write_ms
            m = MaterializationPoint(
                sig, prob=self.profiles.prob(sig), cost_ms=ent["cost_ms"],
                bytes=int(size_bytes), benefit_ms=benefit_ms)
            by_sig[sig] = alias
            if benefit_ms > 0:
                candidates.append(m)
        self.profiles.save()

        # filters (ref MaterializationManager.scala:114-129)
        s = self.settings
        if s.min_benefit_sec > 0:
            candidates = [c for c in candidates
                          if c.benefit_ms >= s.min_benefit_sec * 1000.0]
        if not math.isnan(s.prob_threshold):
            candidates = [c for c in candidates if c.prob >= s.prob_threshold]
        candidates = [c for c in candidates
                      if c.lineage not in self.cache.entries]
        # "last" strategy operand: lineages of aliases feeding sinks /
        # consumed by nothing downstream (ref MaterializeLast,
        # DataflowProfiler.scala:371-380; set by PigEngine.run)
        sink_lineages = {c.lineage for c in candidates
                         if by_sig[c.lineage] in getattr(
                             executor, "terminal_aliases", set())}

        done: list[str] = []
        stats = {"profiled": actions, "writes": 0, "writes_from_measured": 0}
        for m in choose_points(s.strategy, candidates, sink_lineages):
            alias = by_sig[m.lineage]
            path = os.path.join(self.base_dir, f"auto_{m.lineage}")
            # a measured point writes from its persisted partitions —
            # the count() above was its single extra execution
            src = measured.get(m.lineage)
            stats["writes_from_measured"] += src is not None
            if src is None:
                src = executor.df(alias)
            try:
                src.write.mode("overwrite").parquet(path)
            except Exception:
                continue
            stats["writes"] += 1
            m.bytes = _dir_bytes(path, m.bytes)
            if self.cache.insert(m, path):
                done.append(m.lineage)
            else:
                shutil.rmtree(path, ignore_errors=True)
        shared = getattr(executor, "session_cache", {})
        for sig, df in measured.items():
            if sig in shared:
                # run_all's shared-subplan cache holds this very
                # DataFrame (persist() returns self) — unpersisting it
                # here would silently make every later script recompute
                # the shared prefix whenever profiling is on
                continue
            df.unpersist()
        self.stats_last_run = stats
        return done


def _estimate_bytes_per_record(df) -> float:
    """Schema-aware bytes/record estimate (the reference measures this
    via runtime instrumentation on a fraction of records,
    DataflowProfiler). Fixed-width columns are priced by type
    (Catalyst defaultSize semantics); variable-width columns (strings,
    binaries, arrays, maps, structs) are measured over a 64-row
    sample at their PAYLOAD size — the previous ``len(str(row))``
    proxy misestimated wide binary columns badly (r03 review: a repr
    of bytes is ~4× the payload), skewing benefit ranking. Selection
    needs ranking, not precision, but ranking across mixed
    text/binary candidates needs the scales to agree."""
    from pyspark.sql import types as T
    fixed_sizes = {T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
                   T.LongType: 8, T.FloatType: 4, T.DoubleType: 8,
                   T.BooleanType: 1, T.DateType: 4, T.TimestampType: 8,
                   T.TimestampNTZType: 8}
    fixed = 0.0
    var_fields = []
    for f in df.schema.fields:
        t = type(f.dataType)
        if t in fixed_sizes:
            fixed += fixed_sizes[t]
        elif isinstance(f.dataType, T.DecimalType):
            fixed += 16
        else:
            var_fields.append(f.name)
    if not var_fields:
        return max(fixed, 8.0)

    def vsize(v) -> float:
        if v is None:
            return 1.0
        if isinstance(v, (bytes, bytearray)):
            return float(len(v))
        if isinstance(v, str):
            return float(len(v.encode("utf-8", "ignore")))
        if isinstance(v, dict):
            return 4.0 + sum(vsize(k) + vsize(x) for k, x in v.items())
        if isinstance(v, (list, tuple)) or hasattr(v, "__fields__"):
            return 4.0 + sum(vsize(x) for x in v)
        return 8.0

    try:
        rows = df.select(*var_fields).limit(64).collect()
    except Exception:
        rows = []
    if not rows:
        return max(fixed + 32.0 * len(var_fields), 8.0)
    total = sum(sum(vsize(v) for v in r) for r in rows)
    return max(fixed + total / len(rows), 8.0)


def _dir_bytes(path: str, fallback: int) -> int:
    try:
        total = 0
        for root, _dirs, files in os.walk(path):
            for fn in files:
                total += os.path.getsize(os.path.join(root, fn))
        return total or fallback
    except OSError:
        return fallback
