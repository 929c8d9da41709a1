"""The benchmark's script mixes and their correctness checks.

Every mix draws its scripts from the repo's entry module,
`__spark_entry__.queries()`, and checks them against
`__spark_entry__.oracle_sql()` run in DuckDB.
"""

from __future__ import annotations

import inspect
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass

from pyspark.sql import functions as F

from datagen import TABLES

# Eight of `__spark_entry__`'s relational Pig scripts: grouped
# aggregates, 2- to 6-way joins, COGROUP, ORDER+LIMIT, nested FOREACH
# DISTINCT, FLATTEN and CUBE/ROLLUP.
RELATIONAL = [
    "q1_pricing_summary", "q3_top_revenue", "q5_region_revenue",
    "q13_custdist_cogroup", "q21_waiting_suppliers",
    "nested_foreach_distinct", "wordcount_flatten", "cube_rollup_grouping",
]
# Five of the registry's curation entries: four whose plan build runs
# eager Spark jobs, and dedup_exact, whose build runs none.
DATAPIPE = [
    "dedup_exact", "dedup_minhash_lsh", "quality_filter_report",
    "dsir_weights", "bloom_decontamination",
]
# pig_store_shared: six relational scripts, plus three that share a
# FILTER + JOIN prefix, which run_all persists once for all three
STORE_RELATIONAL = [
    "q1_pricing_summary", "q3_top_revenue", "q6_forecast_revenue",
    "q12_priority_lines", "q18_large_orders", "group_having",
]
SHARED_PREFIX = """
L = LOAD '$sf/lineitem.parquet' USING ParquetStorage();
O = LOAD '$sf/orders.parquet' USING ParquetStorage();
LF = FILTER L BY l_shipdate >= '1996-01-01' AND l_shipdate < '1999-01-01';
J = JOIN O BY o_orderkey, LF BY l_orderkey;
"""
SHARED_SQL_PREFIX = """
WITH j AS (SELECT * FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1999-01-01')
"""
SHARED = {  # name -> (script tail binding A, oracle query over j)
    "shared_by_priority": (
        """G = GROUP J BY o_orderpriority;
A = FOREACH G GENERATE group AS o_orderpriority, COUNT(J) AS n_lines,
    ROUND(SUM(J.l_extendedprice), 2) AS total;""",
        """SELECT o_orderpriority, COUNT(*) AS n_lines,
       ROUND(SUM(l_extendedprice), 2) AS total FROM j GROUP BY 1"""),
    "shared_by_flag": (
        """G = GROUP J BY (l_returnflag, l_linestatus);
A = FOREACH G GENERATE group.l_returnflag AS l_returnflag,
    group.l_linestatus AS l_linestatus, COUNT(J) AS n_lines,
    SUM(J.l_quantity) AS qty;""",
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines,
       SUM(l_quantity) AS qty FROM j GROUP BY 1, 2"""),
    "shared_by_status": (
        """G = GROUP J BY o_orderstatus;
A = FOREACH G GENERATE group AS o_orderstatus, COUNT(J) AS n_lines,
    ROUND(SUM(J.o_totalprice), 2) AS total;""",
        """SELECT o_orderstatus, COUNT(*) AS n_lines,
       ROUND(SUM(o_totalprice), 2) AS total FROM j GROUP BY 1"""),
}


def fingerprint(df) -> tuple[int, int]:
    """(row count, max xxhash64 over every column) in one aggregate:
    forces full evaluation of the plan while returning one row."""
    cols = [F.col(f.name).cast("string")
            if "map" in f.dataType.simpleString() else F.col(f.name)
            for f in df.schema.fields]
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.max(F.xxhash64(*cols)).alias("h")).collect()[0]
    return int(row["n"]), row["h"]


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def oracle_mismatch(cols, rows, duck_cols, duck_rows) -> str | None:
    """Compare like the repo's oracle checker: row count, column names
    (case-insensitive) and order-insensitive values, floats rounded to
    6 places. Returns a description of the first difference, or None."""
    rows = [tuple(_norm(v) for v in r) for r in rows]
    duck_rows = [tuple(_norm(v) for v in r) for r in duck_rows]
    if len(rows) != len(duck_rows):
        return f"rowcount {len(rows)} vs {len(duck_rows)}"
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in duck_cols):
        return f"columns {cols} vs {duck_cols}"
    s_idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    d_idx = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i].lower())
    s_vals = sorted(tuple(r[i] for i in s_idx) for r in rows)
    d_vals = sorted(tuple(r[i] for i in d_idx) for r in duck_rows)
    if s_vals != d_vals:
        diff = [(a, b) for a, b in zip(s_vals, d_vals) if a != b][:2]
        return f"values differ, first: {diff}"
    return None


class Oracle:
    """DuckDB over the generated tables."""

    def __init__(self, entry, data_dir: str):
        import duckdb
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"'{data_dir}/{t}.parquet'")
        self.sql = entry.oracle_sql(data_dir)
        self.sql.update({name: SHARED_SQL_PREFIX + sql
                         for name, (_, sql) in SHARED.items()})

    def verified(self, name: str, cols, rows, fp):
        """``fp`` if the output matches the oracle's, else None."""
        try:
            rel = self.con.sql(self.sql[name])
            bad = oracle_mismatch(cols, rows, rel.columns, rel.fetchall())
        except Exception as exc:  # counted as a failure, never skipped
            bad = f"oracle error {type(exc).__name__}: {exc}"
        if bad:
            print(f"# {name}: WRONG vs oracle ({bad})", flush=True)
            return None
        return fp


@dataclass
class Outcome:
    """One script execution: its latency and fingerprint, or error."""
    name: str
    seconds: float
    fp: tuple | None = None
    error: str | None = None


def _log_error(name: str, exc: BaseException) -> str:
    msg = f"{type(exc).__name__}: {str(exc)[:300]}"
    print(f"# {name}: FAILED ({msg})", flush=True)
    return msg


class EntryMix:
    """Scripts run one at a time through their `queries()` entry: the
    entry builds the DataFrame (Pig: parse, rewrite, operator build;
    datapipe: the operator's public function), then the fingerprint
    aggregate is the timed action. Scripts are independent, so the
    untimed passes may run several at once."""
    concurrent = True

    def __init__(self, spark, entry, data_dir: str, names: list[str],
                 build_layer: str):
        self.spark, self.data_dir, self.names = spark, data_dir, names
        self.queries = entry.queries()
        self.build_layer = build_layer

    def _run(self, name: str, tracer, collect: bool = False):
        span = tracer.span if tracer else (lambda *a: nullcontext())
        if tracer:
            tracer.script = name
            tracer.set_phase("build")
        with span(name, self.build_layer):
            df = self.queries[name](self.spark, self.data_dir)
        if tracer:
            tracer.set_phase("action")
        with span("fingerprint", "action"):
            fp = fingerprint(df)
        rows = df.collect() if collect else None
        return df, fp, rows

    def verify(self, oracle: Oracle, clients: int) -> dict[str, tuple | None]:
        """Run every script once, ``clients`` at a time, and check its
        output against the oracle; returns the verified fingerprints
        (None for a script that failed or was wrong)."""
        def spark_side(name):
            try:
                df, fp, rows = self._run(name, None, collect=True)
                return df.columns, rows, fp
            except Exception as exc:  # counted as a failure, never skipped
                _log_error(name, exc)
                return None

        with ThreadPoolExecutor(clients) as pool:
            results = dict(zip(self.names, pool.map(spark_side, self.names)))
        return {name: None if res is None
                else oracle.verified(name, res[0], res[1], res[2])
                for name, res in results.items()}

    def run_round(self, order: list[str], tracer=None):
        """Returns the outcomes and the round's wall time."""
        outcomes = []
        t0 = time.perf_counter()
        for name in order:
            t = time.perf_counter()
            try:
                _, fp, _ = self._run(name, tracer)
                outcomes.append(Outcome(name, time.perf_counter() - t, fp))
            except Exception as exc:
                outcomes.append(Outcome(name, time.perf_counter() - t,
                                        error=_log_error(name, exc)))
        return outcomes, time.perf_counter() - t0


class StoreMix:
    """Relational scripts, each ending in STORE ... USING
    ParquetStorage(), submitted as one `PigEngine.run_all` batch so
    shared FILTER/JOIN prefixes are persisted once. Each script's
    latency is its `run` inside the batch; the outputs are read back
    and fingerprinted after the batch, outside the timed span. Batches
    write to one output directory, so they never run concurrently."""
    concurrent = False

    def __init__(self, spark, entry, data_dir: str, names: list[str],
                 out_dir: str):
        self.spark, self.data_dir, self.names = spark, data_dir, names
        self.out_dir = out_dir
        bodies = {name: (SHARED_PREFIX + tail, "A")
                   for name, (tail, _) in SHARED.items()}
        for name in names:
            if name not in bodies:
                v = inspect.getclosurevars(entry.queries()[name]).nonlocals
                bodies[name] = (v["script"], v["result"])
        self.scripts = {
            name: f"{body}\nSTORE {alias} INTO '{out_dir}/{name}' "
                  "USING ParquetStorage();\n"
            for name, (body, alias) in bodies.items()}
        self.by_script = {s: n for n, s in self.scripts.items()}

    def _batch(self, order: list[str], tracer):
        import piglet_spark as pg
        eng = pg.PigEngine(self.spark, params={"sf": self.data_dir})
        times: dict[str, float] = {}
        run = eng.run

        def timed_run(script, _ops=None):
            name = self.by_script[script]
            if tracer:
                tracer.script = name
                tracer.set_phase("build")
            t = time.perf_counter()
            try:
                return run(script, _ops=_ops)
            finally:
                times[name] = time.perf_counter() - t
        eng.run = timed_run
        t = time.perf_counter()
        try:
            eng.run_all([self.scripts[n] for n in order])
            error = None
        except Exception as exc:  # the whole batch failed
            error = _log_error("run_all", exc)
        batch_s = time.perf_counter() - t
        if tracer:
            tracer.set_phase("check")
            rnd = tracer.current
            rnd.shared_persisted = len(eng.executor.session_cache)
            rnd.cache_mb = self._cache_mb()
            rnd.written_mb = self._written_mb()
        eng.clear_session_cache()
        return [Outcome(n, times.get(n, 0.0), error=error)
                for n in order], batch_s

    def _cache_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def _written_mb(self) -> float:
        total = 0
        for root, _dirs, files in os.walk(self.out_dir):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files)
        return total / 1e6

    def _read_back(self, name: str):
        return self.spark.read.parquet(f"{self.out_dir}/{name}")

    def verify(self, oracle: Oracle, clients: int) -> dict[str, tuple | None]:
        ref = {}
        for out in self._batch(list(self.names), None)[0]:
            name = out.name
            if out.error:
                ref[name] = None
                continue
            try:
                df = self._read_back(name)
                rows, fp = df.collect(), fingerprint(df)
            except Exception as exc:
                _log_error(name, exc)
                ref[name] = None
                continue
            ref[name] = oracle.verified(name, df.columns, rows, fp)
        return ref

    def run_round(self, order: list[str], tracer=None):
        """Returns the outcomes and the batch's wall time."""
        outcomes, batch_s = self._batch(order, tracer)
        for out in outcomes:
            if out.error:
                continue
            try:
                out.fp = fingerprint(self._read_back(out.name))
            except Exception as exc:
                out.error = _log_error(out.name, exc)
        return outcomes, batch_s


def make_mix(workload: str, spark, entry, data_dir: str, work_dir: str):
    if workload == "pig_relational":
        return EntryMix(spark, entry, data_dir, RELATIONAL, "engine")
    if workload == "datapipe_curation":
        return EntryMix(spark, entry, data_dir, DATAPIPE, "datapipe")
    if workload == "pig_store_shared":
        return StoreMix(spark, entry, data_dir,
                        STORE_RELATIONAL + list(SHARED),
                        os.path.join(work_dir, "store-out"))
    raise ValueError(f"unknown workload {workload!r}")
