"""The ``operators_mix`` workload.

A seeded stratified draw of registry rows from ``__spark_entry__.queries()``
over the fixed tables of ``tables.py``. Each row is timed as its
registry call (construct: the eager work a row does while it builds its
DataFrame) plus a ``noop`` write of all its columns (exec), the action
``bench.py`` times. Before the measured passes, one untimed pass
collects every drawn row and compares it with the row's
``oracle_sql()`` in DuckDB under the normalisation of
``tools/check_correctness.py``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback

from perfbench import draw, procstat, tables
from perfbench.common import Run, geomean, median
from perfbench.trace import StoreReader, Tracer, totals

GENERATIONS = 3
#: rows the draw never picks, with the reason
EXCLUDED = {
    "compression_ratio": "its oracle reads the sf0.01 test data outside the checkout",
}
#: the served rows build an on-disk IVF index on first use (about 20 s
#: on 4 cores), which does not fit one run's set-up
EXCLUDED_SUFFIX = "_served"
#: strata drawn only in the traced run: a curate row costs about as much
#: as the other eleven rows together and varies by a quarter from pass
#: to pass, which would leave no time for the repeated passes that keep
#: the untraced run's figures steady
TRACED_ONLY = ("curate",)
COSTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "row_costs.json")


def eligible(queries: dict, oracles: dict) -> list[str]:
    return [
        n for n in queries
        if oracles.get(n) and n not in EXCLUDED and EXCLUDED_SUFFIX not in n
    ]


class _Oracles(threading.Thread):
    """Runs each drawn row's oracle SQL in DuckDB over the tables."""

    def __init__(self, data: str, sql: dict[str, str]):
        super().__init__(name="oracles", daemon=True)
        self.data = data
        self.sql = sql
        self.results: dict[str, tuple[list[str], list]] = {}
        self.errors: dict[str, str] = {}

    def run(self) -> None:
        import duckdb

        from tools.check_correctness import TABLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for name, sql in self.sql.items():
                try:
                    res = con.execute(sql)
                    self.results[name] = ([d[0] for d in res.description], res.fetchall())
                except duckdb.Error as e:
                    self.errors[name] = str(e)
        finally:
            con.close()


class Operators:
    def __init__(self, run: Run):
        self.run = run
        self.data = os.path.join(run.work, "tables")

    def prepare(self) -> None:
        """Tables, the draw, and the DuckDB oracles, which run on a
        thread while the session starts and the warm-up pass runs."""
        import __spark_entry__ as entry

        gen_s = []
        for _ in range(GENERATIONS):
            t0 = time.perf_counter()
            tables.generate(self.data)
            gen_s.append(time.perf_counter() - t0)
        self.run.layer["setup.generate_s"] = statistics.median(gen_s)

        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        strata = draw.classify(self.queries, vars(entry))
        with open(COSTS) as f:
            costs = json.load(f)
        pool = {n: strata[n] for n in eligible(self.queries, oracles)}
        self.rows = [
            n for n in draw.draw(pool, self.run.seed, costs)
            if self.run.trace or strata[n] not in TRACED_ONLY
        ]
        self.strata = {n: strata[n] for n in self.rows}
        self.oracle = _Oracles(self.data, {n: oracles[n] for n in self.rows})
        self.oracle.start()

    def setup(self) -> None:
        """The warm-up pass: collect every drawn row and compare it with
        its oracle."""
        from dgraph_dbpedia_spark.operators.cachectl import release
        from tools.check_correctness import norm_rows

        t0 = time.perf_counter()
        spark = self.run.spark
        spark.range(1).write.format("noop").mode("overwrite").save()
        got = {}
        for name in self.rows:
            self.run.attempted += 1
            try:
                df = self.queries[name](spark, self.data)
                got[name] = (df.columns, df.collect())
                release(df)
            except Exception:  # noqa: BLE001 - a failing row is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                self.run.failed += 1
        self.oracle.join()
        self.run.layer["setup.warmup_s"] = time.perf_counter() - t0
        for name, (cols, rows) in got.items():
            if name not in self.oracle.results:
                error = self.oracle.errors.get(name, "the oracle thread stopped early")
                print(f"oracle of {name} failed: {error}", file=sys.stderr)
                self.run.attempted += 1
                self.run.failed += 1
                continue
            want_cols, want = self.oracle.results[name]
            self.run.expect(
                f"{name} against its oracle",
                (sorted(cols), norm_rows(cols, rows)),
                (sorted(want_cols), norm_rows(want_cols, want)),
            )

    def _pass(self, tracer: Tracer | None = None) -> dict[str, tuple[float, float, float]]:
        """name -> (construct_s, exec_s, python worker CPU s) for one pass."""
        from dgraph_dbpedia_spark.operators.cachectl import release

        spark = self.run.spark
        me = os.getpid()
        out = {}
        for name in self.rows:
            stratum = self.strata[name]
            self.run.attempted += 1
            cpu0 = procstat.python_cpu_s(me) if tracer else 0.0
            try:
                if tracer:
                    tracer.describe(f"operators.{stratum}.{name}.construct")
                t0 = time.perf_counter()
                df = self.queries[name](spark, self.data)
                t1 = time.perf_counter()
                if tracer:
                    tracer.describe(f"operators.{stratum}.{name}.exec")
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception:  # noqa: BLE001 - a failing row is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                self.run.failed += 1
                continue
            finally:
                spark.sparkContext.setJobDescription(None)
            cpu1 = procstat.python_cpu_s(me) if tracer else 0.0
            release(df)
            out[name] = (t1 - t0, t2 - t1, cpu1 - cpu0)
        return out

    def measure(self, seconds: float) -> list[dict]:
        passes: list[dict] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or not passes:
            passes.append(self._pass())
        return passes

    @staticmethod
    def pass_walls(passes: list[dict]) -> list[float]:
        return [sum(c + e for c, e, _ in p.values()) for p in passes]

    def metrics(self, passes: list[dict]) -> dict:
        per_row = {
            n: median(p[n][0] + p[n][1] for p in passes if n in p)
            for n in self.rows if any(n in p for p in passes)
        }
        return {
            "pass_s": median(self.pass_walls(passes)),
            "step_geomean_s": geomean(list(per_row.values())),
            "detail": {"rows": self.rows, "strata": self.strata, "row_s": per_row},
        }

    def traced(self, seconds: float) -> tuple[dict, list[float]]:
        """Per-layer metrics (the median over traced passes) and the
        traced passes' wall times."""
        spark = self.run.spark
        reader = StoreReader(spark)
        reader.read()
        tracer = Tracer(spark)
        slots = spark.sparkContext.defaultParallelism
        per_pass, walls = [], []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or not walls:
            p = self._pass(tracer)
            groups = reader.read()
            wall = sum(c + e for c, e, _ in p.values())
            walls.append(wall)
            m: dict[str, float] = {}
            for s in draw.STRATUM_NAMES:
                rows = [n for n in p if self.strata[n] == s]
                m[f"operators.{s}.construct_s"] = sum(p[n][0] for n in rows)
                m[f"operators.{s}.exec_s"] = sum(p[n][1] for n in rows)
                m[f"operators.{s}.jobs"] = totals(groups, f"operators.{s}.").jobs
            t = totals(groups, "operators.")
            m["operators.jobs_per_row"] = t.jobs / max(len(p), 1)
            m["operators.python_worker_cpu_s"] = sum(v[2] for v in p.values())
            m["operators.executor_cpu_s"] = t.cpu_s
            m["operators.core_busy_ratio"] = t.run_s / (wall * slots) if wall else 0.0
            m["operators.task_success_ratio"] = t.tasks_ok / t.tasks if t.tasks else 1.0
            per_pass.append(m)
        out = {k: median(p[k] for p in per_pass) for k in per_pass[0]}
        return out, walls
