"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_longtail --seed 1 --seconds 12 --trace 0

Runs one workload (see ``BENCHMARK.json``) from the root of a checkout:
builds the Spark session with ``session.build_session`` at
``local[<cores>]``, generates the workload's inputs from the seed, runs
one untimed warm-up pass, then measured passes for ``--seconds``, and
checks every pass's outputs. With ``--trace 0`` the last line of
standard output is the end-to-end metrics; with ``--trace 1`` the run
measures a third of its time untraced, a third with spans installed and
a third untraced again, and the last line is the per-layer metrics plus
the tracing overhead. The line
before it is a detail record (machine, canary, samples, the
workload-specific figures). Everything the run writes goes to
``.perfbench_work/`` in the checkout, which is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import procstat, spec  # noqa: E402
from perfbench.common import Run, median  # noqa: E402


def _environment(work: Path) -> None:
    """Only ``SPARK_GRAFT_CPUS`` of the program's knobs is set; every
    temporary file goes under ``work``."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        if key != "SPARK_GRAFT_CPUS":
            del os.environ[key]
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every
    process this run started to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate to a kill below
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while procstat.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in procstat.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _workload(run: Run):
    if run.workload == "operators_mix":
        from perfbench.operators import Operators

        return Operators(run)
    from perfbench.pipelines import Pipeline

    return Pipeline(run)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "dgraph_dbpedia_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"no program to measure under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), str(work),
              str(ROOT / ".perfbench_state"))
    detail: dict = {"workload": run.workload, "seed": run.seed, "machine": procstat.machine(),
                    "canary_start_s": procstat.canary_s()}
    spark = None
    try:
        with procstat.PeakRss() as rss:
            from dgraph_dbpedia_spark.session import build_session

            wl = _workload(run)
            wl.prepare()
            t0 = time.perf_counter()
            spark = build_session(app_name=f"perfbench-{run.workload}")
            session_s = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
            run.spark = spark
            run.layer["session.build_s"] = session_s
            wl.setup()
            # let the JIT compiler queue the warm-up filled drain, so the
            # first measured pass does not share the cores with it
            run.layer["setup.settle_s"] = procstat.settle()
            setup_s = sum(run.layer[k] for k in (
                "session.build_s", "setup.generate_s", "setup.warmup_s", "setup.settle_s"))
            rss.reset()
            if run.trace:
                # untraced passes on both sides of the traced ones, so the
                # overhead is not confounded with the JIT still warming
                before = wl.pass_walls(wl.measure(run.seconds / 3))
                traced, walls = wl.traced(run.seconds / 3)
                after = wl.pass_walls(wl.measure(run.seconds / 3))
                plain_walls = before + after
                layer = dict.fromkeys(spec.PER_LAYER_NAMES, 0.0)
                layer.update(run.layer)
                layer.update(traced)
                layer["peak_rss_mb"] = rss.peak / 2**20
                plain_median = median(plain_walls)
                layer["trace.overhead_ratio"] = (
                    median(walls) / plain_median - 1 if plain_median else 0.0
                )
                metrics = {k: layer[k] for k in spec.PER_LAYER_NAMES}
                detail["passes_untraced_s"] = plain_walls
                detail["passes_traced_s"] = walls
            else:
                measured = wl.measure(run.seconds)
                m = wl.metrics(measured)
                detail.update(m.pop("detail"))
                detail["passes_s"] = wl.pass_walls(measured)
                metrics = {
                    "setup_s": setup_s,
                    "pass_s": m["pass_s"],
                    "step_geomean_s": m["step_geomean_s"],
                }
                detail["setup"] = dict(run.layer)
            detail["peak_rss_mb"] = rss.peak / 2**20
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    detail["canary_end_s"] = procstat.canary_s()
    detail["failed_ratio"] = run.failed / max(run.attempted, 1)
    print(json.dumps({"detail": detail}))
    units = spec.UNITS
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
