"""The benchmark's workloads and metrics, with what each per-layer
metric is expected to move. ``BENCHMARK.json`` at the repository root
carries the same names, units and directions; a test keeps the two in
step.
"""

from __future__ import annotations

from perfbench.corpus import DATASETS, SINKS
from perfbench.draw import STRATUM_NAMES

WORKLOADS = ("pipeline_core", "pipeline_longtail", "operators_mix")
#: the workloads BENCHMARK.json lists, with why each was chosen; a run of
#: ``pipeline_core`` costs about as much as ``pipeline_longtail`` and the
#: three together do not fit the benchmark's time budget
DRIVEN = {
    "pipeline_longtail": (
        "ingest+transform of 6 langs x 1600 subjects + en_uris files, 2000 Zipf infobox "
        "predicates/lang, mixed datatypes (104k triples in): top-k prunes; ingest, dims, 9 sinks"
    ),
    "operators_mix": (
        "11 registry rows, the lower-quartile-cost row of each stratum but curate, seeded "
        "order, fixed sf0.01-shaped tables: no ingest or sinks; per-job cost dominates"
    ),
}
PIPELINES = "pipeline_core, pipeline_longtail"

#: (name, unit, better, bound)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("step_geomean_s", "s", "lower", 0.25),
)


def _per_layer() -> list[tuple[str, str, str, str, str]]:
    """(name, unit, better, end-to-end metric it should move, workloads)."""
    rows = [
        ("session.build_s", "s", "lower", "setup_s", "all"),
        ("setup.generate_s", "s", "lower", "setup_s", "all"),
        ("setup.warmup_s", "s", "lower", "setup_s", "all"),
        ("setup.settle_s", "s", "lower", "setup_s", "all"),
        # the JVM's resident size follows its heap sizing, which varies
        # run to run by more than any bound could absorb
        ("peak_rss_mb", "MB", "lower", "none (memory)", "all"),
    ]
    ingest = "pass_s, step_geomean_s (ingest step)"
    rows += [(f"ingest.{d}.write_s", "s", "lower", ingest, PIPELINES) for d in DATASETS]
    spark_common = [
        ("executor_run_s", "s", "lower"), ("executor_cpu_s", "s", "lower"),
        ("gc_s", "s", "lower"), ("shuffle_write_bytes", "B", "lower"),
        ("spill_bytes", "B", "lower"), ("jobs", "count", "lower"),
        ("tasks", "count", "lower"), ("core_busy_ratio", "ratio", "higher"),
    ]
    rows += [(f"ingest.{n}", u, b, ingest, PIPELINES) for n, u, b in spark_common]
    transform = "pass_s, step_geomean_s (transform step)"
    rows += [
        ("transform.dims_s", "s", "lower", transform, "pipeline_longtail"),
        ("transform.schema.write_s", "s", "lower", transform, "pipeline_longtail"),
    ]
    for sink in SINKS:
        for part in ("count_s", "write_s", "executor_cpu_s"):
            rows.append((f"transform.sink.{sink}.{part}", "s", "lower", transform, PIPELINES))
    rows.append(("transform.types.wait_s", "s", "lower", transform, PIPELINES))
    spark_transform = spark_common + [
        ("disk_cache_bytes", "B", "lower"), ("task_success_ratio", "ratio", "higher"),
        ("peak_execution_mb", "MB", "lower"),
    ]
    rows += [
        (f"transform.{n}", u, b, transform, PIPELINES)
        for n, u, b in spark_transform
    ]
    for s in STRATUM_NAMES:
        # the curate row runs in the traced run only (operators.TRACED_ONLY)
        construct, exec_ = ("none (traced run only)",) * 2 if s == "curate" else (
            "pass_s", "step_geomean_s")
        rows += [
            (f"operators.{s}.construct_s", "s", "lower", construct, "operators_mix"),
            (f"operators.{s}.exec_s", "s", "lower", exec_, "operators_mix"),
            (f"operators.{s}.jobs", "count", "lower", exec_, "operators_mix"),
        ]
    rows += [
        ("operators.jobs_per_row", "count", "lower", "step_geomean_s", "operators_mix"),
        ("operators.python_worker_cpu_s", "s", "lower", "pass_s", "operators_mix"),
        ("operators.executor_cpu_s", "s", "lower", "pass_s", "operators_mix"),
        ("operators.core_busy_ratio", "ratio", "higher", "pass_s", "operators_mix"),
        ("operators.task_success_ratio", "ratio", "higher", "pass_s", "operators_mix"),
        ("trace.overhead_ratio", "ratio", "lower", "none (tracing cost)", "all"),
    ]
    return rows


PER_LAYER = tuple(_per_layer())
PER_LAYER_NAMES = tuple(r[0] for r in PER_LAYER)
UNITS = {n: u for n, u, *_ in END_TO_END} | {r[0]: r[1] for r in PER_LAYER}
