"""The ``pipeline_core`` and ``pipeline_longtail`` workloads.

One pass is ``plans.ingest.ingest`` over the generated TTL tree, then
``plans.transform.transform`` over its Parquet output, with the
transform flags the reference's full run uses. Each phase is timed on
its own; the output checks run after the pass, outside both timings.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import replace

from perfbench import corpus
from perfbench.common import Run, geomean, median, tree_bytes
from perfbench.trace import StoreReader, Tracer, installed, totals

GENERATIONS = 3


def _digests(spark, out: str) -> dict[str, tuple[int, int, int]]:
    """Order-insensitive (rows, sum of low hash bits, xor of hashes) per
    output, in one Spark job."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    frames = []
    for ds in corpus.DATASETS:
        df = spark.read.parquet(f"{out}/parquet/{ds}.parquet")
        frames.append(df.select(
            F.lit(f"parquet.{ds}").alias("name"),
            F.concat_ws(" ", "s", "p", "o", "lang").alias("v"),
        ))
    for sink in corpus.SINKS:
        df = spark.read.text(f"{out}/rdf/{sink}.rdf")
        frames.append(df.select(
            F.lit(f"rdf.{sink}").alias("name"),
            F.concat_ws(" ", "value", "lang").alias("v"),
        ))
    h = F.xxhash64("v")
    rows = (
        reduce(DataFrame.unionByName, frames)
        .groupBy("name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
            F.bit_xor(h).alias("x"),
        )
        .collect()
    )
    return {r["name"]: (r["n"], r["lo"], r["x"]) for r in rows}


def _schema_pairs(spark, path: str) -> tuple[set[tuple[str, str]], int]:
    """(lang, predicate) pairs of the infobox part of a schema output,
    and its total line count."""
    from pyspark.sql import functions as F

    df = spark.read.text(path)
    rows = df.select(
        "dataset", F.col("lang").cast("string").alias("lang"),
        F.substring_index("value", ": ", 1).alias("p"),
    ).collect()
    pairs = {(r["lang"], r["p"]) for r in rows if r["dataset"] == "infobox_properties"}
    return pairs, len(rows)


class Pipeline:
    def __init__(self, run: Run):
        self.run = run
        self.shape = corpus.SHAPES[run.workload]
        self.work = run.work
        self.out = os.path.join(self.work, "out")
        self.first_digest: dict[str, dict] = {}

    # -- setup -------------------------------------------------------
    def prepare(self) -> None:
        gen_s = []
        for i in range(GENERATIONS):
            root = os.path.join(self.work, f"ttl{i}")
            t0 = time.perf_counter()
            expected = corpus.generate(root, self.shape, self.run.seed)
            gen_s.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(os.path.join(self.work, f"ttl{i - 1}"))
        self.run.layer["setup.generate_s"] = statistics.median(gen_s)
        self.corpus = root, expected

    def setup(self) -> None:
        # the warm-up pass runs on a sixteenth of the corpus: the cold
        # cost of a pass (class loading, JIT, codegen) hardly depends on
        # its size, and the full size would double the set-up
        t0 = time.perf_counter()
        small = replace(self.shape, subjects=max(self.shape.subjects // 16, 50))
        self.ttl = os.path.join(self.work, "ttl-warmup")
        self.expected = corpus.generate(self.ttl, small, self.run.seed)
        self.one_pass(check=False, out=os.path.join(self.work, "out-warmup"))
        self.run.layer["setup.warmup_s"] = time.perf_counter() - t0
        self.ttl, self.expected = self.corpus

    # -- one pass ----------------------------------------------------
    def one_pass(self, check: bool, tracer: Tracer | None = None,
                 out: str | None = None) -> tuple[float, float] | None:
        from dgraph_dbpedia_spark.plans.ingest import ingest
        from dgraph_dbpedia_spark.plans.transform import TransformConfig, transform

        spark = self.run.spark
        out = out or self.out
        cfg = TransformConfig(
            write_types=True, externalise_uris=True, remove_language_tags=True,
            top_infobox_properties_per_lang=corpus.TOP_K, print_stats=False,
        )
        self.run.attempted += 2
        try:
            t0 = time.perf_counter()
            ingest(spark, self.ttl, f"{out}/parquet", print_stats=False)
            t1 = time.perf_counter()
            if tracer is not None:
                tracer.marks["transform_start"] = t1
                tracer.describe("transform.dims")
            transform(
                spark, f"{out}/parquet", f"{out}/rdf",
                languages=list(self.shape.langs), cfg=cfg,
            )
            t2 = time.perf_counter()
        except Exception:  # noqa: BLE001 - a failing phase is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.run.failed += 1
            return None
        finally:
            spark.sparkContext.setJobDescription(None)
        if check:
            self.check(out)
        return t1 - t0, t2 - t1

    # -- output checks -----------------------------------------------
    def check(self, out: str) -> None:
        """Row counts, schema pairs and the digest of one pass's outputs.
        The digest is compared with the first pass over the same corpus."""
        spark = self.run.spark
        spark.sparkContext.setJobDescription("check")
        exp = self.expected
        try:
            dig = _digests(spark, out)
            for ds, n in exp.ingest.items():
                self.run.expect(f"ingest rows {ds}", dig[f"parquet.{ds}"][0], n)
            for sink, n in exp.sinks.items():
                self.run.expect(f"sink rows {sink}", dig[f"rdf.{sink}"][0], n)
            for name in ("schema.dgraph", "schema.indexed.dgraph"):
                pairs, lines = _schema_pairs(spark, f"{out}/rdf/{name}")
                self.run.expect(f"{name} infobox pairs", pairs, exp.schema_infobox)
                self.run.expect(f"{name} lines", lines, exp.schema_lines)
            first = self.first_digest.setdefault(out, dig)
            self.run.expect("output digest within the run", dig, first)
            if out == self.out:
                listed = {k: list(v) for k, v in dig.items()}
                self.run.expect("output digest across runs of this seed", listed,
                                self.run.remember("digest", listed))
        finally:
            spark.sparkContext.setJobDescription(None)

    # -- measured and traced passes ----------------------------------
    def measure(self, seconds: float) -> tuple[list[float], list[float]]:
        ingest_s, transform_s = [], []
        while sum(ingest_s) + sum(transform_s) < seconds or not ingest_s:
            t = self.one_pass(check=True)
            if t is None:
                break
            ingest_s.append(t[0])
            transform_s.append(t[1])
        return ingest_s, transform_s

    @staticmethod
    def pass_walls(measured: tuple[list[float], list[float]]) -> list[float]:
        return [a + b for a, b in zip(*measured)]

    def metrics(self, measured: tuple[list[float], list[float]]) -> dict:
        ingest_s, transform_s = measured
        exp = self.expected
        ing = median(ingest_s)
        tra = median(transform_s)
        return {
            "pass_s": median(self.pass_walls(measured)),
            "step_geomean_s": geomean([ing, tra]) if ingest_s else 0.0,
            "detail": {
                "input_triples": exp.input_triples,
                "output_triples": exp.output_triples,
                "ingest_s": ingest_s,
                "transform_s": transform_s,
                "ingest.triples_per_s": exp.input_triples / ing if ing else 0.0,
                "transform.triples_per_s": exp.input_triples / tra if tra else 0.0,
                "parquet.bytes_per_triple": tree_bytes(f"{self.out}/parquet") / exp.input_triples,
                "rdf.bytes_per_triple": sum(
                    tree_bytes(f"{self.out}/rdf/{s}.rdf") for s in corpus.SINKS
                ) / exp.output_triples,
            },
        }

    def traced(self, seconds: float) -> tuple[dict, list[float]]:
        """Per-layer metrics (the median over traced passes) and the
        traced passes' wall times."""
        spark = self.run.spark
        reader = StoreReader(spark)
        reader.read()
        tracer = Tracer(spark)
        per_pass: list[dict] = []
        walls: list[float] = []
        slots = spark.sparkContext.defaultParallelism
        with installed(tracer):
            while sum(walls) < seconds or not walls:
                tracer.reset()
                t = self.one_pass(check=False, tracer=tracer)
                if t is None:
                    break
                groups = reader.read()
                self.check(self.out)
                reader.read()
                walls.append(t[0] + t[1])
                per_pass.append(self._layer(tracer, groups, t, slots))
        out = {k: median(p[k] for p in per_pass) for k in per_pass[0]} if per_pass else {}
        return out, walls

    def _layer(self, tracer: Tracer, groups, t: tuple[float, float], slots: int) -> dict:
        m: dict[str, float] = {}
        for ds in corpus.DATASETS:
            m[f"ingest.{ds}.write_s"] = tracer.total(f"ingest.{ds}.write")
        ing = totals(groups, "ingest.")
        _spark_metrics(m, "ingest", ing, t[0], slots)
        m["transform.dims_s"] = tracer.marks["first_sink"] - tracer.marks["transform_start"]
        m["transform.schema.write_s"] = tracer.window("transform.schema.write")
        out_rows = 0
        for sink in corpus.SINKS:
            m[f"transform.sink.{sink}.count_s"] = tracer.total(f"transform.sink.{sink}.count")
            m[f"transform.sink.{sink}.write_s"] = tracer.total(f"transform.sink.{sink}.write")
            sink_t = totals(groups, f"transform.sink.{sink}.")
            m[f"transform.sink.{sink}.executor_cpu_s"] = sink_t.cpu_s
            out_rows += totals(groups, f"transform.sink.{sink}.write").output_records
        m["transform.types.wait_s"] = tracer.values.get("types_wait_s", 0.0)
        tra = totals(groups, "transform.")
        _spark_metrics(m, "transform", tra, t[1], slots)
        m["transform.disk_cache_bytes"] = tracer.values.get("disk_cache_bytes", 0)
        m["transform.task_success_ratio"] = tra.tasks_ok / tra.tasks if tra.tasks else 1.0
        m["transform.peak_execution_mb"] = tra.peak_execution_bytes / 2**20
        self.run.expect("traced sink rows", out_rows, self.expected.output_triples)
        return m


def _spark_metrics(m: dict, prefix: str, t, wall: float, slots: int) -> None:
    m[f"{prefix}.executor_run_s"] = t.run_s
    m[f"{prefix}.executor_cpu_s"] = t.cpu_s
    m[f"{prefix}.gc_s"] = t.gc_s
    m[f"{prefix}.shuffle_write_bytes"] = t.shuffle_write_bytes
    m[f"{prefix}.spill_bytes"] = t.spill_bytes
    m[f"{prefix}.jobs"] = t.jobs
    m[f"{prefix}.tasks"] = t.tasks
    m[f"{prefix}.core_busy_ratio"] = t.run_s / (wall * slots)
