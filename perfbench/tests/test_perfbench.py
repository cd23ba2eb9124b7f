"""The benchmark's own checks, at a tiny size.

Run with ``python -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import json
from dataclasses import replace

import pytest

from perfbench import corpus, draw, spec
from perfbench.tests.conftest import ROOT
from perfbench.trace import StoreReader, Tracer, installed, totals

TINY = {
    "core": replace(corpus.CORE, subjects=60),
    "longtail": replace(corpus.LONGTAIL, subjects=50, predicates=300),
}


@pytest.fixture(scope="module", params=sorted(TINY))
def pipeline(request, spark, tmp_path_factory):
    """A tiny corpus run through ingest and a traced transform."""
    from dgraph_dbpedia_spark.plans.ingest import ingest
    from dgraph_dbpedia_spark.plans.transform import TransformConfig, transform

    shape = TINY[request.param]
    tmp = tmp_path_factory.mktemp(request.param)
    expected = corpus.generate(str(tmp / "ttl"), shape, seed=7)
    ingest(spark, str(tmp / "ttl"), str(tmp / "parquet"), print_stats=False)
    reader = StoreReader(spark)
    reader.read()
    tracer = Tracer(spark)
    cfg = TransformConfig(
        write_types=True, externalise_uris=True, remove_language_tags=True,
        top_infobox_properties_per_lang=corpus.TOP_K, print_stats=False,
    )
    with installed(tracer):
        outputs = transform(spark, str(tmp / "parquet"), str(tmp / "rdf"),
                            languages=list(shape.langs), cfg=cfg)
    return expected, tmp, outputs, reader.read()


def test_generator_counts_match_ingest(pipeline, spark):
    expected, tmp, _, _ = pipeline
    got = {
        ds: spark.read.parquet(str(tmp / "parquet" / f"{ds}.parquet")).count()
        for ds in corpus.DATASETS
    }
    assert got == expected.ingest
    assert sum(got.values()) == expected.input_triples


def test_generator_counts_match_transform(pipeline):
    expected, _, outputs, _ = pipeline
    assert {name: df.count() for name, df in outputs.items()} == expected.sinks


def test_traced_output_rows_equal_transform_output(pipeline):
    expected, _, outputs, groups = pipeline
    traced = sum(
        totals(groups, f"transform.sink.{sink}.write").output_records for sink in corpus.SINKS
    )
    assert traced == sum(df.count() for df in outputs.values()) == expected.output_triples


def test_generator_is_seeded(tmp_path):
    shape = TINY["longtail"]
    a = corpus.generate(str(tmp_path / "a"), shape, seed=3)
    b = corpus.generate(str(tmp_path / "b"), shape, seed=3)
    c = corpus.generate(str(tmp_path / "c"), shape, seed=4)
    same = (tmp_path / "a/de/infobox_properties_de.ttl").read_text()
    assert same == (tmp_path / "b/de/infobox_properties_de.ttl").read_text()
    assert same != (tmp_path / "c/de/infobox_properties_de.ttl").read_text()
    assert a == b
    assert a.ingest == c.ingest


def _pool():
    import __spark_entry__ as entry
    from perfbench.operators import COSTS, eligible

    strata = draw.classify(entry.queries(), vars(entry))
    pool = {n: strata[n] for n in eligible(entry.queries(), entry.oracle_sql())}
    with open(COSTS) as f:
        return pool, json.load(f)


def test_draw_is_deterministic_and_covers_every_stratum():
    pool, costs = _pool()
    first = draw.draw(pool, 11, costs)
    assert first == draw.draw(pool, 11, costs)
    orders = set()
    for seed in range(8):
        rows = draw.draw(pool, seed, costs)
        assert sorted(pool[n] for n in rows) == sorted(set(pool.values()))
        assert sorted(rows) == sorted(first)
        orders.add(tuple(rows))
    assert len(orders) > 1


def test_benchmark_json_matches_spec():
    with open(ROOT / "BENCHMARK.json") as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(spec.DRIVEN)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in spec.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        r[:3] for r in spec.PER_LAYER
    ]
