"""Self-tests of the benchmark (not part of tier-1):

    python -m pytest perfbench -q      # ~7 min at local[4]

They pin the generator's determinism, run the whole reference DAG over
generated data and over the V1 fixtures, and show that a corrupted
output is counted as a failure.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import pytest

# before the engine's session module reads it (the default is 32 cores)
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

from perfbench import board, dagbench, run, v1gen  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _table_bytes(out_dir: str) -> dict[str, str]:
    digests = {}
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name, "part-00000-v1gen.parquet")
        if os.path.exists(path):
            with open(path, "rb") as f:
                digests[name] = hashlib.md5(f.read()).hexdigest()
    return digests


def test_generator_is_deterministic_per_seed_and_differs_across_seeds(tmp_path):
    a = _table_bytes(_gen(tmp_path / "a", seed=7))
    b = _table_bytes(_gen(tmp_path / "b", seed=7))
    c = _table_bytes(_gen(tmp_path / "c", seed=8))
    assert a == b
    assert len(a) == len(v1gen.fixture_schemas())
    differ = [t for t in a if a[t] != c[t]]
    assert {"Orders", "Items", "Cars", "Locations"} <= set(differ)


def _gen(path, seed: int, scale: float = 0.0005) -> str:
    v1gen.write_catalog(str(path), seed, scale)
    return str(path)


def test_every_printed_metric_is_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    tally = run.Tally()
    tally.add(True)
    result = {"tally": tally, "wall": 2.0, "ops": [0.1] * 30, "rows_in": 100,
              "setup_s": 1.0}
    printed = run.end_to_end(result)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in printed.items()} == declared
    layers = run.per_layer(dict.fromkeys(run.PER_LAYER, 0.0))
    assert {k: v["unit"] for k, v in layers.items()} == \
        {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_every_seed_maps_onto_a_pinned_data_seed():
    with open(run.PINS) as f:
        pinned = set(json.load(f)["dag_topn"])
    assert {str(run.data_seed(s)) for s in range(-5, 40)} == pinned


def test_tail_is_the_highest_percentile_with_ten_samples_beyond_or_a_quarter():
    assert run.tail([float(i) for i in range(1, 101)])[1] == 90.0
    assert run.tail([float(i) for i in range(1, 31)])[1] == pytest.approx(200 / 3)
    assert run.tail([float(i) for i in range(1, 21)])[1] == 75.0
    assert run.tail([float(i) for i in range(1, 9)])[1] == 75.0
    assert run.tail([1.0, 3.0, 2.0]) == (3.0, 100.0)


def test_quantile_weights_the_neighbours_of_the_rank():
    evenly = [float(i) for i in range(1, 101)]
    assert run.quantile(evenly, 0.5) == pytest.approx(50.5)
    assert run.tail(evenly)[0] == pytest.approx(90.5)
    assert run.quantile([4.0, 1.0, 3.0, 2.0], 0.5) == pytest.approx(2.5)
    assert run.quantile([7.0], 0.5) == 7.0
    # a gap in the middle: the estimate lies between the two halves
    # instead of on one side of the gap
    gap = [1.0] * 15 + [2.0] * 15
    assert 1.2 < run.quantile(gap, 0.5) < 1.8
    assert run.quantile(gap[:14] + [2.0] * 16, 0.5) > run.quantile(gap, 0.5)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run._environment(str(tmp_path_factory.mktemp("spark")))
    session = run._session(str(tmp_path_factory.mktemp("scratch")), trace=False)
    yield session
    session.stop()


def test_whole_dag_runs_clean_on_generated_data_and_corruption_counts(spark, tmp_path):
    from data_migration_etl_scripts_spark.plans.reference_dag import build_reference_dag

    src = _gen(tmp_path / "src", seed=3, scale=0.0002)
    with open(os.path.join(src, "_expected.json")) as f:
        expected = json.load(f)
    os.remove(os.path.join(src, "_expected.json"))
    cat = dagbench.prepare_catalog(spark, src, str(tmp_path / "run"))
    runner = build_reference_dag(cat)  # every pipeline drains in full
    report = runner.run(batch_ts=dagbench.BATCH_TS)
    assert len(report.order) == 48
    assert report.ok, (report.failures, report.skipped)
    sinks = dagbench.sink_tables(runner)
    clean = dagbench.sink_digests(spark, cat, sinks)
    assert dagbench.check_sinks(clean, sinks, expected, clean) == []

    # one duplicated row in a sink: its count and its digest both flag it
    orders = cat.read("OrdersV2")
    cat.write(orders.limit(1), "OrdersV2", mode="append")
    bad = dagbench.check_sinks(dagbench.sink_digests(spark, cat, sinks), sinks,
                               expected, clean)
    assert len(bad) == 2 and all(b.startswith("OrdersV2:") for b in bad)
    tally = run.Tally()
    for sink in sinks:
        tally.add(not any(b.startswith(sink + ":") for b in bad), sink)
    result = {"tally": tally, "wall": 1.0, "ops": [1.0], "rows_in": 1, "setup_s": 1.0}
    assert run.end_to_end(result)["ok_share"]["value"] < 1.0


def test_board_check_flags_a_corrupted_result(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    from tools.selfcheck import table_hash

    good = [["k", "v"], 2, table_hash(["k", "v"], [(1, "a"), (2, "b")])[0]]
    assert board.check(df, good) is None
    assert board.check(df.union(df.limit(1)), good).startswith("3 rows")
    assert board.check(df.replace("b", "c"), good).startswith("hash")


def test_fixture_dag_matches_the_golden_hashes(spark, tmp_path):
    """tools/dag_golden.json over tests/v1fixtures, hashed with
    selfcheck's table_hash (the tools/dag_acceptance.py protocol)."""
    from pyspark.sql import functions as F

    from data_migration_etl_scripts_spark.catalog import Catalog
    from data_migration_etl_scripts_spark.plans.reference_dag import build_reference_dag
    from tests import v1fixtures as fx
    from tools.selfcheck import table_hash

    cat = Catalog(spark, base_dir=str(tmp_path), scratch_dir=str(tmp_path))
    for build in (fx.build_v1_fixtures, fx.build_v1_fixtures_extra,
                  fx.build_v1_fixtures_registry, fx.build_v1_fixtures_inventory,
                  fx.build_v1_fixtures_dag_close):
        build(cat)
    cat.write(spark.createDataFrame([(1, "Main", "Main Store", None, None)],
                                    v1gen.STORES_DDL), "Stores")
    items = cat.read("Items").where(F.col("ItemID") != 5).collect()
    cat.write(spark.createDataFrame(items, cat.read("Items").schema), "Items")
    runner = build_reference_dag(cat)
    assert runner.run(batch_ts=dt.datetime(2026, 1, 1, 12, 0, 0)).ok
    with open(os.path.join(ROOT, "tools", "dag_golden.json")) as f:
        golden = json.load(f)
    for sink in dagbench.sink_tables(runner):
        df = cat.read(sink)
        h, n = table_hash([c.lower() for c in df.columns], [tuple(r) for r in df.collect()])
        assert golden[sink]["rows"] == n and golden[sink]["hash"] == h, sink
