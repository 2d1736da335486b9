"""The migration DAG workloads: ``build_reference_dag(...).run()`` over
generated V1 tables, with per-batch latency and sink checks.

Each repetition copies the generated source tables into a fresh
catalog directory (sources and sinks share it, as in
``tools/dag_acceptance.py``), runs the DAG once and then hashes every
sink outside the timed region.
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime as dt
import os
import shutil
import time

from perfbench import v1gen

BATCH_TS = dt.datetime(2026, 1, 1, 12, 0, 0)

#: BASELINE.md micro-batch sizing: the reference's TOP N per pipeline.
#: Pipelines not listed keep the DagRunner default (full drain).
REFERENCE_TOP_N = {
    "models": 100, "accounts": 100, "locations": 100, "order_line_items": 100,
    "reconciliations": 100,
    "makes": 1000, "subusers": 1000, "cars": 1000, "bays": 1000, "packages": 1000,
    "suppliers": 1000, "warehouses": 1000, "purchase_orders": 1000,
    "purchase_bills": 1000, "purchase_bill_details": 1000, "stocks": 1000,
    "stock_transfers": 1000, "stock_transfer_details": 1000, "subscriptions": 1000,
    "orders": 2000,
    "customers": 5000, "customer_locations": 5000, "location_items": 5000,
    "package_details": 5000,
    "items": 10000, "car_locations": 10000,
    "order_packages": 15000,
}

#: The part of the reference's canonical migration chain (``main.py:41-57``)
#: that dag_topn runs: accounts -> locations -> orders -> order_line_items
#: (FK remaps, gates, JSON side-collects and the checkout
#: pre-aggregation), and the V1 tables it reads. A catalog holding only
#: these tables makes ``build_reference_dag`` wire exactly these four
#: pipelines and skip the rest.
CHAIN_TABLES = (
    "Users", "Locations", "SyncCities", "LocationAmenitiesJunc",
    "LocationWorkingHours", "LocationsV2Lookup", "Orders", "OrderCheckout",
    "OrderDetail", "OrdersV2Map",
)

#: source table of each chain pipeline
_CHAIN_SOURCES = {"accounts": "Users", "locations": "Locations",
                  "orders": "Orders", "order_line_items": "OrderDetail"}


def topn_sizes(batches: int) -> dict[str, int]:
    """Row counts that give every chain pipeline ``batches`` batches of
    its reference TOP N; lookups keep their scale-0 size."""
    return {table: batches * REFERENCE_TOP_N[p] for p, table in _CHAIN_SOURCES.items()}


class BatchClock:
    """Times each CDC micro-batch from the loop's ``pipeline.source()``
    call to the return of ``WatermarkStore.advance`` for that pipeline,
    by wrapping both from outside the program."""

    def __init__(self):
        self.started: dict[str, float] = {}
        self.latencies: list[float] = []
        self.iterations = 0

    def wrap_sources(self, runner) -> None:
        for name, p in runner._pipelines.items():
            runner._pipelines[name] = dataclasses.replace(
                p, source=self._timed_source(name, p.source))

    def _timed_source(self, name, source):
        def call():
            self.iterations += 1
            self.started[name] = time.perf_counter()
            return source()
        return call

    @contextlib.contextmanager
    def patched_advance(self):
        from data_migration_etl_scripts_spark import cdc

        original = cdc.WatermarkStore.advance
        clock = self

        def advance(store, table_name, new_max):
            original(store, table_name, new_max)
            clock.latencies.append(time.perf_counter() - clock.started[table_name])

        cdc.WatermarkStore.advance = advance
        try:
            yield
        finally:
            cdc.WatermarkStore.advance = original


def generate(seed: int, out_dir: str, sizes: dict[str, int]) -> dict[str, int]:
    """Write the chain's V1 tables (scale-0 lookups, ``sizes`` rows in
    the sized tables); return the expected sink counts."""
    full = os.path.join(out_dir, "_all")
    expected = v1gen.write_catalog(full, seed, 0.0, sizes)
    for table in CHAIN_TABLES:
        shutil.move(os.path.join(full, table), os.path.join(out_dir, table))
    shutil.rmtree(full)
    return expected


def prepare_catalog(spark, src_dir: str, run_dir: str):
    from data_migration_etl_scripts_spark.catalog import Catalog

    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.copytree(src_dir, run_dir)
    return Catalog(spark, base_dir=run_dir, scratch_dir=run_dir)


def build_runner(catalog):
    """The reference DAG with every pipeline at its reference TOP N."""
    from data_migration_etl_scripts_spark.plans.reference_dag import build_reference_dag

    runner = build_reference_dag(catalog)
    for name in runner._pipelines:
        runner._batch_sizes[name] = REFERENCE_TOP_N.get(name)
    return runner


def sink_tables(runner) -> list[str]:
    sinks = set()
    for p in runner._pipelines.values():
        sinks.add(p.sink_table)
        sinks.update(t for t, _ in p.extra_sinks)
    return sorted(sinks)


def sink_digests(spark, catalog, sinks: list[str]) -> dict[str, tuple[int, str]]:
    """(rows, order-insensitive content hash) per sink, in one Spark job:
    the sum of a per-row xxhash64 over the columns sorted by name."""
    from pyspark.sql import functions as F

    parts = []
    for sink in sinks:
        if not catalog.exists(sink):
            continue
        df = catalog.read(sink)
        cols = sorted(df.columns)
        parts.append(df.select(F.lit(sink).alias("sink"),
                               F.xxhash64(*cols).cast("decimal(38,0)").alias("h")))
    if not parts:
        return {}
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    rows = union.groupBy("sink").agg(F.count(F.lit(1)).alias("n"),
                                     F.sum("h").alias("h")).collect()
    return {r["sink"]: (int(r["n"]), str(r["h"])) for r in rows}


def check_sinks(digests, sinks, expected, reference=None) -> list[str]:
    """Mismatches: a missing sink, a row count other than the generator
    expects, or a digest other than ``reference`` (a pinned or earlier
    repetition's digests)."""
    bad = []
    for sink in sinks:
        if sink not in digests:
            bad.append(f"{sink}: sink missing")
            continue
        rows, digest = digests[sink]
        if sink in expected and rows != expected[sink]:
            bad.append(f"{sink}: {rows} rows, generator expects {expected[sink]}")
        if reference is not None and sink in reference and list(reference[sink]) != [rows, digest]:
            bad.append(f"{sink}: digest {rows}/{digest} != {reference[sink]}")
    return bad
