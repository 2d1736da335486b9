"""The pinned query board: 30 of the 50 pinned queries of
``queries.all_queries()`` on generated sf0.01 data, each built and run
through a noop sink, checked against its ``oracle_sql()`` DuckDB twin.

The data comes from ``tools/gen_sf.py`` (deterministic, no seed) and is
generated once per checkout; the DuckDB oracle digests over it are
cached beside it. The seed only permutes the query order. No two board
queries share a ``stage_cache.memo_stage`` family (``minhash_pairs``
serves only ``dedup_minhash_lsh`` here, ``embpairs`` only
``dedup_embedding_neardup``), so every order keeps the query that
builds a family's stage ahead of the queries that reuse it.
"""

from __future__ import annotations

import json
import os
import random
import shutil

#: the pinned correctness board (the 50 queries of CORRECTNESS_r13.json)
PINNED = (
    "q1_pricing_summary", "group_sizes_events", "watermark_max",
    "fk_remap_orders_customer", "right_join_part_linecount",
    "inner_join_brand_revenue", "cross_join_seed", "anti_join_customers_no_orders",
    "semi_join_hot_orders", "preagg_join_order_totals", "nation_pair_revenue",
    "window_top1_part_per_brand", "dedup_distinct_pairs", "duplicate_detection",
    "first_event_per_user", "running_total_supplier", "unpivot_measures",
    "collect_json_customer_orders", "collect_json_order_structs",
    "clean_contact_phones", "parse_dates_multiformat", "checkout_repair",
    "recode_priority", "string_clean_suite", "date_offset_expiry",
    "json_extract_events", "sessionization", "dedup_exact", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_embedding_neardup",
    "ann_topk_bruteforce", "ann_topk_bucketed", "text_token_stats",
    "text_language_id", "text_quality_score", "text_fingerprint",
    "multimodal_features", "topk_parts_per_brand", "pivot_order_status",
    "rollup_acctbal", "set_ops_customers", "distinct_agg_supplier",
    "windowed_event_counts", "set_validation_order_status",
    "backfill_earliest_ship", "lag_lead_rank_prices", "percentile_acctbal",
    "ann_ivf_cells",
)
#: the first, second and fourth of every five pinned queries (both
#: memo_stage families stay). Each run pays a cold warm-up pass (about
#: twice the timed pass), a timed pass and a check; with 40 or 50
#: queries the benchmark's 48-run schedule ran over its time budget on
#: a loaded 4-core machine.
BOARD = tuple(q for i, q in enumerate(PINNED) if i % 5 in (0, 1, 3))
#: scale factor. The board measures plan build, Catalyst and
#: stage_cache costs, which do not grow with the data; at sf0.01 the
#: check pass and one timed pass of all 50 pinned queries took 58 s at
#: local[4] on a loaded 4-core machine, against 92 s at sf0.1.
SF = 0.01
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def order(seed: int) -> list[str]:
    names = list(BOARD)
    random.Random(seed).shuffle(names)
    return names


def ensure_data(spark, cache_dir: str) -> str:
    """Generate the tables once; return their directory."""
    sf_dir = os.path.join(cache_dir, f"sf{SF:g}")
    done = os.path.join(sf_dir, "_SUCCESS")
    if os.path.exists(done):
        return sf_dir
    from tools.gen_sf import gen_tables

    shutil.rmtree(sf_dir, ignore_errors=True)
    for name, df in gen_tables(spark, SF).items():
        df.write.mode("overwrite").parquet(os.path.join(sf_dir, f"{name}.parquet"))
    open(done, "w").close()
    return sf_dir


def source_rows(sf_dir: str) -> int:
    """Input rows, from the parquet footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetDataset(os.path.join(sf_dir, f"{t}.parquet")).read(columns=[]).num_rows
               for t in TABLES)


def oracle_digests(sf_dir: str) -> dict[str, list]:
    """{query: [sorted lower-case columns, rows, hash]} from DuckDB,
    computed once per data directory."""
    path = os.path.join(sf_dir, "_oracle.json")
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        if set(BOARD) <= set(cached):
            return cached
    import duckdb

    from data_migration_etl_scripts_spark import queries as q
    from tools.selfcheck import table_hash

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'")
    oracles = q.all_oracles()
    out = {}
    for name in BOARD:
        rel = con.sql(oracles[name])
        cols = [c.lower() for c in rel.columns]
        h, n = table_hash(cols, rel.fetchall())
        out[name] = [sorted(cols), n, h]
    con.close()
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    return out


#: results with more rows than this are checked by column set and row
#: count only: hashing them in Python would cost more than their query
#: (at sf0.01 one query returns more, with about 240K rows)
HASH_MAX_ROWS = 60_000


def check(df, oracle: list) -> str | None:
    """None if the Spark result matches the oracle digest, else why not.
    Small results must match by selfcheck's value hash, large ones by
    columns and row count."""
    from tools.selfcheck import table_hash

    want_cols, want_rows, want_hash = oracle
    cols = sorted(c.lower() for c in df.columns)
    if cols != want_cols:
        return f"columns {cols} != oracle {want_cols}"
    if want_rows > HASH_MAX_ROWS:
        n = df.count()
        return None if n == want_rows else f"{n} rows != oracle {want_rows}"
    table = df.toArrow()  # one columnar transfer instead of row pickling
    rows = list(zip(*(table.column(i).to_pylist() for i in range(table.num_columns))))
    h, n = table_hash([c.lower() for c in table.column_names], rows)
    if n != want_rows:
        return f"{n} rows != oracle {want_rows}"
    return None if h == want_hash else f"hash {h} != oracle {want_hash}"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()
