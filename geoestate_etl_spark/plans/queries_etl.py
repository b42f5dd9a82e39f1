"""ETL-engine operational queries: column profiling, Z-order locality
keys, exact grouped quantiles, incremental aggregate maintenance.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoestate_etl_spark.operators.incremental import merge_count_sum
from geoestate_etl_spark.operators.profiling import profile_columns
from geoestate_etl_spark.plans.prepared import DERIVED_DIR
from geoestate_etl_spark.plans.registry import QuerySpec
from geoestate_etl_spark.sources.parquet_io import table

#: the committed raw-parse artifact both engines read
_HOUSES_RAW = os.path.join(DERIVED_DIR, "houses_slice_raw.parquet")


def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_columns(table(spark, sf_dir, "documents"), ["doc_id", "lang", "n_chars"])


def q_incremental_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing agg + new-batch partial merged == full recompute.

    The split is by orderkey parity, so the merge covers every group
    from both sides as well as one-sided groups.

    Money flows through the partials and the merge as BIGINT cents
    (per-row ``round(x*100)`` then exact integer sums) — float sums
    re-rounded at merge time are engine-dependent on ``.xx5`` reprs
    (Spark HALF_UP on shortest-decimal vs DuckDB binary rounding),
    which cost a driver hash in round 2. Integer cents are exact and
    associative, so split+merge == full recompute bit-for-bit.
    """
    orders = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    old = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"), F.sum(cents).alias("total_cents"))
    )
    delta = (
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"), F.sum(cents).alias("total_cents"))
    )
    merged = merge_count_sum(old, delta, ["o_orderpriority"], "cnt", "total_cents")
    return merged.select("o_orderpriority", "cnt", "total_cents")


def q_houses_slice_top25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's signature query on the reference's OWN sample
    CSV (full pipeline: dirty UTF-16 ingest → validate → renumber →
    cast → top-25 by square).

    Oracled since r5: DuckDB cannot parse UTF-16 CSV, so the oracle
    reads ``data/derived/houses_slice_raw.parquet`` — the same file
    re-parsed by an INDEPENDENT parser (Python's csv module,
    ``tools/gen_houses_raw.py``) and drift-gated against both
    regeneration and the Spark reader's own parse by
    ``tests/test_derived_artifacts.py``. The SQL then re-implements
    validate → renumber → cast → top-25 from the raw strings, so the
    whole reference pipeline is hash-certified end to end;
    ``tests/test_reference_slice.py`` still pins the golden values.

    ``sf_dir`` is unused — the input is the fixed reference sample.
    """
    from geoestate_etl_spark.plans.pipeline import run_pipeline

    slice_path = "/root/reference/data/russian_houses_slice.csv"
    if not os.path.exists(slice_path):
        # environment without the reference: run the same pipeline
        # stages from the committed raw-parse artifact (all-string,
        # identical row multiset — drift-gated), so the query and its
        # oracle stay comparable instead of a spurious 0-vs-25 red
        from geoestate_etl_spark.operators.transforms import cast_houses
        from geoestate_etl_spark.plans.pipeline import (
            top25_stage,
            validate_stage,
        )

        raw = spark.read.parquet(_HOUSES_RAW).drop("_row_idx")
        validated, _nv, _ni = validate_stage(raw)
        # no persist: the frame is tiny and consumed once; caching it
        # would accumulate relations across registry runs (r3 advice)
        return top25_stage(cast_houses(validated))
    return run_pipeline(spark, slice_path).top25_by_square


def q_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: an hourly rollup
    maintained incrementally — standing rollup over old events merged
    with a partial over the new batch, no history rescan. Result must
    equal the full recompute (the oracle).

    Value sums travel as BIGINT cents (see q_incremental_counts) so
    the merge is exact integer arithmetic, hash-stable across engines.
    """
    from geoestate_etl_spark.streaming.event_windows import tumbling_counts

    ev = table(spark, sf_dir, "events")

    def rollup(df: DataFrame) -> DataFrame:
        # the shared tumbling-window operator; keep only the exact
        # integer sum (the rounded-double twin is not hash-safe)
        return tumbling_counts(df, "1 hour").select(
            "window_start", "event_type", "cnt", "sum_cents"
        )

    # split the stream at a timestamp: everything before is the
    # standing rollup, after is the newly-arrived batch
    cutoff = "2024-01-20"
    standing = rollup(ev.filter(F.col("ts") < cutoff))
    fresh = rollup(ev.filter(F.col("ts") >= cutoff))
    merged = (
        standing.unionByName(fresh)
        .groupBy("window_start", "event_type")
        .agg(F.sum("cnt").alias("cnt"), F.sum("sum_cents").alias("sum_cents"))
    )
    return merged


def _morton_sql() -> str:
    """The identical bit-spreading arithmetic, rendered to SQL."""

    def spread(expr: str) -> str:
        x = f"({expr} & 65535)"
        for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
            x = f"(({x} | ({x} << {shift})) & {mask})"
        return x

    qa = spread("CAST(floor((least(greatest(lat, -70.0), 70.0) - -70.0) / 140.0 * 65535) AS BIGINT)")
    qb = spread("CAST(floor((least(greatest(lon, -170.0), 170.0) - -170.0) / 340.0 * 65535) AS BIGINT)")
    return f"({qa} | ({qb} << 1))"


SPECS = [
    QuerySpec(
        "profile_documents",
        q_profile_documents,
        "SELECT 'doc_id' AS \"column\", 'nulls' AS stat, CAST(count(*) FILTER (doc_id IS NULL) AS VARCHAR) AS value FROM documents "
        "UNION ALL SELECT 'doc_id', 'distinct', CAST(count(DISTINCT doc_id) AS VARCHAR) FROM documents "
        "UNION ALL SELECT 'doc_id', 'min', CAST(min(doc_id) AS VARCHAR) FROM documents "
        "UNION ALL SELECT 'doc_id', 'max', CAST(max(doc_id) AS VARCHAR) FROM documents "
        "UNION ALL SELECT 'lang', 'nulls', CAST(count(*) FILTER (lang IS NULL) AS VARCHAR) FROM documents "
        "UNION ALL SELECT 'lang', 'distinct', CAST(count(DISTINCT lang) AS VARCHAR) FROM documents "
        "UNION ALL SELECT 'lang', 'min', min(lang) FROM documents "
        "UNION ALL SELECT 'lang', 'max', max(lang) FROM documents "
        "UNION ALL SELECT 'n_chars', 'nulls', CAST(count(*) FILTER (n_chars IS NULL) AS VARCHAR) FROM documents "
        "UNION ALL SELECT 'n_chars', 'distinct', CAST(count(DISTINCT n_chars) AS VARCHAR) FROM documents "
        "UNION ALL SELECT 'n_chars', 'min', CAST(min(n_chars) AS VARCHAR) FROM documents "
        "UNION ALL SELECT 'n_chars', 'max', CAST(max(n_chars) AS VARCHAR) FROM documents",
        "etl-profiling",
    ),
    QuerySpec(
        "houses_slice_top25",
        q_houses_slice_top25,
        # the full reference pipeline from raw strings, in SQL; strips
        # mirror functions/cleaning.py, predicates functions/validation.py.
        # The artifact path is the same constant the Spark side reads,
        # derived from the package location, so the oracle survives a
        # checkout anywhere (r3 advice).
        "WITH raw AS (SELECT * FROM read_parquet("
        f"'{_HOUSES_RAW}')), "
        "v AS (SELECT * FROM raw WHERE "
        "region IS NOT NULL AND trim(region) <> '' "
        "AND address IS NOT NULL AND trim(address) <> '' "
        "AND description IS NOT NULL AND trim(description) <> '' "
        "AND locality_name IS NOT NULL AND trim(locality_name) <> '' "
        "AND communal_service_id IS NOT NULL AND trim(communal_service_id) <> '' "
        # the regex mirrors SPARK try_cast(string as int): optional
        # sign + digits only — DuckDB's TRY_CAST alone also accepts
        # '12.0'/'1e3' (rounds them), which Spark rejects; TRY_CAST
        # stays for int-range overflow parity
        "AND regexp_matches(trim(house_id), '^[+-]?[0-9]+$') "
        "AND TRY_CAST(house_id AS INT) IS NOT NULL "
        "AND TRY_CAST(regexp_replace(trim(latitude), '[^0-9.-]', '', 'g') AS DOUBLE) IS NOT NULL "
        "AND TRY_CAST(regexp_replace(trim(longitude), '[^0-9.-]', '', 'g') AS DOUBLE) IS NOT NULL "
        "AND regexp_matches(regexp_replace(trim(maintenance_year), '[^0-9]', '', 'g'), '^[0-9]{4}$') "
        "AND regexp_matches(regexp_replace(trim(square), '[^0-9.]', '', 'g'), '^[0-9]+(\\.[0-9]+)?$') "
        "AND TRY_CAST(regexp_replace(trim(square), '[^0-9.]', '', 'g') AS DOUBLE) IS NOT NULL "
        "AND regexp_matches(regexp_replace(trim(population), '[^0-9]', '', 'g'), '^[0-9]+$') "
        "AND TRY_CAST(regexp_replace(trim(population), '[^0-9]', '', 'g') AS INTEGER) IS NOT NULL "
        "AND regexp_matches(regexp_replace(trim(communal_service_id), '[^0-9]', '', 'g'), '^[0-9]+$') "
        "AND TRY_CAST(regexp_replace(trim(communal_service_id), '[^0-9]', '', 'g') AS INTEGER) IS NOT NULL), "
        "r AS (SELECT *, row_number() OVER (ORDER BY TRY_CAST(house_id AS INT)) AS new_id FROM v), "
        "c AS (SELECT CAST(new_id AS INT) AS house_id, "
        "CAST(regexp_replace(trim(square), '[^0-9.]', '', 'g') AS DOUBLE) AS square, "
        "make_date(CAST(regexp_replace(trim(maintenance_year), '[^0-9]', '', 'g') AS INT), 1, 1) AS maintenance_year, "
        "region FROM r) "
        "SELECT house_id, square, maintenance_year, region FROM c "
        "WHERE square > 60.0 ORDER BY square DESC, house_id ASC LIMIT 25",
        "reference-e2e-parity (oracled r5 via the transcoded raw artifact)",
    ),
]
