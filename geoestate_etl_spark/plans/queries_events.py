"""Event-table queries: JSON props extraction.

The tumbling/sliding/session window queries merged into
queries_suites.event_windows_suite (r2); their operators live in
streaming/event_windows.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoestate_etl_spark.plans.registry import QuerySpec
from geoestate_etl_spark.sources.parquet_io import table


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the props column — all three semi-
    structured access paths the engine supports, certified by one
    hash (each column must agree with the same SQL extraction):

    - ``get_json_object`` (stringly path probe, the classic),
    - ``from_json`` with an explicit schema (the production path —
      parse once into a typed struct, prune columns),
    - Spark 4 VARIANT (``parse_json`` + ``variant_get`` — the
      shredded open-schema type for semi-structured lakes).
    """
    ev = table(spark, sf_dir, "events")
    props_struct = F.from_json("props", "k BIGINT")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast(T.LongType()).alias("prop_k"),
        props_struct.getField("k").alias("prop_k_struct"),
        # try_parse_json: NULL on malformed input like the two sibling
        # paths (strict parse_json would fail the whole query instead)
        F.variant_get(F.try_parse_json("props"), "$.k", "bigint").alias(
            "prop_k_variant"
        ),
    )


def q_chat_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT-style transcript formatting (r4): each user's event stream
    rendered as one ordered, role-templated text block — the
    sequence-to-training-text step of a conversation/SFT pipeline.

    Ordering is the cross-engine trap: the testdata carries
    microsecond timestamps, but a NANOSECOND file is loaded with µs
    rebuilt (``load_events``), so the sort key is (unix_micros,
    event_id) on BOTH engines — the event_id tiebreak absorbs any
    sub-µs ties. The ordered fold is the JVM-side
    sort_array-of-structs → transform → array_join pattern (no window,
    no Python): one hash agg per user.

    Role template: interactive events (click/view/purchase) → 'user',
    everything else → 'system'; the line carries the event type and
    the exact integer cents of ``value``.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    role = F.when(
        F.col("event_type").isin("click", "view", "purchase"), F.lit("user")
    ).otherwise(F.lit("system"))
    # F.concat, NOT concat_ws: the oracle's `||` propagates NULL, so a
    # NULL value/event_type must null the WHOLE line on the Spark side
    # too (string_agg and array_join then both skip it identically) —
    # concat_ws would render a truncated line the oracle never sees
    # (r4 review; current testdata has no NULLs, this is the latent
    # divergence guard)
    line = F.concat(
        role,
        F.lit(": "),
        F.col("event_type"),
        F.lit(" "),
        F.round(F.col("value") * 100).cast("long").cast("string"),
    )
    packed = F.struct(
        F.unix_micros(F.col("ts")).alias("us"),
        F.col("event_id").alias("eid"),
        line.alias("line"),
    )
    return (
        ev.groupBy("user_id")
        .agg(F.sort_array(F.collect_list(packed)).alias("turns"))
        .select(
            "user_id",
            F.size("turns").cast(T.LongType()).alias("n_turns"),
            F.array_join(
                F.transform("turns", lambda t: t.getField("line")), "\n"
            ).alias("transcript"),
        )
    )


# tumbling/sliding/session merged into queries_suites.event_windows_suite (r2)
SPECS = [
    QuerySpec(
        "json_props",
        q_json_props,
        "SELECT event_id, CAST(props ->> '$.k' AS BIGINT) AS prop_k, "
        "CAST(props ->> '$.k' AS BIGINT) AS prop_k_struct, "
        "CAST(props ->> '$.k' AS BIGINT) AS prop_k_variant FROM events",
        "json-extract (string path + typed from_json + Spark 4 VARIANT)",
    ),
    QuerySpec(
        "chat_transcripts",
        q_chat_transcripts,
        "SELECT user_id, count(*) AS n_turns, "
        "string_agg("
        "CASE WHEN event_type IN ('click','view','purchase') "
        "THEN 'user:' ELSE 'system:' END || ' ' || event_type || ' ' "
        "|| CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), "
        "chr(10) ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) "
        "AS transcript "
        "FROM events WHERE user_id < 30 GROUP BY user_id",
        "sft-transcript-formatting (r4: ordered per-user fold to "
        "role-templated text; µs+event_id sort key on both engines)",
    ),
]
