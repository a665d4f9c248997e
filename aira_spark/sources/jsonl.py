"""JSONL (newline-delimited JSON) ingest with dead-letter semantics — the
other half of a real ingest surface next to parquet scans and binary image
decode: web-scale event feeds arrive as JSONL, and a production reader
must count + quarantine malformed lines, never drop them silently or fail
the job.

Shape: `spark.read.json` in PERMISSIVE mode with a corrupt-record column —
the scan itself classifies every line (schema enforced, so Catalyst prunes
and no sampling pass runs); the summary is one hash agg where the
dead-letter bucket is just another group. Malformed lines keep their raw
text in `_corrupt` for quarantine sinks.

Determinism: the fixture writer serializes events through to_json with the
timestamp pre-cast to STRING (engine-stable), sorts by event_id into one
file per bucket, and corrupts exactly the event_id % 97 == 0 lines by
truncating the closing brace — so the oracle recomputes every count from
the events table alone."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import read_table

EVENTS_JSON_SCHEMA = (
    "event_id long, ts string, user_id long, event_type string, "
    "value double, _corrupt string"
)


def write_events_jsonl(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Materialize the events table as JSONL text with event_id % 97 == 0
    lines deterministically corrupted (truncated JSON). Idempotent."""
    marker = f"{out_dir}/_SUCCESS"
    if os.path.exists(marker):
        return out_dir
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("string").alias("ts"),
        "user_id", "event_type", "value",
    )
    lines = ev.select(
        "event_id",
        F.when(
            F.col("event_id") % 97 == 0,
            F.expr("substring(to_json(struct(event_id, ts, user_id, event_type, value)), 1, 20)"),
        )
        .otherwise(F.expr("to_json(struct(event_id, ts, user_id, event_type, value))"))
        .alias("value"),
    )
    (
        lines.repartition(4, "event_id")
        .sortWithinPartitions("event_id")
        .select("value")
        .write.mode("overwrite")
        .text(out_dir)
    )
    return out_dir


def read_events_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """PERMISSIVE scan: well-formed lines parse into the enforced schema,
    malformed lines land whole in `_corrupt` with NULL fields."""
    return (
        spark.read.schema(EVENTS_JSON_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )


def jsonl_ingest_summary(df: DataFrame) -> DataFrame:
    """(event_type, n_rows, value_cents): per-type counts over the parsed
    rows plus one '_dead_letter_' row counting quarantined lines — ONE
    pass, the dead-letter bucket is just another group key (and referencing
    a parsed column alongside `_corrupt` sidesteps Spark's
    QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction by construction)."""
    return (
        df.groupBy(
            F.when(F.col("_corrupt").isNotNull(), F.lit("_dead_letter_"))
            .otherwise(F.col("event_type"))
            .alias("event_type")
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_corrupt").isNull(),
                        F.expr("CAST(FLOOR(value * 100.0) AS BIGINT)"),
                    )
                ),
                F.lit(0),
            ).cast("long").alias("value_cents"),
        )
    )


def oracle_jsonl_sql(table: str = "events") -> str:
    """The summary recomputed from the source table alone: corrupt lines
    are exactly the event_id % 97 == 0 ones."""
    return f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT) AS value_cents
FROM {table} WHERE event_id % 97 != 0 GROUP BY 1
UNION ALL
SELECT '_dead_letter_', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT)
FROM {table} WHERE event_id % 97 = 0
"""
