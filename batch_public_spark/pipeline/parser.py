"""Batch-output parse stage (reference ops S3, S4, F6, P3-P7 — EP3).

Reference lifecycle (parse.py:176-222): per JSONL line → decode → keep only
``response.status_code == 200`` with an intact ``body.choices[0].message.
content`` → the content is itself a JSON string → strict parse, else
fence-strip, else fuzzy repair, else keep ``{"raw_content": text}`` (never
silently lose data) → attach provenance (``_source_custom_id``, and
``_source_list_index`` when the reply was a JSON array, flattened one row
per element).

Spark-first shape: everything is column expressions over ``from_json`` /
``posexplode`` — no Python in the row path. The parsed payload is a
``map<string,string>`` (nested objects stay as raw JSON strings), the
columnar analogue of the reference's arbitrary dict.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_public_spark.functions.json_repair import loosen_json, strip_fences

# Outer record schema (reference parse.py:1-27 docstring).
OUTPUT_SCHEMA = (
    "id string, custom_id string, "
    "response struct<status_code int, body struct<"
    "choices array<struct<message struct<role string, content string>>>>>"
)

MAP = "map<string,string>"
ARR = "array<map<string,string>>"


def read_batch_outputs(spark: SparkSession, path: str) -> DataFrame:
    """JSONL source (S3/S4): recursive glob, malformed lines quarantined to
    ``_corrupt`` instead of failing the read (reference drops them with a
    warning, parse.py:58-69)."""
    return (
        spark.read.schema(OUTPUT_SCHEMA + ", _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .option("recursiveFileLookup", "true")
        .json(path)
    )


def parse_batch_output(records: DataFrame) -> DataFrame:
    """F6 + P3-P7 over structured output records.

    Output: ``_source_custom_id``, ``_source_list_index`` (-1 for scalar
    replies), ``parsed`` map, ``is_raw`` flag (unparseable kept verbatim).
    """
    content = F.col("response.body.choices").getItem(0)["message"]["content"]
    ok = (
        (F.col("response.status_code") == 200)
        & F.col("response.body").isNotNull()
        & (F.size(F.coalesce(F.col("response.body.choices"), F.array())) > 0)
        & content.isNotNull()
    )

    cleaned = strip_fences(content)
    repaired = loosen_json(cleaned)

    # Scalar-object path: strict parse → repaired parse → raw_content.
    obj = F.coalesce(
        F.from_json(cleaned, MAP),
        F.from_json(repaired, MAP),
        F.create_map(F.lit("raw_content"), cleaned),
    )
    # Array path (reply is a JSON array → one row per element, P7).
    arr = F.coalesce(F.from_json(cleaned, ARR), F.from_json(repaired, ARR))

    base = records.filter(ok).select(
        F.col("custom_id").alias("_source_custom_id"),
        F.when(cleaned.startswith("["), arr).alias("_arr"),
        obj.alias("_obj"),
    )
    # One pass: a scalar reply explodes as a one-element list, index -1.
    return base.select(
        "_source_custom_id",
        F.col("_arr").isNull().alias("_scalar"),
        F.posexplode(F.coalesce("_arr", F.array("_obj"))).alias("_pos", "parsed"),
    ).select(
        "_source_custom_id",
        F.when(F.col("_scalar"), -1).otherwise(F.col("_pos")).cast("int").alias("_source_list_index"),
        "parsed",
        (F.col("_scalar") & F.map_contains_key("parsed", "raw_content")).alias("is_raw"),
    )


def join_outputs_to_inputs(parsed: DataFrame, requests: DataFrame) -> DataFrame:
    """J1 (SURVEY §2b): reunify LLM outputs with their source requests via an
    explicit equi join on custom_id — the join the reference enables through
    P2/P6 but never performs. At scale this is a plain shuffle-hash/SMJ on a
    unique key; broadcast if one side is small."""
    return parsed.join(
        requests.withColumnRenamed("custom_id", "_source_custom_id"),
        "_source_custom_id",
        "left",
    )
