"""Batch-request construction + JSONL sink (reference ops P1, P2, K1).

Reference shape (jsonl_formatter.py:150-179): one JSON object per line —
``{"custom_id": "row_N", "method": "POST", "url": "/v1/chat/completions",
"body": {"messages": [...], "model": ..., "user": ...}}``.

Design change for scale (SURVEY §7 risk P2): ``custom_id`` is derived from
the source primary key, not the 1-based written position — a positional id
requires a global total order (single-task sort at 100 TB) and makes the
output↔input join fragile. ``positional_custom_ids`` reproduces the exact
reference numbering for compat when needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from batch_public_spark.functions.text import strip_ws
from batch_public_spark.pipeline.models import resolve

# Reference jsonl_formatter.py:17-21, verbatim prompt constant (data, not code).
SYSTEM_PROMPT = (
    "You are a senior macroeconomic intelligence analyst. Your job is to clean, verify, and standardize incoming real-time macro and market data into a structured intelligence report for Media Blackout LLC.\n\n"
    "The input may include Reddit sentiment summaries, Google Trends spikes, news headlines, and live market prices.\n\n"
    "Your job is to transform this raw data into a clean, verified, and structured intelligence report in JSON format for later use in batch analytics and dashboards.\n"
)

ENDPOINT = "/v1/chat/completions"


def request_struct(text_col: Column, *, model_key: str = "nano", user_col: Column | None = None) -> Column:
    """The ``body`` payload (reference _build_payload, jsonl_formatter.py:24-39)."""
    model = resolve(model_key)
    messages = F.array(
        F.struct(F.lit("system").alias("role"), F.lit(SYSTEM_PROMPT).alias("content")),
        F.struct(F.lit("user").alias("role"), text_col.alias("content")),
    )
    fields = [messages.alias("messages"), F.lit(model).alias("model")]
    if user_col is not None:
        fields.append(user_col.cast("string").alias("user"))
    return F.struct(*fields)


def build_requests(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "id",
    model_key: str = "nano",
) -> DataFrame:
    """Rows → batch request records, skipping unusable text (reference F4
    applied again at format time, jsonl_formatter.py:150-152).

    ``custom_id`` = ``row_<pk>`` (≤64 chars per the OpenAI constraint noted
    at jsonl_formatter.py:169) — key-based, shuffle-free, join-ready.
    """
    text = strip_ws(F.col(text_col))
    return (
        df.filter(F.length(text) > 0)
        .select(
            F.concat(F.lit("row_"), F.col(id_col).cast("string")).substr(1, 64).alias("custom_id"),
            F.lit("POST").alias("method"),
            F.lit(ENDPOINT).alias("url"),
            request_struct(text, model_key=model_key, user_col=F.col(id_col)).alias("body"),
        )
    )


def positional_custom_ids(requests: DataFrame, order_col: str) -> DataFrame:
    """Compat shim: exact reference numbering ``row_{n}``, 1-based over
    written rows (jsonl_formatter.py:168-173). Requires a global order ⇒
    single-partition window — fine for ≤ millions of rows, deliberately NOT
    the default at 100 TB."""
    w = W.orderBy(order_col)
    return requests.withColumn(
        "custom_id", F.concat(F.lit("row_"), F.row_number().over(w).cast("string"))
    )


def write_jsonl(requests: DataFrame, path: str, *, max_records_per_file: int | None = None) -> int:
    """JSONL sink (reference K1): one compact JSON per line, never
    overwrite (mode=error mirrors the reference's suffix-counter refusal to
    clobber, jsonl_formatter.py:61-73). Returns the written count, observed
    by the write itself rather than counted by a second job.

    ``maxRecordsPerFile`` maps to the OpenAI per-file batch limits at scale
    (SURVEY §4 design note)."""
    written = Observation()
    jsonl = requests.observe(written, F.count(F.lit(1)).alias("n")).select(
        F.to_json(F.struct(*requests.columns)).alias("value")
    )
    writer = jsonl.write.mode("error")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.text(path)
    return written.get["n"]
