"""End-to-end pipeline tests (reference EP1/EP3 parity: golden fixture rows
per FIXTURES.md §B, property checks per SURVEY §5)."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from batch_public_spark.pipeline import (
    JobLedger,
    Orchestrator,
    StubTransport,
    WatermarkStore,
    build_requests,
    join_outputs_to_inputs,
    parse_batch_output,
    read_batch_outputs,
    resolve,
    respond,
)

NOW = 1_715_000_000  # fixed "now" so look-back windows are deterministic


@pytest.fixture()
def source(spark):
    """Dynamo-ish heterogeneous rows (FIXTURES.md §B1)."""
    rows = [
        # fresh, duplicate urls differing in case/whitespace → dedup to one
        Row(id="1", url="http://x/A", timestamp=str(NOW - 100), summary="first copy"),
        Row(id="2", url=" HTTP://X/a ", timestamp=str(NOW - 50), summary="second copy"),
        # fresh, id-keyed (no url)
        Row(id="3", url=None, timestamp=f"{NOW - 200}", summary="\tid keyed\n"),
        # too old (outside 12 h look-back)
        Row(id="4", url="http://x/old", timestamp=str(NOW - 13 * 3600), summary="stale"),
        # missing ts → dropped (table not in NO_TS_FILTER)
        Row(id="5", url="http://x/nots", timestamp=None, summary="no ts"),
        # fresh but no usable text → dropped
        Row(id="6", url="http://x/notext", timestamp=str(NOW - 10), summary="   "),
        # whitespace beyond U+0020 (str.strip() semantics) is no text either
        Row(id="7", url="http://x/tabs", timestamp=str(NOW - 20), summary="\t\n"),
        Row(id="8", url="http://x/nbsp", timestamp=str(NOW - 30), summary="\u00a0"),
    ]
    return spark.createDataFrame(rows)


@pytest.fixture()
def orch(tmp_path):
    return Orchestrator(
        watermarks=WatermarkStore(str(tmp_path / "wm.json")),
        ledger=JobLedger(str(tmp_path / "ledger.json")),
        transport_factory=StubTransport,
        output_dir=str(tmp_path / "out"),
    )


def test_run_batch_end_to_end(spark, source, orch):
    res = orch.run_batch(source, table_name="news", hours=12, now=NOW)
    # rows 1+2 dedup to one (first-wins by id), row 3 kept, 4-8 dropped
    assert res.n_input == 2
    assert res.n_requests == 2
    reqs = {r["custom_id"]: r for r in res.requests.collect()}
    assert set(reqs) == {"row_1", "row_3"}  # first-wins kept id=1, not id=2
    body = reqs["row_1"]["body"]
    assert body["model"] == resolve("nano")
    assert body["messages"][0]["role"] == "system"
    assert body["messages"][1]["content"] == "first copy"
    assert body["user"] == "1"
    assert reqs["row_3"]["body"]["messages"][1]["content"] == "id keyed"
    # parse stage produced provenance-joined rows
    parsed = res.parsed.collect()
    assert {p["_source_custom_id"] for p in parsed} == {"row_1", "row_3"}
    assert all(p["parsed"] is not None for p in parsed)
    # watermark advanced to max ts among SUBMITTED rows (id=1 at NOW-100;
    # the NOW-50 duplicate was deduped away, so it does not advance the mark
    # — same as the reference's max over post-dedup items, main.py:264-274)
    assert orch.watermarks.last("news") == NOW - 100
    # ledger closed out
    entry = orch.ledger.get(res.batch_id)
    assert entry["final_status"] == "completed"
    assert entry["record_count"] == 2


def test_watermark_convergence_over_reruns(spark, source, orch, tmp_path):
    """Property (SURVEY §5): repeated runs over the same input converge to
    empty. Faithful wrinkle: the dedup seen-set is per-invocation (reference
    dynamo_fetcher.py:200-203), so the newer duplicate (id=2, NOW-50) that
    lost first-wins in run 1 is re-considered in run 2 — it sits above the
    run-1 watermark (NOW-100) and goes out alone. Run 3 is empty, and no
    run leaves cached data, an empty JSONL directory or a ledger entry
    behind for nothing."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    first = orch.run_batch(source, table_name="news", hours=12, now=NOW)
    assert first.n_requests == 2
    second = orch.run_batch(source, table_name="news", hours=12, now=NOW)
    assert second.n_requests == 1
    assert [r["custom_id"] for r in second.requests.collect()] == ["row_2"]
    assert orch.watermarks.last("news") == NOW - 50
    jsonl_dirs = glob.glob(str(tmp_path / "out" / "jsonl" / "news_*"))
    ledger = orch.ledger.all()
    third = orch.run_batch(source, table_name="news", hours=12, now=NOW)
    assert third.skipped_reason == "no new rows"
    assert orch.watermarks.last("news") == NOW - 50
    assert glob.glob(str(tmp_path / "out" / "jsonl" / "news_*")) == jsonl_dirs
    assert orch.ledger.all() == ledger
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def test_dry_run_writes_jsonl_only(spark, source, orch, tmp_path):
    res = orch.run_batch(source, table_name="news", hours=12, now=NOW, test_only=True)
    assert res.batch_id is None
    assert "jsonl_test" in res.jsonl_path
    # valid one-object-per-line JSONL on disk
    files = [
        os.path.join(res.jsonl_path, f)
        for f in os.listdir(res.jsonl_path)
        if f.endswith(".txt") or f.startswith("part-")
    ]
    lines = []
    for f in files:
        if os.path.isfile(f):
            with open(f) as fh:
                lines += [json.loads(line) for line in fh if line.strip()]
    assert len(lines) == 2
    assert {l["custom_id"] for l in lines} == {"row_1", "row_3"}
    assert all(l["method"] == "POST" and l["url"] == "/v1/chat/completions" for l in lines)
    # no OpenAI call, no ledger entry, no watermark movement (X7)
    assert orch.ledger.all() == {}
    assert orch.watermarks.last("news") is None


def test_llm_called_once_per_request(spark, source, tmp_path):
    """The inline LLM stage runs each request through the transport once:
    parsing its replies must not re-run it."""
    calls = spark.sparkContext.accumulator(0)

    class CountingTransport(StubTransport):
        def complete(self, custom_id, body):
            calls.add(1)
            return super().complete(custom_id, body)

    orch = Orchestrator(
        watermarks=WatermarkStore(str(tmp_path / "wm.json")),
        ledger=JobLedger(str(tmp_path / "ledger.json")),
        transport_factory=CountingTransport,
        output_dir=str(tmp_path / "out"),
    )
    res = orch.run_batch(source, table_name="news", hours=12, now=NOW)
    res.parsed.collect()
    assert calls.value == res.n_requests == 2


def test_hours_zero_short_circuit(spark, source, orch):
    res = orch.run_batch(source, table_name="news", hours=0, now=NOW)
    assert res.skipped_reason == "hours<=0"


def test_auto_resume_pending(spark, source, orch):
    orch.ledger.record("batch_stale", status="submitted", table_name="news")
    swept = orch.auto_resume_pending()
    assert swept["batch_stale"]["final_status"] == "completed"
    assert orch.ledger.pending() == {}


def test_parse_handles_all_stub_variants(spark):
    """StubTransport emits clean/fenced/trailing-comma/array replies; the
    parse stage must land every one as structured data (never raw)."""
    docs = spark.range(40).select(
        F.col("id").cast("string").alias("id"),
        F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("text"),
    )
    requests = build_requests(docs, text_col="text", id_col="id")
    parsed = parse_batch_output(respond(requests))
    rows = parsed.collect()
    assert len(rows) >= 40  # arrays explode into >1 row
    assert all(not r["is_raw"] for r in rows)
    assert all("sentiment" in r["parsed"] for r in rows)
    # array replies carry their element index, scalars -1
    idx = {r["_source_list_index"] for r in rows}
    assert -1 in idx
    assert any(i >= 0 for i in idx)


def test_join_outputs_to_inputs(spark):
    docs = spark.range(10).select(
        F.col("id").cast("string").alias("id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
    )
    requests = build_requests(docs, text_col="text", id_col="id")
    parsed = parse_batch_output(respond(requests))
    joined = join_outputs_to_inputs(parsed, requests)
    assert joined.filter(F.col("body").isNull()).count() == 0


def test_read_batch_outputs_tolerates_malformed(spark, tmp_path):
    p = tmp_path / "out.jsonl"

    def reply(custom_id, content):
        return {
            "id": "x",
            "custom_id": custom_id,
            "response": {
                "status_code": 200,
                "body": {"choices": [{"message": {"role": "assistant", "content": content}}]},
            },
        }

    bad_status = {"id": "y", "custom_id": "row_2", "response": {"status_code": 500, "body": None}}
    # Reply edge cases: clean, fenced, trailing comma, array, empty array,
    # array of non-objects, broken array, leading space, fenced array,
    # trailing-comma array, empty string.
    edges = [
        '{"a": 1}',
        '```json\n{"a": 2}\n```',
        '{"a": 3,}',
        '[{"a": 4}, {"a": 5}]',
        "[]",
        "[1,2]",
        "[not json",
        ' {"a": 6}',
        '```json\n[{"a": 7}]\n```',
        '[{"a": 8},]',
        "",
    ]
    lines = [json.dumps(reply("row_1", '{"a": 1}')), "NOT JSON AT ALL", json.dumps(bad_status)]
    lines += [json.dumps(reply(f"row_{10 + i}", c)) for i, c in enumerate(edges)]
    p.write_text("\n".join(lines) + "\n")
    df = read_batch_outputs(spark, str(p))
    parsed = parse_batch_output(df)
    rows = sorted(
        (r["_source_custom_id"], r["_source_list_index"], r["parsed"], r["is_raw"])
        for r in parsed.collect()
    )
    # malformed line quarantined, 500 filtered (F6), `[]` yields no row,
    # anything unparseable is kept verbatim as raw_content
    assert rows == [
        ("row_1", -1, {"a": "1"}, False),
        ("row_10", -1, {"a": "1"}, False),
        ("row_11", -1, {"a": "2"}, False),
        ("row_12", -1, {"a": "3"}, False),
        ("row_13", 0, {"a": "4"}, False),
        ("row_13", 1, {"a": "5"}, False),
        ("row_15", -1, {"raw_content": "[1,2]"}, True),
        ("row_16", -1, {"raw_content": "[not json"}, True),
        ("row_17", -1, {"a": "6"}, False),
        ("row_18", 0, {"a": "7"}, False),
        ("row_19", 0, {"a": "8"}, False),
        ("row_20", -1, {"raw_content": ""}, True),
    ]


def test_async_commit_after_success_advances_watermark_on_resume(spark, source, tmp_path):
    """Regression (ADVICE r1, orchestrator.py): submit_only + commit-after-
    success must not strand the watermark — resume() closing the ledger
    entry advances it, so the next run doesn't resubmit the same rows."""
    orch = Orchestrator(
        watermarks=WatermarkStore(str(tmp_path / "wm2.json")),
        ledger=JobLedger(str(tmp_path / "ledger2.json")),
        transport_factory=StubTransport,
        output_dir=str(tmp_path / "out2"),
        persist_before_submit=False,
    )
    res = orch.run_batch(source, table_name="news", hours=12, now=NOW, submit_only=True)
    assert res.batch_id is not None
    # not yet committed: the batch is in flight
    assert orch.watermarks.last("news") is None
    entry = orch.ledger.get(res.batch_id)
    assert entry["pending_watermark"] == NOW - 100
    # cron cycle closes the batch → watermark advances exactly once
    closed = orch.resume(res.batch_id)
    assert closed["final_status"] == "completed"
    assert closed["pending_watermark"] is None
    assert orch.watermarks.last("news") == NOW - 100
    # rerun resubmits only the re-considered duplicate above the mark, not everything
    second = orch.run_batch(source, table_name="news", hours=12, now=NOW, submit_only=True)
    assert second.n_requests == 1


# ---------------------------------------------------------------------------
# Ledger contract: JSON file vs Delta-backed (via the memory shim)
# ---------------------------------------------------------------------------


def _ledger_pair(tmp_path):
    from batch_public_spark.pipeline.state import DeltaJobLedger, MemoryLedgerBackend

    return [
        JobLedger(str(tmp_path / "contract.json")),
        DeltaJobLedger(backend=MemoryLedgerBackend()),
    ]


def test_ledger_contract_identical_across_backends(tmp_path):
    """DeltaJobLedger (through the MERGE-semantics memory backend) must
    behave identically to the JSON-file ledger: field merge on repeated
    record, created_utc pinned once, pending = no final_status (SURVEY §1
    batch_status.json -> Delta mapping, verdict r3 next-round #7)."""
    for ledger in _ledger_pair(tmp_path):
        e1 = ledger.record("b1", status="submitted", table_name="news", record_count=3)
        assert e1["created_utc"]  # defaulted exactly once
        created = e1["created_utc"]

        e2 = ledger.record("b1", status="polling")
        assert e2["created_utc"] == created  # merge, not replace
        assert e2["table_name"] == "news" and e2["record_count"] == 3
        assert e2["status"] == "polling"

        ledger.record("b2", status="submitted")
        assert set(ledger.pending()) == {"b1", "b2"}

        ledger.record("b1", final_status="completed", output_file_id="f-9")
        assert set(ledger.pending()) == {"b2"}
        assert ledger.get("b1")["final_status"] == "completed"
        assert ledger.get("missing") is None
        assert set(ledger.all()) == {"b1", "b2"}


def test_delta_ledger_backend_gated_without_jars(tmp_path):
    """Without delta-spark the Delta backend refuses with a clear error
    pointing at the JSON ledger (import-gated, never a jar stack trace)."""
    import pytest

    from batch_public_spark.pipeline.state import (
        DeltaLedgerBackend,
        delta_available,
    )

    if delta_available():  # pragma: no cover - sandbox has no delta jars
        pytest.skip("delta present in this environment")
    with pytest.raises(ImportError, match="JobLedger"):
        DeltaLedgerBackend(None, str(tmp_path / "delta"))


def test_delta_ledger_sql_shapes():
    """The composed DDL/MERGE statements carry the contract: keyed MERGE,
    full-row update, insert-when-absent, final_status as a real column
    (pending scans push the predicate down)."""
    from batch_public_spark.pipeline.state import DeltaLedgerBackend

    create = DeltaLedgerBackend.create_sql("/lake/ledger")
    assert "CREATE TABLE IF NOT EXISTS delta.`/lake/ledger`" in create
    assert "USING DELTA" in create and "final_status STRING" in create

    merge = DeltaLedgerBackend.merge_sql("/lake/ledger")
    assert "MERGE INTO delta.`/lake/ledger`" in merge
    assert "ON t.batch_id = s.batch_id" in merge
    # compare-and-swap: update gated on the read version, insert gated on
    # expected absence — a stale writer's MERGE must be a no-op
    assert "WHEN MATCHED AND t.version = s.expected_version THEN UPDATE SET" in merge
    assert "t.version = s.expected_version + 1" in merge
    assert "WHEN NOT MATCHED AND s.expected_version = 0 THEN INSERT" in merge


def test_delta_ledger_cas_prevents_lost_update():
    """Two drivers record different fields for the same batch with
    interleaved read-merge-write: the CAS loop must retry the stale
    writer so BOTH fields survive (the lost-update the r4 review
    flagged against the pre-version MERGE)."""
    from batch_public_spark.pipeline.state import DeltaJobLedger, MemoryLedgerBackend

    backend = MemoryLedgerBackend()
    ledger = DeltaJobLedger(backend=backend)
    ledger.record("b1", status="submitted")

    # Driver A reads, then driver B sneaks a committed write in before A's
    # upsert: simulate by wrapping lookup to inject B's record once.
    real_lookup = backend.lookup
    injected = {"done": False}

    def lookup_with_interleave(batch_id):
        row = real_lookup(batch_id)
        if not injected["done"]:
            injected["done"] = True
            # B commits between A's read and A's write
            other = DeltaJobLedger(backend=backend)
            other.record("b1", output_file_id="f-9")
        return row

    backend.lookup = lookup_with_interleave
    entry = ledger.record("b1", status="polling")
    backend.lookup = real_lookup

    final = ledger.get("b1")
    assert final["status"] == "polling"
    assert final["output_file_id"] == "f-9"  # B's field not lost
    assert entry["output_file_id"] == "f-9"


def test_memory_backend_upsert_rejects_stale_version():
    from batch_public_spark.pipeline.state import MemoryLedgerBackend

    b = MemoryLedgerBackend()
    assert b.upsert("x", "t0", None, "{}", expected_version=0)
    assert not b.upsert("x", "t1", None, "{}", expected_version=0)  # stale
    payload, version = b.lookup("x")
    assert version == 1 and payload == "{}"
    assert b.upsert("x", "t1", None, '{"a":1}', expected_version=1)
    assert b.lookup("x")[1] == 2


def test_delta_ledger_migration_sql_shapes():
    """Pre-version ledgers must be upgradeable in place: add the column,
    backfill to version 1 (so live CAS writers see non-null versions)."""
    from batch_public_spark.pipeline.state import DeltaLedgerBackend

    stmts = DeltaLedgerBackend.migrate_sql("/lake/ledger")
    assert stmts[0] == "ALTER TABLE delta.`/lake/ledger` ADD COLUMN (version BIGINT)"
    assert stmts[1] == "UPDATE delta.`/lake/ledger` SET version = 1 WHERE version IS NULL"
