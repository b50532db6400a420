"""End-to-end pipeline orchestration (reference EP1/EP2: main.py:147-365,
agent_api.py:12-35).

``run_batch`` reproduces ``orchestrate()``'s lifecycle on DataFrames:

  scan → temporal look-back filter (F1) → watermark incremental filter (F3)
  → text extraction (F5) + usability predicate (F4) → keyed first-wins
  dedup (D1) → request build (P1/P2) → JSONL sink (K1) [--test stops here,
  X7] → watermark persist → LLM stage over the JSONL (X1, stub by default)
  → parse (EP3) → ledger updates (K4) → output↔input join (J1).

The JSONL write is the run's one action over the input: it observes the
input and request counts and the new watermark as it writes, and every
later stage (LLM, provider upload) reads the JSONL back, as the reference's
batch consumes its file. Nothing is cached.

Differences from the reference, by design (SURVEY §4):
- watermark persist order is configurable (`persist_before_submit=True`
  reproduces the reference's at-most-once bias; False = commit-after-success
  with the batch_id as idempotency key in the ledger);
- `resume`/`auto_resume_pending` (X4) work off the ledger exactly like
  ``_auto_resume_pending`` (main.py:446-523) but without the reference's
  ``status_data`` NameError bug (main.py:407 — SURVEY §2a known bug (a)).
"""

from __future__ import annotations

import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from batch_public_spark.functions.text import dedup_key, extract_text
from batch_public_spark.functions.timestamps import discover_event_ts
from batch_public_spark.operators.dedup import first_wins, incremental_filter
from batch_public_spark.pipeline.batch_api import (
    TERMINAL_STATES,
    BatchClient,
    download_results,
    submit_jsonl_dir,
    wait_for_completion,
)
from batch_public_spark.pipeline.formatter import build_requests, write_jsonl
from batch_public_spark.pipeline.llm import StubTransport, Transport, respond
from batch_public_spark.pipeline.models import resolve
from batch_public_spark.pipeline.parser import parse_batch_output
from batch_public_spark.pipeline.state import JobLedger, WatermarkStore

# Tables exempt from temporal/watermark filtering — static reference data
# (reference dynamo_fetcher.py:49-52; consumed main.py:171-174, 264).
NO_TS_FILTER: set[str] = set()


@dataclass
class RunResult:
    """``n_input``: rows after dedup; ``n_requests``: JSONL lines written
    (both observed by the write); ``requests``: the JSONL read back;
    ``parsed``: the parsed LLM replies (None unless the LLM ran)."""

    batch_id: Optional[str]
    table: str
    n_input: int
    n_requests: int
    requests: Optional[DataFrame] = None
    parsed: Optional[DataFrame] = None
    jsonl_path: Optional[str] = None
    skipped_reason: Optional[str] = None
    extra: dict = field(default_factory=dict)


class Orchestrator:
    def __init__(
        self,
        *,
        watermarks: WatermarkStore,
        ledger: JobLedger,
        transport_factory: Callable[[], Transport] = StubTransport,
        output_dir: str = "output",
        persist_before_submit: bool = True,
        no_ts_filter: Optional[set[str]] = None,
        batch_client: Optional[BatchClient] = None,
        poll_every: int = 60,
    ):
        self.watermarks = watermarks
        self.ledger = ledger
        self.transport_factory = transport_factory
        self.output_dir = output_dir
        self.persist_before_submit = persist_before_submit
        # Per-table static-data exemption (reference dynamo_fetcher.py:49-52).
        self.no_ts_filter = NO_TS_FILTER if no_ts_filter is None else no_ts_filter
        # X1/X2 provider lifecycle. When set, submit_only runs the REAL
        # upload→create flow (batch_api.submit_jsonl_dir) and resume()
        # performs genuine poll/download transitions; when None, the
        # synchronous in-process path is used (CI/bench default).
        self.batch_client = batch_client
        self.poll_every = poll_every

    def run_batch(
        self,
        df: DataFrame,
        *,
        table_name: str,
        hours: float = 12.0,
        model_key: str = "nano",
        id_col: str = "id",
        order_col: str | None = None,
        test_only: bool = False,
        submit_only: bool = False,
        now: Optional[int] = None,
    ) -> RunResult:
        """One orchestrated run over a source DataFrame."""
        # F7: hours <= 0 short-circuits before any scan work
        # (reference dynamo_fetcher.py:182-185).
        if hours <= 0:
            return RunResult(None, table_name, 0, 0, skipped_reason="hours<=0")

        now = int(now if now is not None else time.time())
        cutoff = now - int(hours * 3600)
        order = order_col or id_col

        # F2 event-time discovery + F1 look-back filter (skip for static
        # tables, reference dynamo_fetcher.py:311-314).
        work = df.withColumn("_event_ts", discover_event_ts(df))
        if table_name not in self.no_ts_filter:
            work = work.filter(
                F.col("_event_ts").isNotNull() & (F.col("_event_ts") >= F.lit(cutoff))
            )
            # F3 incremental filter against the persisted high-water mark.
            work = incremental_filter(work, "_event_ts", self.watermarks.last(table_name))

        # F5 text extraction + F4 usability, then D1 first-wins dedup.
        work = work.withColumn("_text", extract_text(df)).filter(F.col("_text").isNotNull())
        work = first_wins(work, dedup_key(work), order)
        seen = Observation()
        work = work.observe(seen, F.count(F.lit(1)).alias("n"), F.max("_event_ts").alias("wm"))
        requests = build_requests(work, text_col="_text", id_col=id_col, model_key=model_key)

        batch_id = f"batch_{uuid.uuid4().hex[:12]}"
        jsonl_path = f"{self.output_dir}/{'jsonl_test' if test_only else 'jsonl'}/{table_name}_{batch_id}"
        n_requests = write_jsonl(requests, jsonl_path)
        n_input, new_wm = seen.get["n"], seen.get["wm"]  # A1: max over post-dedup rows
        if n_input == 0:
            # Early-exit parity (reference main.py:221-223).
            shutil.rmtree(jsonl_path)
            return RunResult(None, table_name, 0, 0, skipped_reason="no new rows")
        requests = df.sparkSession.read.schema(requests.schema).json(jsonl_path)
        result = RunResult(
            None, table_name, n_input, n_requests, requests=requests, jsonl_path=jsonl_path
        )
        if test_only:
            # X7 dry-run: JSONL written to the quarantined dir, stop before
            # any external call (reference main.py:238-254).
            return result
        result.batch_id = batch_id

        # `is not None`: a legitimate watermark of 0 (epoch start) must still
        # advance — truthiness would silently skip it.
        advance_wm = table_name not in self.no_ts_filter and new_wm is not None
        if self.persist_before_submit and advance_wm:
            self.watermarks.advance(table_name, new_wm)

        self.ledger.record(
            batch_id,
            status="submitted",
            table_name=table_name,
            model=resolve(model_key),
            record_count=n_requests,
            input_jsonl=jsonl_path,
            # Recorded BEFORE any provider call: a crash between here and
            # submit_jsonl_dir leaves a marked entry that resume() closes
            # as failed (rows re-sent) instead of silently "completed".
            transport="provider" if self.batch_client is not None else "inline",
            # Commit-after-success mode: the watermark may only advance once
            # the batch closes. Recording it here lets an async submit-and-exit
            # run (submit_only) advance it when resume()/auto_resume_pending()
            # closes the entry — without this, every later run would reprocess
            # and resubmit the same rows.
            pending_watermark=(
                int(new_wm) if (advance_wm and not self.persist_before_submit) else None
            ),
        )

        if submit_only:
            # Async mode (reference --async / auto-async for >1 table,
            # main.py:686-693): submit-and-exit so cron never blocks; the
            # ledger entry stays pending until `resume`/`auto_resume_pending`
            # closes it out on a later cycle. With a provider client, this
            # is the REAL X1 upload→create flow (batch_submitter.py:48-118):
            # one uploaded file + one provider batch per JSONL part file.
            if self.batch_client is not None:
                provider = submit_jsonl_dir(self.batch_client, jsonl_path)
                self.ledger.record(
                    batch_id,
                    provider_batches=provider,
                    input_file_id=(
                        provider[0]["input_file_id"] if len(provider) == 1 else None
                    ),
                )
            return result

        # X1 blocking path. With a provider client this is the reference's
        # wait=True orchestrate mode: real submit → poll to terminal →
        # download → parse (a configured client must never be silently
        # bypassed in favor of the stub). Without one, the synchronous
        # mapInPandas transport runs in-process (CI/bench default) and X2's
        # poll loop is unnecessary.
        if self.batch_client is not None:
            provider = submit_jsonl_dir(self.batch_client, jsonl_path)
            self.ledger.record(batch_id, provider_batches=provider)
            entry = self.wait(batch_id)
            final = entry.get("final_status")
            if final != "completed":
                result.skipped_reason = f"provider batch {final}"
            else:
                result.parsed = self.parsed_outputs(df.sparkSession, batch_id)
            return result

        # The read-back has one partition per small JSONL file; spread the
        # calls over every core instead.
        spread = requests.repartition(df.sparkSession.sparkContext.defaultParallelism)
        result.parsed = parse_batch_output(respond(spread, self.transport_factory))
        self._close(batch_id)
        return result

    def run_tables(self, sources: dict[str, DataFrame], **kwargs) -> dict[str, RunResult]:
        """X5: loop orchestrate() over N tables (reference main.py:658-702).
        Sequential like the reference; Spark scheduler pools would overlap
        them on a real cluster."""
        return {
            name: self.run_batch(df, table_name=name, **kwargs) for name, df in sources.items()
        }

    def _close(self, batch_id: str, final_status: str = "completed") -> dict:
        """Terminal ledger transition. In commit-after-success mode the
        watermark recorded at submit time advances here — success is the
        commit point, so a crash between submit and close re-sends (at-least-
        once) instead of silently dropping rows (at-most-once)."""
        entry = self.ledger.get(batch_id) or {}
        wm = entry.get("pending_watermark")
        if wm is not None and final_status == "completed":
            self.watermarks.advance(entry["table_name"], wm)
        return self.ledger.record(
            batch_id, status=final_status, final_status=final_status, pending_watermark=None
        )

    def resume(self, batch_id: str) -> Optional[dict]:
        """X4: single non-blocking status check per pending batch (reference
        main.py:368-421).

        With a provider client, each pending provider batch gets exactly ONE
        ``retrieve`` per resume call (non-blocking, cron-friendly). All
        completed → download every result file (X2's download half,
        status_checker.py:70-94), record the paths, close the entry, advance
        any deferred watermark. Any failed/expired/cancelled → close with
        that terminal status WITHOUT advancing the watermark, so the rows
        are re-sent next cycle (at-least-once). Non-terminal → the entry
        stays pending for the next sweep.

        Without a provider client the synchronous transport completed
        everything inline, so resume just closes stale ledger entries."""
        entry = self.ledger.get(batch_id)
        if entry is None:
            return None
        if "final_status" in entry:
            return entry
        provider = entry.get("provider_batches")
        if provider:
            if self.batch_client is None:
                # Provider-submitted, but THIS process has no client (e.g.
                # a cron sweep constructed without one): leave it pending —
                # closing it "completed" here would advance the watermark
                # with nothing downloaded.
                return entry
            return self._resume_provider(batch_id, provider)
        if entry.get("transport") == "provider":
            # Marked for provider submission but provider_batches never got
            # recorded: the upload/create crashed mid-submit. Close as
            # failed (no watermark advance) so the rows re-send next cycle.
            return self._close(batch_id, final_status="failed")
        return self._close(batch_id)

    def _resume_provider(self, batch_id: str, provider: list[dict]) -> dict:
        updated = []
        for pb in provider:
            status = pb.get("status")
            # A batch is settled only when terminal AND (for completed) its
            # output file id is known — a batch that was already terminal at
            # create time has no output_file_id in the submit record, so it
            # still needs one retrieve.
            settled = status in TERMINAL_STATES and (
                status != "completed" or pb.get("output_file_id")
            )
            if settled:
                updated.append(pb)
                continue
            snap = self.batch_client.retrieve(pb["batch_id"])
            updated.append(
                {
                    **pb,
                    "status": snap["status"],
                    "output_file_id": snap.get("output_file_id"),
                    "error_file_id": snap.get("error_file_id"),
                }
            )
        entry = self.ledger.record(batch_id, provider_batches=updated)
        statuses = [pb["status"] for pb in updated]
        if not all(s in TERMINAL_STATES for s in statuses):
            return entry  # still pending — next cron cycle polls again
        if all(s == "completed" for s in statuses):
            missing = [pb["batch_id"] for pb in updated if not pb.get("output_file_id")]
            if missing:  # provider contract violation — fail loudly,
                raise RuntimeError(  # never a silent "completed" close
                    f"provider batches completed without an output file: {missing}"
                )
            result_dir = f"{self.output_dir}/results/{batch_id}"
            paths = [
                download_results(self.batch_client, pb["output_file_id"], result_dir)
                for pb in updated
            ]
            self.ledger.record(batch_id, output_paths=paths, output_dir=result_dir)
            return self._close(batch_id)
        # Partial/total failure: worst terminal status wins; no watermark.
        worst = next(s for s in ("failed", "expired", "cancelled") if s in statuses)
        return self._close(batch_id, final_status=worst)

    def wait(self, batch_id: str, *, sleep=time.sleep, max_polls: int | None = None) -> dict:
        """X2 blocking poll-until-terminal (status_checker.wait_for_completion,
        60 s cadence): poll every provider batch of this ledger entry to a
        terminal state, then resume() once to download + close."""
        entry = self.ledger.get(batch_id)
        if entry is None:
            raise KeyError(batch_id)
        if self.batch_client is not None:
            for pb in entry.get("provider_batches", []):
                if pb.get("status") not in TERMINAL_STATES:
                    wait_for_completion(
                        self.batch_client,
                        pb["batch_id"],
                        poll_every=self.poll_every,
                        sleep=sleep,
                        max_polls=max_polls,
                    )
        return self.resume(batch_id)

    def parsed_outputs(self, spark, batch_id: str) -> Optional[DataFrame]:
        """Downloaded result files → parsed DataFrame (EP3 over the async
        path): read the recorded output JSONLs and run the same parse stage
        the synchronous path uses."""
        from batch_public_spark.pipeline.parser import read_batch_outputs

        entry = self.ledger.get(batch_id) or {}
        out_dir = entry.get("output_dir")
        if not out_dir:
            return None
        return parse_batch_output(read_batch_outputs(spark, out_dir))

    def auto_resume_pending(self) -> dict[str, dict]:
        """X4 sweep (reference _auto_resume_pending, main.py:446-523)."""
        return {bid: self.resume(bid) for bid in list(self.ledger.pending())}
