"""The benchmark's workloads. Each one builds its seeded inputs, runs them
through the program's public entry points, checks the outputs against the
generator's expected results, and reports timed and traced metrics.

An *operation* is the unit a user waits for: one backfill run
(``run_tables`` over every table of a cold snapshot, then every
``RunResult.parsed`` forced), one cron cycle of the incremental workload, or
one pass of the curation cascade.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

import gen
import harness
from harness import noop

SCALE = {
    # items per snapshot; warm-up op size
    "pipeline-backfill": dict(items=30_000, warm_items=2_000),
    # seeded history items, delta rows per table per cycle
    "pipeline-incremental": dict(history=9_000, delta=2_000),
    # documents, vectors, queries; warm-up corpus size
    "curation": dict(docs=10_000, vectors=10_000, queries=200, warm_docs=2_000),
}
MINHASH_THRESHOLD = 0.6  # dedup_minhash's default
ANN_K = 10
ANN_RECALL_FLOOR = 0.5  # below this the ANN output is counted as failed
NEARDUP_RECALL_FLOOR = 0.8  # sanity floor; the measured recall is reported
KV_TABLES = ("news",)  # backfill tables scanned through kvsnapshot, not load_table


class CheckFailed(AssertionError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# ---------------------------------------------------------------------------
# Pipeline workloads
# ---------------------------------------------------------------------------


def write_snapshot(snap_dir: str, records: dict[str, list[dict]],
                   kv_tables: tuple[str, ...] = ()) -> None:
    """One ``<table>.parquet`` export per table, except that tables in
    ``kv_tables`` are written as a JSONL KV snapshot directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"STRING": pa.string(), "BIGINT": pa.int64(), "DOUBLE": pa.float64()}
    os.makedirs(snap_dir, exist_ok=True)
    for table, recs in records.items():
        if table in kv_tables:
            os.makedirs(os.path.join(snap_dir, table))
            with open(os.path.join(snap_dir, table, "part-00000.jsonl"), "wb") as fh:
                fh.write(gen.to_jsonl(recs))
            continue
        schema = pa.schema([(name, types[typ]) for name, typ in
                            (col.split() for col in gen.TABLES[table].split(", "))])
        pq.write_table(pa.Table.from_pylist(recs, schema=schema),
                       os.path.join(snap_dir, f"{table}.parquet"))


def snapshot_bytes(snap_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(snap_dir) for f in fs)


def sources(spark, snap_dir: str) -> dict:
    """The snapshot tables, each either a parquet export read through
    ``load_table`` or a JSONL KV snapshot read through ``kvsnapshot``."""
    from batch_public_spark.sources.kvscan import register_kv_source
    from batch_public_spark.sources.tables import load_table

    out = {}
    for t, ddl in gen.TABLES.items():
        if os.path.exists(os.path.join(snap_dir, f"{t}.parquet")):
            out[t] = load_table(spark, snap_dir, t)
        else:
            register_kv_source(spark)
            out[t] = (spark.read.format("kvsnapshot").schema(ddl)
                      .option("path", os.path.join(snap_dir, t)).load())
    return out


def state_classes(tracer: harness.Tracer | None):
    """``JobLedger`` / ``WatermarkStore``, or subclasses whose writes run in
    spans when tracing."""
    from batch_public_spark.pipeline.state import JobLedger, WatermarkStore

    if tracer is None:
        return JobLedger, WatermarkStore

    class Ledger(JobLedger):
        def record(self, batch_id, **fields):
            with tracer.span("pipeline.state.ledger_record"):
                return super().record(batch_id, **fields)

    class Watermarks(WatermarkStore):
        def advance(self, table, ts):
            with tracer.span("pipeline.state.watermark_advance"):
                return super().advance(table, ts)

    return Ledger, Watermarks


def id_hash(col: str):
    """Order-insensitive id checksum term; decimal so sums cannot overflow."""
    from pyspark.sql import functions as F

    return F.xxhash64(col).cast("decimal(38,0)")


def parsed_observed(parsed, name: str):
    """``parsed`` with an observation of the figures the checks need: raw
    rows, one head row per request (list index <= 0) and an id checksum."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    head = F.col("_source_list_index") <= 0
    df = parsed.observe(
        obs,
        F.sum(F.col("is_raw").cast("long")).alias("raw"),
        F.sum(F.when(head, 1).otherwise(0)).alias("heads"),
        F.sum(F.when(head, id_hash("_source_custom_id")).otherwise(0)).alias("ids"),
    )
    return df, obs


class Pipeline:
    """One orchestrator over a snapshot directory, with fresh state."""

    def __init__(self, spark, base: str, counters: harness.TransportCounters,
                 tracer: harness.Tracer | None = None):
        from batch_public_spark.pipeline import Orchestrator

        if os.path.exists(base):
            shutil.rmtree(base)
        os.makedirs(base)
        ledger_cls, wm_cls = state_classes(tracer)
        self.spark, self.base = spark, base
        self.ledger_path = os.path.join(base, "batch_status.json")
        self.watermarks = wm_cls(os.path.join(base, "batch_watermark.json"))
        self.orch = Orchestrator(
            watermarks=self.watermarks,
            ledger=ledger_cls(self.ledger_path),
            transport_factory=counters.factory(),
            output_dir=os.path.join(base, "output"),
        )

    def run(self, snap_dir: str, now: int, tracer: harness.Tracer | None = None):
        """The timed operation: ``run_tables`` then force every parsed
        output. Returns ``(results, observations)``. With a tracer, each half
        runs in a span and under a job group of the same name."""
        sc = self.spark.sparkContext
        with _phase(sc, tracer, "op.run_tables"):
            results = self.orch.run_tables(sources(self.spark, snap_dir),
                                           hours=gen.LOOKBACK_H, now=now)
        observed = {}
        with _phase(sc, tracer, "op.parse"):
            for t, r in results.items():
                if r.parsed is not None:
                    df, observed[t] = parsed_observed(r.parsed, f"parsed_{t}")
                    noop(df)
        return results, observed


@contextmanager
def _phase(sc, tracer: harness.Tracer | None, name: str, **attrs):
    """A span plus a job group named ``name``; nothing when not tracing."""
    if tracer is None:
        yield None
        return
    sc.setJobGroup(name, name)
    try:
        with tracer.span(name, **attrs) as sp:
            yield sp
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def check_pipeline(spark, results, observed, expected: dict[str, gen.Funnel]) -> dict:
    """Compare one operation's outputs with the expected funnels. Returns
    the written custom ids per table, raw parsed rows and requests."""
    from pyspark.sql import functions as F

    out = dict(written={}, raw_rows=0, requests=0)
    for t, exp in expected.items():
        r = results[t]
        check(r.n_input == exp.n_input, f"{t}: n_input {r.n_input} != {exp.n_input}")
        check(r.n_requests == exp.n_requests,
              f"{t}: n_requests {r.n_requests} != {exp.n_requests}")
        if exp.n_requests == 0:
            check(r.parsed is None, f"{t}: parsed output for an empty run")
            out["written"][t] = set()
            continue
        ids = spark.read.text(r.jsonl_path).select(
            F.get_json_object("value", "$.custom_id").alias("cid"),
            F.get_json_object("value", "$.body.messages[1].content").alias("text"))
        written = {row.cid: row.text for row in ids.collect()}
        check(sorted(written) == exp.custom_ids,
              f"{t}: written custom_ids differ from the expected set")
        bad = [c for c, text in written.items() if text != exp.texts[c]]
        check(not bad, f"{t}: {len(bad)} requests carry the wrong text, e.g. {bad[:3]}")
        got = set(written)
        idsum = ids.agg(F.sum(id_hash("cid"))).collect()[0][0]
        m = observed[t].get
        check(m["heads"] == exp.n_requests,
              f"{t}: distinct parsed _source_custom_id {m['heads']} != {exp.n_requests}")
        check(m["ids"] == idsum, f"{t}: parsed _source_custom_id set differs from requests")
        check(m["raw"] == 0, f"{t}: {m['raw']} raw (unparseable) rows")
        out["written"][t] = got
        out["raw_rows"] += m["raw"]
        out["requests"] += exp.n_requests
    return out


def dups_dropped(metas: dict[str, list[gen.Meta]], written: dict[str, set]) -> tuple[int, int]:
    """Planted same-run duplicates, and how many of them the run wrote no
    request for."""
    planted = dropped = 0
    for t, ms in metas.items():
        for m in ms:
            if m.category == "dup":
                planted += 1
                dropped += f"row_{m.id}" not in written.get(t, ())
    return planted, dropped


@dataclass
class OpResult:
    """One operation: wall seconds, input items, planted duplicates and how
    many were caught, and the error that failed it (None = passed)."""

    seconds: float
    items: int
    planted: int
    caught: int
    error: str | None = None


class Workload:
    """Interface of a workload. ``prepare`` generates inputs (no Spark);
    ``open`` binds a session and runs what a job invocation needs before
    its operation; ``start`` binds a session and runs the untimed warm-up
    operation; ``op`` runs one timed operation and checks it; ``trace``
    returns the per-layer metrics of one traced operation."""

    name = ""

    def __init__(self, seed: int, work_dir: str):
        self.seed, self.work_dir = seed, work_dir
        self.scale = SCALE[self.name]

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    def bind(self, spark) -> None:
        """Use ``spark`` (and fresh transport counters) from now on."""
        self.spark = spark
        self.counters = harness.TransportCounters(spark, self.seed)

    def open(self, spark) -> list[OpResult]:
        """Bind ``spark``; returns the untimed operations run (none)."""
        self.bind(spark)
        return []

    def trace(self, tracer: harness.Tracer) -> tuple[dict, dict, list]:
        """Per-layer metrics, notes, and every operation run."""
        return trace_pipeline(self, tracer)


class Backfill(Workload):
    name = "pipeline-backfill"

    def prepare(self) -> None:
        self.snap = gen.backfill_snapshot(self.seed, self.scale["items"])
        self.expected = self.snap.expected(now=gen.NOW, hours=gen.LOOKBACK_H)
        write_snapshot(self.path("snap"), self.snap.records, KV_TABLES)
        small = gen.backfill_snapshot(self.seed + 1_000_003, self.scale["warm_items"])
        self.warm_expected = small.expected(now=gen.NOW, hours=gen.LOOKBACK_H)
        self.warm_metas = small.metas
        write_snapshot(self.path("snap-warm"), small.records, KV_TABLES)
        self.ops = 0

    def start(self, spark) -> OpResult:
        self.bind(spark)
        return self._op(self.path("snap-warm"), self.warm_expected, self.warm_metas,
                        self.scale["warm_items"])

    def op(self) -> OpResult:
        return self._op(self.path("snap"), self.expected, self.snap.metas,
                        self.scale["items"])

    def _op(self, snap_dir, expected, metas, items, tracer=None) -> OpResult:
        self.ops += 1
        pipe = Pipeline(self.spark, self.path(f"state-{self.ops}"), self.counters, tracer)
        self.pipe = pipe
        try:
            return run_checked(self, pipe, snap_dir, gen.NOW, expected, metas, items, tracer)
        finally:
            if tracer is None:
                shutil.rmtree(pipe.base, ignore_errors=True)

    def next_input(self):
        return self.path("snap"), gen.NOW, {t: None for t in gen.TABLES}

    def traced_op(self, tracer: harness.Tracer) -> OpResult:
        return self._op(self.path("snap"), self.expected, self.snap.metas,
                        self.scale["items"], tracer)


def run_checked(wl, pipe: Pipeline, snap_dir, now, expected, metas, items,
                tracer=None) -> OpResult:
    """One timed pipeline operation, then its checks (outside the timer)."""
    spark = wl.spark
    t0 = time.perf_counter()
    try:
        results, observed = pipe.run(snap_dir, now, tracer)
        seconds = time.perf_counter() - t0
        wl.cached_rdds_after = spark.sparkContext._jsc.getPersistentRDDs().size()
        checked = check_pipeline(spark, results, observed, expected)
    except Exception as exc:  # noqa: BLE001 — a failed operation is counted, not fatal
        return OpResult(time.perf_counter() - t0, items, 0, 0, f"{type(exc).__name__}: {exc}")
    finally:
        # State hygiene: leaked caches (recorded above) must not carry
        # memory pressure into the next operation.
        spark.catalog.clearCache()
    wl.checked = checked
    planted, dropped = dups_dropped(metas, checked["written"])
    return OpResult(seconds, items, planted, dropped)


class Incremental(Workload):
    name = "pipeline-incremental"

    def prepare(self) -> None:
        self.feed = gen.IncrementalFeed(self.seed, self.scale["history"], self.scale["delta"])
        self.records = self.feed.history()
        self._export()

    def _export(self) -> None:
        """Each cycle reads a fresh full export of every table (history plus
        all deltas so far), as a cron job reading the latest table export."""
        self.snap_dir = self.path(f"export-{self.feed.cycle:05d}")
        write_snapshot(self.snap_dir, self.records)
        old = self.path(f"export-{self.feed.cycle - 2:05d}")
        shutil.rmtree(old, ignore_errors=True)

    def _append(self) -> None:
        for t, recs in self.feed.next_delta().items():
            self.records[t].extend(recs)
        self._export()

    def open(self, spark) -> list[OpResult]:
        """A job invocation's cycles run on state the history cycle set."""
        return [self.start(spark)]

    def start(self, spark) -> OpResult:
        """The cold first cycle over the seeded history is the warm-up."""
        self.bind(spark)
        self.pipe = Pipeline(spark, self.path("state"), self.counters)
        return self._cycle(self.feed.metas)

    def op(self) -> OpResult:
        self._append()
        return self._cycle({t: ms[-self.scale["delta"]:] for t, ms in self.feed.metas.items()},
                           items=len(gen.TABLES) * self.scale["delta"])

    def _cycle(self, metas, items=None, tracer=None) -> OpResult:
        expected = self.feed.expected()
        items = items if items is not None else sum(len(m) for m in metas.values())
        return run_checked(self, self.pipe, self.snap_dir, self.feed.now(), expected,
                           metas, items, tracer)

    def next_input(self):
        self._append()
        return self.snap_dir, self.feed.now(), {
            t: self.pipe.watermarks.last(t) for t in gen.TABLES}

    def traced_op(self, tracer: harness.Tracer) -> OpResult:
        """The cycle whose delta ``next_input`` appended, with spans around
        the state stores."""
        ledger_cls, wm_cls = state_classes(tracer)
        self.pipe.orch.ledger = ledger_cls(self.pipe.ledger_path)
        self.pipe.orch.watermarks = wm_cls(self.pipe.watermarks.path)
        metas = {t: ms[-self.scale["delta"]:] for t, ms in self.feed.metas.items()}
        return self._cycle(metas, len(gen.TABLES) * self.scale["delta"], tracer)


# ---------------------------------------------------------------------------
# Traced pipeline operation
# ---------------------------------------------------------------------------


class Prober:
    """Forces DataFrames one at a time under their own job group and span,
    recording build time, Catalyst phases, run time and an observed count."""

    def __init__(self, spark, tracer: harness.Tracer):
        self.spark, self.tracer = spark, tracer
        self.plans = defaultdict(float)
        self.n = 0

    def force(self, name: str, build, *extra, collect: bool = False):
        """Build ``build()``, then force it (noop sink, or ``collect``).
        Returns ``(df, seconds, observed)``; ``observed`` holds ``n`` and
        the aliased ``extra`` aggregates (``rows`` when collected)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        self.n += 1
        t0 = time.perf_counter()
        df = build()
        self.plans["build_s"] += time.perf_counter() - t0
        obs = Observation(f"probe{self.n}")
        forced = df if collect else df.observe(obs, F.count(F.lit(1)).alias("n"), *extra)
        for phase, secs in harness.plan_phases(forced).items():
            self.plans[f"{phase}_s"] += secs
        with _phase(self.spark.sparkContext, self.tracer, f"probe.{name}.{self.n}") as sp:
            if collect:
                rows = forced.collect()
            else:
                noop(forced)
        seconds = sp["end"] - sp["start"]
        self.plans["exec_s"] += seconds
        sp["group"] = f"probe.{name}.{self.n}"
        return df, seconds, ({"rows": rows, "n": len(rows)} if collect else obs.get)


def needs_repair():
    """Raw LLM replies whose content is not strict JSON (fenced, loose)."""
    from pyspark.sql import functions as F

    content = F.col("response.body.choices").getItem(0)["message"]["content"]
    strict = F.from_json(content, "map<string,string>").isNotNull() | (
        content.startswith("[") & F.from_json(content, "array<map<string,string>>").isNotNull())
    return F.sum(F.when(strict, 0).otherwise(1)).alias("repair")


def probe_pipeline(spark, tracer, prober: Prober, store: harness.StatusStore, snap_dir,
                   now, wms, counters, scratch) -> dict:
    """Stage-by-stage cost of the pipeline, forcing each prefix of
    ``run_batch``'s chain in order with the program's public functions.
    A stage's self time is its prefix's time minus the previous prefix's."""
    from pyspark.sql import functions as F

    from batch_public_spark.functions.text import dedup_key, extract_text
    from batch_public_spark.functions.timestamps import discover_event_ts
    from batch_public_spark.operators.dedup import first_wins, incremental_filter
    from batch_public_spark.pipeline import (build_requests, parse_batch_output, respond,
                                             write_jsonl)

    cutoff = now - int(gen.LOOKBACK_H * 3600)
    m = defaultdict(float)
    skew = 1.0
    for t, src in sources(spark, snap_dir).items():
        _, s_scan, o = prober.force("scan", lambda: src)
        m["rows_scanned"] += o["n"]
        m["scan_s"] += s_scan

        def window():
            w = src.withColumn("_event_ts", discover_event_ts(src))
            w = w.filter(F.col("_event_ts").isNotNull() & (F.col("_event_ts") >= F.lit(cutoff)))
            return incremental_filter(w, "_event_ts", wms[t])

        d_win, _, o = prober.force("window", window)
        m["useful_rows"] += o["n"]
        d_txt, s_txt, o = prober.force(
            "extract",
            lambda: d_win.withColumn("_text", extract_text(src)).filter(
                F.col("_text").isNotNull()))
        m["extract_s"] += s_txt - s_scan
        m["dedup_in"] += o["n"]
        d_dd, s_dd, o = prober.force("dedup", lambda: first_wins(d_txt, dedup_key(d_txt), "id"))
        m["first_wins_s"] += s_dd - s_txt
        m["dedup_out"] += o["n"]
        group = f"probe.dedup.{prober.n}"
        m["dedup_shuffle_write"] += store.stage_totals(group)["shuffle_write_bytes"]
        skew = max(skew, store.reduce_skew(group))
        if o["n"] == 0:
            continue
        work = d_dd.cache()  # as run_batch does before its actions
        work.count()
        req = build_requests(work, text_col="_text", id_col="id")
        path = os.path.join(scratch, f"jsonl-{t}")
        with tracer.span("probe.write_jsonl", table=t) as sp:
            write_jsonl(req, path)
        m["write_jsonl_s"] += sp["end"] - sp["start"]
        m["bytes_written"] += snapshot_bytes(path)
        _, s_req, _ = prober.force("requests", lambda: req)
        raw, s_llm, o = prober.force("respond", lambda: respond(req, counters.factory()),
                                     needs_repair())
        m["respond_s"] += s_llm - s_req
        m["repair"] += o["repair"]
        m["raw_replies"] += o["n"]
        _, s_parse, _ = prober.force("parse", lambda: parse_batch_output(raw))
        m["parse_s"] += s_parse - s_llm
        work.unpersist()
    m["skew"] = skew
    return m


def trace_pipeline(wl, tracer: harness.Tracer) -> tuple[dict, dict, list]:
    """Per-layer metrics of one traced pipeline operation, plus notes
    (tracing overhead against the plain operation run just before it)."""
    spark = wl.spark
    store = harness.StatusStore(spark)
    ops = [wl.op()]
    plain = ops[0]
    snap_dir, now, wms = wl.next_input()
    calls0, retries0 = wl.counters.calls.value, wl.counters.retries.value
    traced = wl.traced_op(tracer)
    ops.append(traced)
    if traced.error:
        return {}, {}, ops
    calls = wl.counters.calls.value - calls0
    retries = wl.counters.retries.value - retries0
    # Stage probes after the traced operation (so they cannot warm it up),
    # over the same input and the watermarks it started from.
    prober = Prober(spark, tracer)
    scratch = wl.path("probe")
    p = probe_pipeline(spark, tracer, prober, store, snap_dir, now, wms, wl.counters, scratch)
    shutil.rmtree(scratch, ignore_errors=True)
    run_s = tracer.total("op.run_tables")
    ex = merge(store.stage_totals("op.run_tables"), store.stage_totals("op.parse"))
    L = {
        "sources.scan_s": p["scan_s"],
        "sources.rows_scanned": p["rows_scanned"],
        "sources.input_bytes": snapshot_bytes(snap_dir),
        "sources.useful_ratio": p["useful_rows"] / max(p["rows_scanned"], 1),
        "functions.extract_s": p["extract_s"],
        "operators.dedup.first_wins_s": p["first_wins_s"],
        "operators.dedup.kept_ratio": p["dedup_out"] / max(p["dedup_in"], 1),
        "operators.dedup.shuffle_write_bytes": p["dedup_shuffle_write"],
        "operators.dedup.partition_skew": p["skew"],
        "pipeline.formatter.write_jsonl_s": p["write_jsonl_s"],
        "pipeline.formatter.bytes_written": p["bytes_written"],
        "pipeline.llm.respond_s": p["respond_s"],
        "pipeline.llm.calls": calls,
        "pipeline.llm.retries": retries,
        "pipeline.parser.parse_s": p["parse_s"],
        "pipeline.parser.repair_ratio": p["repair"] / max(p["raw_replies"], 1),
        "pipeline.parser.raw_rows": wl.checked["raw_rows"],
        "pipeline.orchestrator.jobs_per_run": len(store.jobs("op.run_tables")),
        "pipeline.orchestrator.driver_residual_s": run_s - store.busy_s("op.run_tables"),
        "pipeline.orchestrator.cached_rdds_after": wl.cached_rdds_after,
        "pipeline.state.ledger_record_s": tracer.total("pipeline.state.ledger_record"),
        "pipeline.state.ledger_bytes": os.path.getsize(wl.pipe.ledger_path),
        "pipeline.state.watermark_advance_s": tracer.total("pipeline.state.watermark_advance"),
        **{f"plans.{k}": v for k, v in prober.plans.items()},
        **{f"exec.{k}": v for k, v in ex.items()},
    }
    notes = {
        "plain_op_s": plain.seconds,
        "traced_op_s": traced.seconds,
        "trace_overhead_s": traced.seconds - plain.seconds,
        "requests": wl.checked["requests"],
        "llm_calls_per_request": calls / max(wl.checked["requests"], 1),
    }
    return L, notes, ops


def merge(a: dict, b: dict) -> dict:
    return {k: a[k] + b[k] for k in a}


# ---------------------------------------------------------------------------
# Curation
# ---------------------------------------------------------------------------


def write_corpus(d: str, corpus: gen.Corpus) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    ids, texts = zip(*corpus.docs)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   os.path.join(d, "documents.parquet"))
    dim = corpus.vectors.shape[1]

    def vec_table(ids, vecs, labels=None):
        cols = {"vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(vecs.reshape(-1), pa.float32()), dim).cast(pa.list_(pa.float32()))}
        if labels is not None:
            cols["label"] = pa.array(labels, pa.int32())
        return pa.table(cols)

    pq.write_table(vec_table(range(len(corpus.vectors)), corpus.vectors, corpus.labels),
                   os.path.join(d, "embeddings.parquet"))
    pq.write_table(vec_table(range(gen.QUERY_ID0, gen.QUERY_ID0 + len(corpus.queries)),
                             corpus.queries), os.path.join(d, "queries.parquet"))


class Curation(Workload):
    name = "curation"

    def prepare(self) -> None:
        sc = self.scale
        self.corpus = gen.curation_corpus(self.seed, sc["docs"], sc["vectors"], sc["queries"],
                                          k=ANN_K)
        write_corpus(self.path("corpus"), self.corpus)
        n = sc["warm_docs"]
        self.warm_corpus = gen.curation_corpus(self.seed + 1_000_003, n, n, 20, k=ANN_K)
        write_corpus(self.path("corpus-warm"), self.warm_corpus)

    def start(self, spark) -> OpResult:
        self.bind(spark)
        return self._op(self.path("corpus-warm"), self.warm_corpus)

    def op(self) -> OpResult:
        return self._op(self.path("corpus"), self.corpus)

    def _op(self, d: str, corpus: gen.Corpus, prober: Prober | None = None) -> OpResult:
        t0 = time.perf_counter()
        try:
            out = cascade(self.spark, d, prober)
            seconds = time.perf_counter() - t0
            self.quality = check_curation(out, corpus)
            self.probe = out.get("probe")
        except Exception as exc:  # noqa: BLE001 — a failed operation is counted, not fatal
            return OpResult(time.perf_counter() - t0, corpus.n_docs, 0, 0,
                            f"{type(exc).__name__}: {exc}")
        q = self.quality
        return OpResult(seconds, corpus.n_docs, q["planted"], q["caught"])

    def trace(self, tracer: harness.Tracer) -> tuple[dict, dict, list]:
        spark = self.spark
        store = harness.StatusStore(spark)
        ops = [self.op()]
        plain = ops[0]
        with _phase(spark.sparkContext, tracer, "op.curation"):
            traced = self.op()
        ex = store.stage_totals("op.curation")
        prober = Prober(spark, tracer)
        ops += [traced, self._op(self.path("corpus"), self.corpus, prober)]
        if ops[-1].error or traced.error:
            return {}, {}, ops
        p, q = self.probe, self.quality
        d = self.path("corpus")
        L = {
            "sources.scan_s": p["scan_s"],
            "sources.rows_scanned": p["rows_scanned"],
            "sources.input_bytes": sum(os.path.getsize(os.path.join(d, f))
                                       for f in os.listdir(d)),
            "sources.useful_ratio": 1.0,
            "operators.semantic.exact_s": p["exact_s"],
            "operators.semantic.minhash_s": p["minhash_s"],
            "operators.semantic.minhash_candidates": q["candidates"],
            "operators.semantic.minhash_confirmed": q["confirmed"],
            "operators.semantic.minhash_precision": q["confirmed"] / max(q["candidates"], 1),
            "operators.semantic.simhash_s": p["simhash_s"],
            "operators.semantic.simhash_recall": q["simhash_recall"],
            "operators.semantic.ann_topk_s": p["ann_s"],
            "operators.semantic.ann_recall_at_10": q["ann_recall"],
            "operators.semantic.ann_control_plane_rows": p["queries"],
            "operators.semantic.ann_build_jobs": len(store.jobs(p["ann_build_group"])),
            **{f"plans.{k}": v for k, v in prober.plans.items()},
            **{f"exec.{k}": v for k, v in ex.items()},
        }
        notes = {"plain_op_s": plain.seconds, "traced_op_s": traced.seconds,
                 "trace_overhead_s": traced.seconds - plain.seconds,
                 "neardup_recall": q["neardup_recall"]}
        return L, notes, ops


def cascade(spark, d: str, prober: Prober | None = None) -> dict:
    """exact dedup -> minhash near-dup pairs -> simhash near-dup pairs, over
    the exact survivors; and ANN top-k over the embeddings. Every step's
    whole output is forced. With a prober, each step is forced on its own
    and timed against the prefix it reads."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from batch_public_spark.operators.semantic import (ann_lsh_topk, dedup_exact,
                                                       minhash_candidates,
                                                       simhash_neardup_pairs)
    from batch_public_spark.sources.tables import load_table

    docs = load_table(spark, d, "documents")
    vecs = load_table(spark, d, "embeddings")
    queries = load_table(spark, d, "queries")
    out = {}
    if prober is not None:
        p = {}
        _, s_docs, o = prober.force("scan", lambda: docs)
        _, s_vecs, o2 = prober.force("scan", lambda: vecs)
        _, _, o3 = prober.force("scan", lambda: queries)
        p["scan_s"] = s_docs + s_vecs
        p["rows_scanned"] = o["n"] + o2["n"] + o3["n"]
        p["queries"] = o3["n"]
        exact, s_exact, o = prober.force("exact", lambda: dedup_exact(docs, "text", "doc_id"),
                                         F.sum("n_copies").alias("copies"))
        p["exact_s"] = s_exact - s_docs
        out["exact_rows"], out["exact_copies"] = o["n"], o["copies"]
        kept = docs.join(exact.select("doc_id"), "doc_id", "left_semi")
        _, s_mh, o = prober.force("minhash", lambda: minhash_candidates(kept), collect=True)
        p["minhash_s"] = s_mh - s_exact
        out["minhash"] = o["rows"]
        _, s_sh, o = prober.force("simhash", lambda: simhash_neardup_pairs(kept), collect=True)
        p["simhash_s"] = s_sh - s_exact
        out["simhash"] = o["rows"]
        sc = spark.sparkContext
        with _phase(sc, prober.tracer, "probe.ann_build") as sp:
            ann = ann_lsh_topk(vecs, queries, k=ANN_K)
        p["ann_build_group"] = "probe.ann_build"
        _, s_ann, o = prober.force("ann", lambda: ann, collect=True)
        p["ann_s"] = (sp["end"] - sp["start"]) + s_ann - s_vecs
        out["ann"] = o["rows"]
        out["probe"] = p
        return out
    exact = dedup_exact(docs, "text", "doc_id")
    obs = Observation("exact")
    noop(exact.observe(obs, F.count(F.lit(1)).alias("n"), F.sum("n_copies").alias("copies")))
    out["exact_rows"], out["exact_copies"] = obs.get["n"], obs.get["copies"]
    kept = docs.join(exact.select("doc_id"), "doc_id", "left_semi")
    out["minhash"] = minhash_candidates(kept).collect()
    out["simhash"] = simhash_neardup_pairs(kept).collect()
    out["ann"] = ann_lsh_topk(vecs, queries, k=ANN_K).collect()
    return out


def check_curation(out: dict, corpus: gen.Corpus) -> dict:
    """Checks against the planted duplicates and the exact top-k; returns
    the quality figures."""
    n, n_exact = corpus.n_docs, len(corpus.exact_dups)
    check(out["exact_copies"] == n, f"exact: n_copies sum {out['exact_copies']} != {n}")
    check(out["exact_rows"] == n - n_exact,
          f"exact: {out['exact_rows']} groups, expected {n - n_exact}")
    near = {tuple(sorted(p)) for p in corpus.near_pairs}
    confirmed = {tuple(sorted((r.id_a, r.id_b))) for r in out["minhash"]
                 if r.jaccard >= MINHASH_THRESHOLD}
    found = len(near & confirmed)
    neardup_recall = found / max(len(near), 1)
    check(neardup_recall >= NEARDUP_RECALL_FLOOR,
          f"minhash recall {neardup_recall:.3f} < {NEARDUP_RECALL_FLOOR}")
    sim_pairs = {tuple(sorted((r.id_a, r.id_b))) for r in out["simhash"]}
    by_query = defaultdict(list)
    for r in out["ann"]:
        by_query[r.query_id].append(r.neighbor_id)
    check(len(by_query) == len(corpus.queries), f"ann: {len(by_query)} queries answered")
    check(all(len(v) == ANN_K for v in by_query.values()), "ann: a query lacks k neighbours")
    hits = sum(len(set(by_query[gen.QUERY_ID0 + i]) & set(truth))
               for i, truth in enumerate(corpus.truth))
    ann_recall = hits / (ANN_K * len(corpus.queries))
    check(ann_recall >= ANN_RECALL_FLOOR, f"ann recall@{ANN_K} {ann_recall:.3f} too low")
    return dict(planted=n_exact + len(near), caught=(n - out["exact_rows"]) + found,
                candidates=len(out["minhash"]), confirmed=len(confirmed),
                neardup_recall=neardup_recall,
                simhash_recall=len(near & sim_pairs) / max(len(near), 1),
                ann_recall=ann_recall)


WORKLOADS = {w.name: w for w in (Backfill, Incremental, Curation)}
