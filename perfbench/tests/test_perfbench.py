"""Tests of the benchmark's own code: seeded generators, expected funnels,
summary statistics and the metric declarations. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import harness  # noqa: E402


def snapshot_bytes(snap: gen.Snapshot) -> bytes:
    return b"".join(gen.to_jsonl(snap.records[t]) for t in gen.TABLES)


def test_backfill_same_seed_same_bytes_other_seed_differs():
    a = snapshot_bytes(gen.backfill_snapshot(7, 3000))
    assert a == snapshot_bytes(gen.backfill_snapshot(7, 3000))
    assert a != snapshot_bytes(gen.backfill_snapshot(8, 3000))


def test_incremental_feed_is_seeded():
    def run(seed):
        feed = gen.IncrementalFeed(seed, 1500, 300)
        out = [gen.to_jsonl(r) for r in feed.history().values()]
        feed.expected()
        for _ in range(2):
            out += [gen.to_jsonl(r) for r in feed.next_delta().values()]
            feed.expected()
        return b"".join(out)

    assert run(3) == run(3)
    assert run(3) != run(4)


def test_curation_corpus_is_seeded():
    a, b, c = (gen.curation_corpus(s, 500, 300, 10) for s in (5, 5, 6))
    assert a.docs == b.docs and (a.vectors == b.vectors).all() and a.truth == b.truth
    assert a.docs != c.docs


def test_backfill_funnel_matches_planted_counts():
    snap = gen.backfill_snapshot(11, 6000)
    exp = snap.expected(now=gen.NOW, hours=gen.LOOKBACK_H)
    for t, f in exp.items():
        cats = f.planted
        assert sum(cats.values()) == f.rows == len(snap.records[t])
        # Every "ok" row is the first copy of a unique key; every other
        # category is dropped by exactly one stage.
        assert f.n_input == cats["ok"]
        kept = set(f.custom_ids)
        for m in snap.metas[t]:
            assert (f"row_{m.id}" in kept) == (m.category == "ok")
    shares = {c: sum(f.planted.get(c, 0) for f in exp.values()) / 6000 for c in gen.BACKFILL_MIX}
    for c, p in gen.BACKFILL_MIX.items():
        assert abs(shares[c] - p) < 0.03, (c, shares[c])


def test_incremental_funnel_drops_late_and_dups_keeps_resent():
    feed = gen.IncrementalFeed(5, 3000, 600)
    feed.history()
    cold = feed.expected()
    assert all(f.new_watermark is not None for f in cold.values())
    for _ in range(3):
        feed.next_delta()
        wms = dict(feed.watermarks)
        exp = feed.expected()
        for t, f in exp.items():
            kept = set(f.custom_ids)
            delta = feed.metas[t][-600:]
            # Rows of any cycle still above the previous watermark compete
            # for a key: a same-cycle re-send, or an earlier cycle's dropped
            # duplicate whose time topped that cycle's watermark.
            cutoff = feed.now() - gen.LOOKBACK_H * 3600
            first = {}
            for m in feed.metas[t]:
                if m.usable and m.ts is not None and m.ts > wms[t] and m.ts >= cutoff:
                    first[m.key] = min(first.get(m.key, m.id), m.id)
            for m in delta:
                row = f"row_{m.id}"
                if m.category in ("late", "dup", "unusable", "old"):
                    assert row not in kept, m
                    if m.category == "late":
                        assert m.ts <= wms[t]
                if m.category == "new":
                    assert row in kept, m
                if m.category == "resent":
                    assert (row in kept) == (first[m.key] == m.id), m
            resent = [m for m in delta if m.category == "resent"]
            assert sum(f"row_{m.id}" in kept for m in resent) >= 0.8 * len(resent)


def test_reference_model_semantics():
    M = gen.Meta
    metas = [
        M("a1", 100, "t", "url:x", "ok"),
        M("a2", 150, "t", "url:x", "dup"),  # same key, later id: dropped
        M("a3", 10, "t", "url:y", "old"),  # before cutoff
        M("a4", 120, None, "url:z", "unusable"),
        M("a5", None, "t", "url:w", "no_ts"),
        M("a6", 90, "t", "id:a6", "late"),  # at/below watermark
    ]
    f = gen.funnel(metas, now=200, hours=0.05, watermark=90)  # cutoff 20
    assert f.custom_ids == ["row_a1"] and f.new_watermark == 100
    f = gen.funnel(metas, now=200, hours=0.05, watermark=None)
    assert f.custom_ids == ["row_a1", "row_a6"]


def test_request_text_follows_priority_and_blanks():
    snap = gen.backfill_snapshot(13, 3000)
    for t, metas in snap.metas.items():
        for rec, m in zip(snap.records[t], metas):
            assert (m.text is None) == (m.category == "unusable"), (rec, m)
    assert gen.request_text("news", {"summary": "   ", "content": " a b ", "title": "c"}) == "a b"
    assert gen.request_text("trends", {"trend_name": "", "percent_increase": 12.5}) == "12.5"
    assert gen.request_text("market", {"company": " ", "symbol": None}) is None


def test_curation_plants():
    c = gen.curation_corpus(9, 2000, 500, 20, k=10)
    texts = dict(c.docs)
    norm = lambda s: " ".join(s.lower().split())  # noqa: E731
    for dup, src in c.exact_dups.items():
        assert dup > src and norm(texts[dup]) == norm(texts[src])
    for src, dup in c.near_pairs:
        assert src < dup and texts[src] != texts[dup]
        a, b = texts[src].split(), texts[dup].split()
        assert len(a) == len(b) and 1 <= sum(x != y for x, y in zip(a, b)) <= 2
    assert len(c.truth) == 20 and all(len(t) == 10 for t in c.truth)


def test_exact_topk_against_loop():
    import numpy as np

    rng = np.random.default_rng(0)
    v = rng.normal(size=(50, 4)).astype(np.float32)
    q = rng.normal(size=(3, 4)).astype(np.float32)
    got = gen.exact_topk(v, q, 5)
    for qi, row in enumerate(got):
        sims = [(-round(float(np.dot(q[qi], v[i]) / np.linalg.norm(q[qi]) /
                              np.linalg.norm(v[i])), 6), i) for i in range(50)]
        assert row == [i for _, i in sorted(sims)[:5]]


def test_tail():
    assert harness.tail(list(range(19))) is None  # fewer than 10 beyond p50
    values = [float(i) for i in range(1, 101)]
    p, v = harness.tail(values)
    assert p == 90  # 10 samples beyond p90, 5 beyond p95
    assert v == pytest.approx(statistics.quantiles(values, n=100, method="inclusive")[89])
    p, _ = harness.tail([1.0] * 1000)
    assert p == 99


def test_fails_first_rate_is_about_one_percent():
    ids = [f"row_{i}" for i in range(20000)]
    share = sum(harness.fails_first(1, i) for i in ids) / len(ids)
    assert 0.007 < share < 0.013


def test_benchmark_json_matches_metric_map():
    with open(os.path.join(BENCH, "layers.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(spec["workloads"])
    assert [m["name"] for m in bench["end_to_end"]] == list(spec["end_to_end"])
    assert [m["name"] for m in bench["per_layer"]] == list(spec["per_layer"])
    for m in bench["end_to_end"] + bench["per_layer"]:
        src = spec["end_to_end"].get(m["name"]) or spec["per_layer"][m["name"]]
        assert (m["unit"], m["better"]) == (src["unit"], src["better"])
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s")
