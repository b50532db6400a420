"""Seeded input generators and the reference model of the pipeline funnel.

Every generated row is planted in a category whose outcome is known (too
old, late below the watermark, URL duplicate, unusable text, no ts, planted
near-duplicate, ...). The generator keeps each row's intended outcome
attributes (event time, usable text, dedup key, order id) beside the record;
the program only ever sees the records. ``funnel`` replays the pipeline's
documented semantics on those attributes to give the expected result:

  look-back (ts >= now - hours) -> watermark (ts > last) -> usable text ->
  first-wins per dedup key, smallest id kept.

Same seed, same bytes: all randomness comes from ``numpy.random.default_rng``
seeded with the workload seed (and the cycle index for incremental deltas).
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass, field

import numpy as np

NOW = 1_750_000_000  # fixed "now" of the first run: 2025-06-15T15:06:40Z
LOOKBACK_H = 48
CYCLE_S = 900  # cron period of the incremental workload (15 min)

VOCAB = [
    f"{a}{b}"
    for a in ("ba", "ce", "di", "fo", "gu", "ha", "ji", "ko", "lu", "me", "no", "pa", "qui",
              "ro", "su", "ta", "ve", "wo", "xi", "ya", "zu", "bra", "cle", "dro", "fle")
    for b in ("n", "r", "s", "t", "l", "m", "x", "ck", "nd", "rt", "st", "mp", "nk", "sh",
              "th", "ve", "ll", "ge", "de", "ce")
]  # 500 distinct words

# Table specs: kvsnapshot schema DDL per table of the DynamoDB-style snapshot.
TABLES = {
    "news": "id STRING, url STRING, link STRING, title STRING, summary STRING, "
    "content STRING, timestamp STRING, created_at BIGINT, PublishedAt STRING",
    "trends": "id STRING, guid STRING, trend_name STRING, trend_breakdown STRING, "
    "percent_increase DOUBLE, search_volume BIGINT, published DOUBLE, timestamp STRING",
    "market": "id STRING, source_url STRING, symbol STRING, company STRING, "
    "lastprice DOUBLE, changepct DOUBLE, est_timestamp STRING, ts BIGINT",
}


@dataclass(frozen=True)
class Meta:
    """What the generator knows about one row: its order id, the event time
    the program should discover (None = no usable ts), the request text it
    should extract (None = unusable), its dedup key and planted category."""

    id: str
    ts: int | None
    text: str | None
    key: str
    category: str

    @property
    def usable(self) -> bool:
        return self.text is not None


@dataclass
class Funnel:
    """Expected outcome of one ``run_batch`` over a table."""

    rows: int
    n_input: int
    custom_ids: list[str]
    texts: dict[str, str]  # custom_id -> request text
    new_watermark: int | None
    planted: dict[str, int] = field(default_factory=dict)

    @property
    def n_requests(self) -> int:
        return self.n_input


def funnel(metas: list[Meta], *, now: int, hours: float, watermark: int | None) -> Funnel:
    """Reference model of one orchestrated run over ``metas``."""
    cutoff = now - int(hours * 3600)
    best: dict[str, Meta] = {}
    for m in metas:
        if m.ts is None or m.ts < cutoff or (watermark is not None and m.ts <= watermark):
            continue
        if not m.usable:
            continue
        cur = best.get(m.key)
        if cur is None or m.id < cur.id:
            best[m.key] = m
    kept = sorted(best.values(), key=lambda m: m.id)
    planted: dict[str, int] = {}
    for m in metas:
        planted[m.category] = planted.get(m.category, 0) + 1
    return Funnel(
        rows=len(metas),
        n_input=len(kept),
        custom_ids=[f"row_{m.id}" for m in kept],
        texts={f"row_{m.id}": m.text for m in kept},
        new_watermark=max((m.ts for m in kept), default=None),
        planted=planted,
    )


# ---------------------------------------------------------------------------
# Record builders
# ---------------------------------------------------------------------------


def _words(rng: np.random.Generator, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi + 1))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _iso(ts: int, sep: str = "T") -> str:
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime(f"%Y-%m-%d{sep}%H:%M:%S")


def _shout(rng: np.random.Generator, url: str) -> str:
    """Same URL after lower(trim(.)): random upper-casing plus padding."""
    up = "".join(c.upper() if rng.random() < 0.5 else c for c in url)
    return " " * int(rng.integers(0, 3)) + up + " " * int(rng.integers(1, 3))


def _ts_fields(rng: np.random.Generator, table: str, ts: int | None) -> dict:
    """Event-time attributes in one of the formats the program must
    normalize; ``ts=None`` plants a row with no convertible time."""
    if ts is None:
        if rng.random() < 0.5:
            return {}
        return {"timestamp" if table != "market" else "est_timestamp": "n/a"}
    if table == "news":
        form = int(rng.integers(0, 9))
        if form == 0:
            return {"timestamp": str(ts)}
        if form == 1:
            return {"timestamp": str(ts * 1000 + int(rng.integers(0, 1000)))}
        if form == 2:
            return {"timestamp": _iso(ts) + "Z"}
        if form == 3:
            return {"timestamp": _iso(ts)}
        if form == 4:
            return {"timestamp": _iso(ts - 5 * 3600, " ") + " EST"}
        if form == 5:
            return {"timestamp": _iso(ts - 4 * 3600) + " EDT"}
        if form == 6:
            return {"created_at": ts}
        if form == 7:
            return {"PublishedAt": _iso(ts) + "Z"}
        return {"timestamp": "garbage", "created_at": ts}  # first convertible wins
    if table == "trends":
        form = int(rng.integers(0, 3))
        if form == 0:
            return {"published": ts + 0.25}
        if form == 1:
            return {"timestamp": str(ts)}
        return {"timestamp": "not-a-date", "published": float(ts)}
    form = int(rng.integers(0, 3))
    if form == 0:
        return {"ts": ts * 1000 + int(rng.integers(0, 1000))}  # epoch ms
    if form == 1:
        return {"ts": ts}
    return {"est_timestamp": _iso(ts - 5 * 3600, " ") + " EST"}


def _text_fields(rng: np.random.Generator, table: str, usable: bool) -> dict:
    """Text attributes: priority fallbacks and numeric-only rows when usable,
    only empty / space-only / missing candidates when not."""
    if not usable:
        blank = ["", "   ", None]
        pick = lambda: blank[int(rng.integers(0, 3))]  # noqa: E731
        if table == "news":
            return {"summary": pick(), "content": pick(), "title": pick()}
        if table == "trends":
            return {"trend_name": pick(), "trend_breakdown": pick()}
        return {"company": pick(), "symbol": pick()}
    form = int(rng.integers(0, 4))
    if table == "news":
        if form == 0:
            return {"summary": _words(rng, 8, 30), "title": _words(rng, 3, 6)}
        if form == 1:
            return {"summary": "  ", "content": _words(rng, 10, 40), "title": _words(rng, 3, 6)}
        if form == 2:
            return {"summary": "", "title": _words(rng, 3, 8)}
        return {"summary": "  " + _words(rng, 5, 20) + "  ", "content": _words(rng, 5, 9)}
    if table == "trends":
        if form == 0:
            return {"trend_name": _words(rng, 1, 4), "search_volume": int(rng.integers(10, 10**6))}
        if form == 1:
            parts = [{"q": _words(rng, 1, 3), "v": int(rng.integers(1, 100))} for _ in range(3)]
            return {"trend_breakdown": json.dumps(parts, separators=(",", ":"))}
        if form == 2:  # numeric-only row
            return {"percent_increase": float(rng.integers(1, 100000)) / 8}
        return {"trend_name": "", "search_volume": int(rng.integers(10, 10**6))}
    if form == 0:
        return {"company": _words(rng, 2, 4), "lastprice": float(rng.integers(100, 99999)) / 4}
    if form == 1:
        return {"company": " ", "symbol": _words(rng, 1, 1).upper()}
    if form == 2:  # numeric-only row
        return {"lastprice": float(rng.integers(100, 99999)) / 4}
    return {"changepct": float(rng.integers(-999, 999)) / 16}


# Text candidates each table carries, in the program's priority order.
_PRIORITY = {
    "news": ("summary", "content", "title"),
    "trends": ("trend_name", "trend_breakdown", "percent_increase", "search_volume"),
    "market": ("company", "symbol", "changepct", "lastprice"),
}


def request_text(table: str, rec: dict) -> str | None:
    """First non-blank candidate, trimmed; numbers as Spark casts them."""
    for k in _PRIORITY[table]:
        v = rec.get(k)
        if isinstance(v, str):
            if v.strip(" "):
                return v.strip(" ")
        elif v is not None:
            return repr(v) if isinstance(v, float) else str(v)
    return None


_URL_COL = {"news": ("url", "link"), "trends": ("guid",), "market": ("source_url",)}


def _canonical(table: str, n: int) -> str:
    if table == "trends":
        return f"tr-{n}"
    return f"https://{table}.example.com/item/{n}"


class TableGen:
    """Row factory for one snapshot table; ids increase in creation order
    so first-wins keeps the earliest-created copy of a key."""

    def __init__(self, table: str, rng: np.random.Generator):
        self.table, self.rng = table, rng
        self.seq = 0
        self.url_pool: list[str] = []  # URLs of rows planted to survive ("ok"/"new")

    def row(self, category: str, ts: int | None, *, usable: bool = True,
            dup_of: str | None = None) -> tuple[dict, Meta]:
        rng, table = self.rng, self.table
        rid = f"{table[0]}{self.seq:08d}"
        self.seq += 1
        rec: dict = {"id": rid}
        if dup_of is not None:
            col = _URL_COL[table][int(rng.integers(0, len(_URL_COL[table])))]
            rec[col] = _shout(rng, dup_of)
            key = "url:" + dup_of
        elif rng.random() < 0.85:
            canon = _canonical(table, self.seq)
            col = _URL_COL[table][int(rng.integers(0, len(_URL_COL[table])))]
            rec[col] = canon
            key = "url:" + canon
            if category in ("ok", "new"):
                self.url_pool.append(canon)
        else:
            key = "id:" + rid
        rec.update(_ts_fields(rng, table, ts))
        rec.update(_text_fields(rng, table, usable))
        return rec, Meta(rid, ts, request_text(table, rec), key, category)

    def pick_url(self, lo: int = 0, hi: int | None = None) -> str | None:
        """A random surviving URL among pool entries ``[lo, hi)``."""
        hi = len(self.url_pool) if hi is None else hi
        if hi <= lo:
            return None
        return self.url_pool[int(self.rng.integers(lo, hi))]


def _snapshot_rows(gen: TableGen, n: int, now: int, hours: float,
                   mix: dict[str, float]) -> tuple[list[dict], list[Meta]]:
    """``n`` rows of a cold snapshot: categories drawn from ``mix``."""
    rng = gen.rng
    window = int(hours * 3600)
    cats = list(mix)
    draws = rng.choice(len(cats), size=n, p=np.array([mix[c] for c in cats]))
    recs, metas = [], []
    for d in draws:
        cat = cats[int(d)]
        fresh = int(rng.integers(now - window + 60, now + 1))
        if cat == "dup" and gen.pick_url() is None:
            cat = "ok"
        if cat == "ok":
            rec, meta = gen.row(cat, fresh)
        elif cat == "dup":
            rec, meta = gen.row(cat, fresh, dup_of=gen.pick_url())
        elif cat == "old":
            rec, meta = gen.row(cat, int(rng.integers(now - 3 * window, now - window - 60)))
        elif cat == "unusable":
            rec, meta = gen.row(cat, fresh, usable=False)
        else:  # "no_ts"
            rec, meta = gen.row(cat, None)
        recs.append(rec)
        metas.append(meta)
    order = rng.permutation(len(recs))  # scan order is not creation order
    return [recs[i] for i in order], [metas[i] for i in order]


BACKFILL_MIX = {"ok": 0.32, "dup": 0.20, "old": 0.40, "unusable": 0.05, "no_ts": 0.03}


@dataclass
class Snapshot:
    records: dict[str, list[dict]]
    metas: dict[str, list[Meta]]

    def expected(self, *, now: int, hours: float) -> dict[str, Funnel]:
        """Expected funnels of a cold-watermark run."""
        return {t: funnel(m, now=now, hours=hours, watermark=None)
                for t, m in self.metas.items()}


def backfill_snapshot(seed: int, items: int) -> Snapshot:
    """Cold-watermark snapshot of ``items`` rows over the three tables."""
    rng = np.random.default_rng([seed, 1])
    recs, metas = {}, {}
    for i, table in enumerate(TABLES):
        n = items // len(TABLES) + (1 if i < items % len(TABLES) else 0)
        recs[table], metas[table] = _snapshot_rows(TableGen(table, rng), n, NOW, LOOKBACK_H,
                                                   BACKFILL_MIX)
    return Snapshot(recs, metas)


DELTA_MIX = {"new": 0.70, "late": 0.10, "resent": 0.10, "dup": 0.05, "unusable": 0.03,
             "old": 0.02}


class IncrementalFeed:
    """Seeded history plus one delta per cron cycle. Cycle ``k`` runs at
    ``NOW + k * CYCLE_S``; its delta is drawn from ``(seed, k)`` alone, and
    the expected funnel replays the model over the full history with the
    watermarks the previous cycles left behind."""

    def __init__(self, seed: int, history: int, delta: int):
        self.seed, self.delta = seed, delta
        rng = np.random.default_rng([seed, 2])
        self.gens = {t: TableGen(t, rng) for t in TABLES}
        self.metas: dict[str, list[Meta]] = {t: [] for t in TABLES}
        self.watermarks: dict[str, int | None] = {t: None for t in TABLES}
        self.cycle = 0
        self._history = history

    def now(self) -> int:
        return NOW + self.cycle * CYCLE_S

    def history(self) -> dict[str, list[dict]]:
        out = {}
        for i, (table, gen) in enumerate(self.gens.items()):
            n = self._history // len(TABLES) + (1 if i < self._history % len(TABLES) else 0)
            out[table], metas = _snapshot_rows(gen, n, NOW, LOOKBACK_H, BACKFILL_MIX)
            self.metas[table].extend(metas)
        return out

    def next_delta(self) -> dict[str, list[dict]]:
        """Advance to the next cycle and return its appended rows."""
        self.cycle += 1
        rng = np.random.default_rng([self.seed, 3, self.cycle])
        now, prev = self.now(), self.now() - CYCLE_S
        cutoff = now - LOOKBACK_H * 3600
        cats = list(DELTA_MIX)
        out = {}
        for table, gen in self.gens.items():
            gen.rng = rng
            wm = self.watermarks[table]
            mark = len(gen.url_pool)  # pool entries from earlier cycles end here
            recs, metas = [], []
            for d in rng.choice(len(cats), size=self.delta,
                                p=np.array([DELTA_MIX[c] for c in cats])):
                cat = cats[int(d)]
                fresh = int(rng.integers(prev + 1, now + 1))
                # "resent": a URL processed in an earlier cycle; its first copy
                # sits below the watermark, so this copy is new work.
                # "dup": a same-cycle copy of a fresh URL, dropped by first-wins.
                src = {"resent": gen.pick_url(0, mark), "dup": gen.pick_url(mark)}.get(cat)
                if cat in ("resent", "dup") and src is None:
                    cat = "new"
                if cat == "late" and (wm is None or wm - 60 <= cutoff + 60):
                    cat = "new"
                if cat == "new":
                    rec, meta = gen.row(cat, fresh)
                elif cat in ("resent", "dup"):
                    rec, meta = gen.row(cat, fresh, dup_of=src)
                elif cat == "late":
                    rec, meta = gen.row(cat, int(rng.integers(cutoff + 60, wm - 60)))
                elif cat == "unusable":
                    rec, meta = gen.row(cat, fresh, usable=False)
                else:  # "old"
                    rec, meta = gen.row(cat, int(rng.integers(cutoff - 86400, cutoff - 60)))
                recs.append(rec)
                metas.append(meta)
            self.metas[table].extend(metas)
            out[table] = recs
        return out

    def expected(self) -> dict[str, Funnel]:
        """Expected funnel of the cycle about to run (full-history scan),
        advancing the model's watermarks as the program would."""
        exp = {t: funnel(m, now=self.now(), hours=LOOKBACK_H, watermark=self.watermarks[t])
               for t, m in self.metas.items()}
        for t, f in exp.items():
            if f.new_watermark is not None:
                self.watermarks[t] = max(self.watermarks[t] or 0, f.new_watermark)
        return exp


def to_jsonl(records: list[dict]) -> bytes:
    return "".join(json.dumps(r, separators=(",", ":"), sort_keys=True) + "\n"
                   for r in records).encode("utf-8")


# ---------------------------------------------------------------------------
# Curation corpus
# ---------------------------------------------------------------------------


@dataclass
class Corpus:
    docs: list[tuple[int, str]]  # (doc_id, text)
    exact_dups: dict[int, int]  # dup doc_id -> source doc_id
    near_pairs: set[tuple[int, int]]  # (source, near-dup), source < near-dup
    vectors: np.ndarray  # (n, dim) float32
    labels: np.ndarray
    queries: np.ndarray  # (q, dim) float32
    truth: list[list[int]]  # exact top-k neighbour ids per query (0-based ids)

    @property
    def n_docs(self) -> int:
        return len(self.docs)


QUERY_ID0 = 1_000_000_000


def curation_corpus(seed: int, docs: int, vectors: int, queries: int, *, k: int = 10,
                    dim: int = 64, clusters: int = 40) -> Corpus:
    """Word-salad documents with planted exact duplicates (case/spacing
    variants, 8%) and near-duplicates (one or two word substitutions in a
    40-80 word document, 8%), plus clustered embeddings and held-out queries
    with their exact cosine top-k."""
    rng = np.random.default_rng([seed, 4])
    out: list[tuple[int, str]] = []
    exact: dict[int, int] = {}
    near: set[tuple[int, int]] = set()
    base_ids: list[int] = []
    for doc_id in range(docs):
        r = rng.random()
        if base_ids and r < 0.08:
            src = base_ids[int(rng.integers(0, len(base_ids)))]
            words = out[src][1].split(" ")
            i = int(rng.integers(0, len(words)))
            words[i] = words[i].upper()
            out.append((doc_id, "  ".join(words) if rng.random() < 0.5 else " ".join(words) + " "))
            exact[doc_id] = src
        elif base_ids and r < 0.16:
            src = base_ids[int(rng.integers(0, len(base_ids)))]
            words = out[src][1].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = "zz" + VOCAB[int(rng.integers(0, 500))]
            out.append((doc_id, " ".join(words)))
            near.add((src, doc_id))
        else:
            out.append((doc_id, _words(rng, 40, 80)))
            base_ids.append(doc_id)
    centers = rng.normal(size=(clusters, dim))
    labels = rng.integers(0, clusters, vectors)
    vecs = (centers[labels] + 0.8 * rng.normal(size=(vectors, dim))).astype(np.float32)
    qlab = rng.integers(0, clusters, queries)
    qv = (centers[qlab] + 0.8 * rng.normal(size=(queries, dim))).astype(np.float32)
    return Corpus(out, exact, near, vecs, labels.astype(np.int32), qv, exact_topk(vecs, qv, k))


def exact_topk(vecs: np.ndarray, queries: np.ndarray, k: int) -> list[list[int]]:
    """Brute-force cosine top-k, ties broken by smaller id."""
    v = vecs.astype(np.float64)
    q = queries.astype(np.float64)
    sims = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ (
        v / np.linalg.norm(v, axis=1, keepdims=True)).T
    sims = np.round(sims, 6)
    ids = np.arange(len(v))
    return [list(ids[np.lexsort((ids, -row))[:k]]) for row in sims]
