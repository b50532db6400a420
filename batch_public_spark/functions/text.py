"""Text extraction, dedup keys, tag sanitization (reference ops F5, D1, P8).

All pure column expressions — they compose into scans and stay inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Ordered text-candidate fields (reference dynamo_fetcher.py:101-144; the
# formatter's copy at jsonl_formatter.py:87-130 drifts on Decimal — we follow
# the fetcher, the documented-correct copy, per SURVEY §2a known-bugs note).
TEXT_FIELDS: tuple[str, ...] = (
    "summary",
    "text",
    "content",
    "review_summary",
    "review_text",
    "description",
    "body",
    "article",
    "title",
    "headline",
    "selftext",
    "query",
    "keyword",
    "term",
    "trend_name",
    "trend_breakdown",
    "company",
    "symbol",
    "percent_increase",
    "search_volume",
    "source_page",
    "started_time_ago",
    "avgvolume30",
    "bollingerlo",
    "bollingerup",
    "changepct",
    "changepctstr",
    "highprice",
    "lastprice",
    "lastpricetime",
    "lastupdated",
    "lastvolume",
    "lowprice",
    "prevclose",
    "rsi14",
    "sma20",
    "week52high",
    "week52low",
)

# Dedup key priority (reference dynamo_fetcher.py:336-349): canonical URL
# first, then primary-key variants.
DEDUP_URL_KEYS: tuple[str, ...] = ("url", "link", "source_url", "guid")
DEDUP_ID_KEYS: tuple[str, ...] = ("id", "pk", "record_id", "article_id")

# Every character ``str.isspace()`` matches (all lie below U+3001) — the set
# ``str.strip()`` removes: tabs, newlines, NBSP, ... Spark's ``trim`` strips
# only U+0020.
WHITESPACE = "".join(c for c in map(chr, range(0x3001)) if c.isspace())

_NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def _lower_map(df: DataFrame) -> dict[str, str]:
    """Case-insensitive column lookup (reference builds ``lower_map`` per
    row at dynamo_fetcher.py:99; columnar = once per schema). Last duplicate
    wins, matching dict-comprehension overwrite semantics."""
    m: dict[str, str] = {}
    for c in df.columns:
        m[c.lower()] = c
    return m


def strip_ws(col: Column) -> Column:
    """``str.strip()`` as a column: drop leading and trailing
    :data:`WHITESPACE`."""
    return F.btrim(col, F.lit(WHITESPACE))


def extract_text(df: DataFrame, fields: tuple[str, ...] = TEXT_FIELDS) -> Column:
    """First non-empty text candidate in priority order (reference F5).

    Per-candidate behavior: strings stripped (:func:`strip_ws`), empty
    after stripping skipped;
    numerics (incl. Decimal) stringified; arrays/maps/structs serialized to
    compact JSON. NULL when nothing usable.
    """
    lower = _lower_map(df)
    parts: list[Column] = []
    for key in fields:
        if key not in lower:
            continue
        name = lower[key]
        dt = df.schema[name].dataType
        col = F.col(name)
        if isinstance(dt, T.StringType):
            parts.append(F.nullif(strip_ws(col), F.lit("")))
        elif isinstance(dt, _NUMERIC_TYPES):
            parts.append(col.cast("string"))
        elif isinstance(dt, T.BooleanType):
            # Python str(True) == "True"; Spark cast gives "true" — align.
            parts.append(F.when(col.isNotNull(), F.initcap(col.cast("string"))))
        elif isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
            # to_json emits compact separators like the reference's
            # json.dumps(..., separators=(",", ":")) (dynamo_fetcher.py:163).
            parts.append(F.nullif(F.to_json(col), F.lit("")))
        # other types (binary, timestamp) are not text candidates
    if not parts:
        return F.lit(None).cast("string")
    return F.coalesce(*parts)


def usable_text(df: DataFrame, fields: tuple[str, ...] = TEXT_FIELDS) -> Column:
    """Non-empty-text predicate (reference F4)."""
    return extract_text(df, fields).isNotNull()


def dedup_key(df: DataFrame) -> Column:
    """Priority dedup key (reference D1): ``url:<lower(strip(url-ish))>``
    else ``id:<str(pk-ish)>`` else NULL.

    The engine lowercases column names at ingest, subsuming the reference's
    exact-name-or-``.capitalize()`` probing (dynamo_fetcher.py:337, 345).
    """
    lower = _lower_map(df)
    url_parts = [
        F.nullif(F.lower(strip_ws(F.col(lower[k]))), F.lit(""))
        for k in DEDUP_URL_KEYS
        if k in lower
    ]
    id_parts = [
        F.when(F.col(lower[k]).isNotNull(), F.col(lower[k]).cast("string"))
        for k in DEDUP_ID_KEYS
        if k in lower
    ]
    url_key = F.concat(F.lit("url:"), F.coalesce(*url_parts)) if url_parts else None
    id_key = F.concat(F.lit("id:"), F.coalesce(*id_parts)) if id_parts else None
    keys = [k for k in (url_key, id_key) if k is not None]
    if not keys:
        return F.lit(None).cast("string")
    return F.coalesce(*keys)


def sanitize_tag(col: Column, max_len: int = 32) -> Column:
    """Filename-tag sanitization (reference P8, jsonl_formatter.py:63):
    non ``[A-Za-z0-9_-]`` → ``-``, THEN truncate to 32."""
    return F.substring(F.regexp_replace(col, r"[^A-Za-z0-9_-]", "-"), 1, max_len)


def canonical_url(col: Column) -> Column:
    """Canonical form of a URL for crawl-dedup keying — the standard
    five-rule chain, applied in order:

    1. strip the fragment (``#…``);
    2. lowercase the scheme and host ONLY (path/query case is
       significant and preserved);
    3. strip an explicit SCHEME-DEFAULT port — ``:80`` for http,
       ``:443`` for https (a non-default port is a different resource
       and survives: ``https://h:80/…`` keeps its port);
    4. strip ``utm_*`` tracking parameters wherever they sit (leading,
       trailing, or alone); when a LEADING tracker carried the ``?``,
       the orphaned ``&`` on the first surviving param is normalized
       back to ``?`` so ``?utm_a=1&ref=2`` merges with its ``?ref=2``
       twin (r10 ADVICE);
    5. strip a single trailing slash (note: a bare root path collapses
       to the host-only form — ``http://h/`` ≡ ``http://h``, the
       chain's canonical host spelling).

    The authority match stops at ``?`` and ``#`` (r10 ADVICE): on a
    no-path URL like ``http://Host?Token=AbC`` only the scheme+host are
    lowercased — query case stays significant exactly as on path'd
    forms.

    Everything is built-in regexp/string expressions (JVM-side, rides the
    scan). The exact chain is replayed in DuckDB's RE2 dialect by the
    ``llmops_url_canonical_dedup`` oracle, so the two regex engines'
    agreement on it is driver-hash-attested; edge behavior (https,
    non-default ports, no-path URLs) is pinned in tests/test_functions.py.
    """
    u0 = F.regexp_replace(col, "#.*$", "")
    lowered = F.concat(
        F.lower(F.regexp_extract(u0, "^([^/?#]*//[^/?#]*)", 1)),
        F.regexp_replace(u0, "^[^/?#]*//[^/?#]*", ""),
    )
    no_port = F.regexp_replace(
        lowered, "^(http://[^/:]+):80(([/?]).*)?$", "$1$2"
    )
    no_port = F.regexp_replace(
        no_port, "^(https://[^/:]+):443(([/?]).*)?$", "$1$2"
    )
    no_utm = F.regexp_replace(no_port, "[?&]utm_[^&]*", "")
    # A stripped LEADING tracker leaves `&first_real_param` with no `?`:
    # restore the `?` on the first separator iff none survived.
    requeried = F.regexp_replace(no_utm, "^([^?&]*)&", "$1?")
    return F.regexp_replace(requeried, "([^/])/$", "$1")
