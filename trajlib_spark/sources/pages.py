"""Deterministic synthetic Common-Crawl-style pages table
(url, warc_ts, html binary, text, lang) — pure function of (row id, seed);
no external data. Shape per BASELINE.json input_hint; content rules per
FIXTURES.md §F1:

- ~70% of rows embed 1-8 "lat, lon" mentions (6 decimals) from a
  deterministic arithmetic walk inside the Porto bbox
  (/root/reference/fedtraj/config.py:125-130);
- ~10% embed out-of-bbox decoys; ~20% no mentions;
- warc_ts = 2024-01-01T00:00:00Z + 15·i s (the reference's 15-s cadence);
- optional hot-cell skew: a fraction of mentions collapse into one
  0.002°-wide hotspot so skew handling is exercised at bench scale;
- html wraps text in a fixed template with i-dependent attribute noise;
  the extract operator recovers `text` byte-identically.

Generated distributed via mapInPandas over spark.range — scales to any N
with no driver materialization.
"""

from __future__ import annotations

import datetime as _dt
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..config import LAT_SPAN, LON_SPAN, MIN_LAT, MIN_LON
from .tables import PAGES

LANGS = ("en", "pt", "zh", "de")
_BASE_TS = int(_dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc).timestamp())

_FILLER = (
    "The quick survey of harbour districts continues.",
    "Archival records mention the riverside warehouses.",
    "A tram line crosses the old town near the market.",
    "Measurements were logged during the field campaign.",
)

# hotspot center ~ middle of the bbox, 0.002° wide
_HOT_LON = MIN_LON + LON_SPAN * 0.5
_HOT_LAT = MIN_LAT + LAT_SPAN * 0.5


def _mention(i: int, k: int, skew: bool) -> tuple[float, float]:
    """Deterministic in-bbox (lat, lon) for mention k of page i."""
    h1 = ((i * 1000003 + k * 7919 + 13) * 2654435761) % 999983
    h2 = ((i * 998244353 + k * 104729 + 7) * 2654435761) % 999979
    if skew and (h1 % 5 == 0):  # 20% of mentions in the hotspot
        lon = _HOT_LON + (h2 % 2001 - 1000) * 1e-6
        lat = _HOT_LAT + (h1 % 2001 - 1000) * 1e-6
    else:
        lon = MIN_LON + 0.0001 + (h1 / 999983.0) * (LON_SPAN - 0.0002)
        lat = MIN_LAT + 0.0001 + (h2 / 999979.0) * (LAT_SPAN - 0.0002)
    return lat, lon


def _decoy(i: int, k: int) -> tuple[float, float]:
    h1 = ((i * 7907 + k) * 2654435761) % 359000
    h2 = ((i * 7919 + k) * 2654435761) % 170000
    return (h2 / 1000.0 - 85.0, h1 / 1000.0 - 179.5)


def make_page(i: int, skew: bool = False) -> tuple[str, int, bytes, str, str]:
    """(url, warc_ts_ms, html, text, lang) for row i."""
    lang = LANGS[i % 4]
    url = f"https://site{i % 97}.example/{lang}/page-{i}"
    ts_ms = (_BASE_TS + 15 * i) * 1000
    mode = (i * 2654435761) % 10  # 0-6 mentions, 7 decoys, 8-9 none
    sentences = [_FILLER[i % len(_FILLER)]]
    if mode <= 6:
        n_m = 1 + (i * 31) % 8
        for k in range(n_m):
            la, lo = _mention(i, k, skew)
            sentences.append(f"Waypoint {k} recorded at {la:.6f}, {lo:.6f} nearby.")
    elif mode == 7:
        for k in range(2):
            la, lo = _decoy(i, k)
            sentences.append(f"Waypoint {k} recorded at {la:.6f}, {lo:.6f} nearby.")
    sentences.append(_FILLER[(i + 1) % len(_FILLER)])
    text = " ".join(sentences)
    esc = (
        text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )
    html = (
        f'<html><head><title>t{i}</title></head>'
        f'<body data-row="{i}" class="v{i % 7}"><p>{esc}</p></body></html>'
    ).encode("utf-8")
    return url, ts_ms, html, text, lang


def generate_pages(
    spark: SparkSession, n: int, skew: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed pages table with n rows. ``num_partitions`` splits the
    id range BEFORE generation (``spark.range(0, n, 1, p)`` — a metadata
    split, no shuffle), so a many-file sink never round-trips the
    generated bytes through a repartition exchange: at 200M pages that
    exchange is a ~32 GB shuffle that spills (the sf10 pilot's first run
    died in ShuffleExternalSorter), while the pre-split is free. Row
    content is a pure function of the id either way."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_page(int(i), skew) for i in pdf["id"]]
            out = pd.DataFrame(
                rows, columns=["url", "ts_ms", "html", "text", "lang"]
            )
            # tz-AWARE UTC: a naive datetime would be re-interpreted in the
            # consumer's session timezone at Arrow ingestion, shifting every
            # derived epoch under a non-UTC session
            out["warc_ts"] = pd.to_datetime(out.pop("ts_ms"), unit="ms", utc=True)
            yield out[["url", "warc_ts", "html", "text", "lang"]]

    rng = (
        spark.range(0, n, 1, num_partitions)
        if num_partitions else spark.range(n)
    )
    return rng.mapInPandas(gen, PAGES)
