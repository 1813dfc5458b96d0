"""HTML text extraction and coordinate mining over the pages table
(url, warc_ts, html, text, lang).

The contract (BASELINE.json input_hint): per-url extracted text must be
byte-identical between the canonical single-process extractor
(``extract_text_py``) and the distributed Arrow-batched twin
(``with_extracted_text``). The extractor is deliberately simple and fully
specified: concatenate the contents of <p>…</p> blocks (joined by "\\n"),
strip any nested tags, decode the five core HTML entities. Determinism is
the spec — no heuristics, no encoding sniffing (UTF-8 only).

Coordinate mining (``mine_coordinates_py`` / ``pages_to_points``): decimal
"lat, lon" mentions with exactly 6 decimals, the geotagged-point source for
the trajectory pipeline — the web-table analog of the reference's POLYLINE
explosion (/root/reference/trajlib/data_processing/data_reader/
porto.py:19-49): url plays traj_id, point k gets timestamp
warc_ts + 15k seconds (the reference's fixed 15-s cadence, porto.py:26-28),
and the strict bbox filter mirrors inrange
(/root/reference/fedtraj/utils/preprocessing_porto.py:24-33).

Each matched mention holds exactly one ", ", so the JVM miner cuts it
with ``substring_index`` (a fixed-string search) rather than ``split``:
Spark's ``split`` takes a Java regex, and a two-character separator misses
``String.split``'s fast path, so every call would compile a ``Pattern``.
Both cuts give the same substrings, hence bit-identical doubles.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import MAX_LAT, MAX_LON, MIN_LAT, MIN_LON
from ..functions.projection import merc_x, merc_y

_P_BLOCK = re.compile(rb"<p(?:\s[^>]*)?>(.*?)</p>", re.DOTALL)
_TAG = re.compile(rb"<[^>]*>")
_ENTITIES = [
    (b"&lt;", b"<"),
    (b"&gt;", b">"),
    (b"&quot;", b'"'),
    (b"&#39;", b"'"),
    (b"&amp;", b"&"),  # must be last: &amp;lt; → &lt; (not <)
]

COORD_RE = re.compile(r"(-?\d{1,3}\.\d{6}), (-?\d{1,3}\.\d{6})")


def extract_text_py(html: bytes) -> str:
    """Canonical extractor — the byte-identity oracle."""
    parts = []
    for block in _P_BLOCK.findall(html):
        block = _TAG.sub(b"", block)
        for ent, rep in _ENTITIES:
            block = block.replace(ent, rep)
        parts.append(block)
    return b"\n".join(parts).decode("utf-8")


def with_extracted_text(pages: DataFrame) -> DataFrame:
    """Arrow-batched twin of extract_text_py (bytes → str per batch):
    ``html`` → ``extracted_text``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["extracted_text"] = [extract_text_py(bytes(b)) for b in pdf["html"]]
            yield pdf

    from pyspark.sql import types as T

    schema = T.StructType(
        list(pages.schema.fields) + [T.StructField("extracted_text", T.StringType())]
    )
    return pages.mapInPandas(run, schema)


def mine_coordinates_py(text: str) -> list[tuple[float, float]]:
    """(lat, lon) mentions in order of appearance."""
    return [(float(a), float(b)) for a, b in COORD_RE.findall(text)]


def pages_to_points(pages: DataFrame) -> DataFrame:
    """(url, pos, ts_ms, lon, lat, x, y): one row per in-bbox coordinate
    mention of a page's ``text``, Mercator-projected.

    The whole stage is Catalyst and stays inside whole-stage codegen:
    ``regexp_extract_all`` + ``posexplode`` mine the mentions (the same
    rows as ``mine_coordinates_py``, equality-tested), then the 15-s
    cadence timestamps, the strict bbox predicate and the projection."""
    pts = (
        pages.select(
            "url",
            F.unix_millis(F.col("warc_ts").cast("timestamp")).alias("base_ms"),
            F.posexplode(
                F.regexp_extract_all(F.col("text"), F.lit(COORD_RE.pattern), F.lit(0))
            ).alias("pos", "mention"),
        )
        .select(
            "url",
            "base_ms",
            "pos",
            F.substring_index("mention", ", ", 1).cast("double").alias("lat"),
            F.substring_index("mention", ", ", -1).cast("double").alias("lon"),
        )
        .select(
            "url",
            "pos",
            (F.col("base_ms") + F.col("pos") * F.lit(15000)).alias("ts_ms"),
            "lon",
            "lat",
        )
        # strict inequalities, exactly like the reference's inrange
        .where(
            (F.col("lon") > F.lit(MIN_LON))
            & (F.col("lon") < F.lit(MAX_LON))
            & (F.col("lat") > F.lit(MIN_LAT))
            & (F.col("lat") < F.lit(MAX_LAT))
        )
    )
    return pts.withColumns({"x": merc_x(F.col("lon")), "y": merc_y(F.col("lat"))})
