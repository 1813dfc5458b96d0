"""Seeded input generators for the benchmark.

Every table is a pure function of ``seed`` (and the workload's size
constants), written with pyarrow so the bytes on disk repeat exactly for a
seed. The engine only ever reads these files.

- pages: ``sources.pages.make_page`` rows over an id range offset by the
  seed (seeds 500 apart share the pages), with the 0.002-degree hotspot on (20% of mentions in one cell).
- events: an sf0.1-shaped events table (event_id, ts, user_id, event_type,
  value, props) drawn from the seed, then replicated ``k`` times; replica r
  offsets ``event_id`` (new hash positions, so new coordinates) and
  ``user_id`` (distinct trajectories); the id offsets repeat every 3,000
  seeds, the rest of the table does not. Written as ONE parquet file, like
  the board's testdata.
- documents: base texts drawn from the board corpus' vocabulary, plus
  salted copies: near copies differ by a suffix salt, far copies carry a
  seeded noise prefix that dilutes every cross similarity (the sf10 probe
  rule), so the true near-duplicate groups are known by construction.
- nation: the 25 nation keys the synthetic polygon set is built from.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from trajlib_spark.sources.pages import make_page

# id strides keep the rows of different seeds disjoint. Offsets cycle
# through a bounded number of slots: a page's timestamp grows 15 s per id
# (it must stay inside Spark's year-9999 range), and the engine hashes
# event ids as event_id * 2654435761 in (ANSI) BIGINT arithmetic, so event
# ids must stay below 2**63 / 2654435761 ~ 3.47e9.
PAGE_SEED_STRIDE = 10_000_000
PAGE_SEED_SLOTS = 500
EVENT_SEED_STRIDE = 1_000_000
EVENT_SEED_SLOTS = 3_000
DOC_SALT_STRIDE = 1_000_000

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "zh", "es", "de", "fr")
# the vocabulary of the board's documents table
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_EPOCH = dt.datetime(2024, 1, 1)
_MONTH_US = 30 * 24 * 3600 * 1_000_000


def _write(table: pa.Table, path: str, files: int = 1) -> list[str]:
    """Write ``table`` as ``files`` parquet files (one file at ``path`` when
    files == 1, else part files in the directory ``path``)."""
    if files == 1:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return [path]
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    out = []
    for f in range(files):
        p = os.path.join(path, f"part-{f:05d}.parquet")
        pq.write_table(table.slice(f * step, step), p)
        out.append(p)
    return out


def pages_table(seed: int, n: int) -> pa.Table:
    if n > PAGE_SEED_STRIDE:
        raise ValueError("pages per seed exceed PAGE_SEED_STRIDE")
    first = (seed % PAGE_SEED_SLOTS) * PAGE_SEED_STRIDE
    rows = [make_page(first + i, True) for i in range(n)]
    url, ts_ms, html, text, lang = zip(*rows)
    return pa.table({
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(
            np.asarray(ts_ms, dtype=np.int64) * 1000, pa.timestamp("us", tz="UTC")
        ),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
    })


def _rng(seed: int) -> np.random.Generator:
    return np.random.default_rng(seed & 0xFFFFFFFF)


def events_table(seed: int, base_events: int, base_users: int, k: int) -> pa.Table:
    if base_events * k > EVENT_SEED_STRIDE:
        raise ValueError("events per seed exceed EVENT_SEED_STRIDE")
    rng = _rng(seed)
    user = rng.integers(0, base_users, base_events)
    ts = np.sort(rng.integers(0, _MONTH_US, base_events))
    etype = rng.integers(0, len(EVENT_TYPES), base_events)
    value = np.round(rng.exponential(50.0, base_events), 2)
    props = rng.integers(0, 100, base_events)
    slot = seed % EVENT_SEED_SLOTS
    ev0 = slot * EVENT_SEED_STRIDE
    cols = {"event_id": [], "ts": [], "user_id": [], "event_type": [],
            "value": [], "props": []}
    for r in range(k):
        cols["event_id"].append(ev0 + r * base_events + np.arange(base_events))
        cols["ts"].append(ts)
        cols["user_id"].append(slot * base_users * k + r * base_users + user)
        cols["event_type"].append(etype)
        cols["value"].append(value)
        cols["props"].append(props)
    epoch_us = int((_EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.table({
        "event_id": pa.array(np.concatenate(cols["event_id"]), pa.int64()),
        "ts": pa.array(np.concatenate(cols["ts"]) + epoch_us, pa.timestamp("us")),
        "user_id": pa.array(np.concatenate(cols["user_id"]), pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in np.concatenate(cols["event_type"])], pa.string()
        ),
        "value": pa.array(np.concatenate(cols["value"]), pa.float64()),
        "props": pa.array(
            [f'{{"k": {int(p)}}}' for p in np.concatenate(cols["props"])], pa.string()
        ),
    })


def _noise_prefix(seed: int, doc_id: int, salt: int, tokens: int = 18) -> str:
    return " ".join(
        hashlib.md5(f"{seed}_{doc_id}_{salt}_{t}".encode()).hexdigest()
        for t in range(1, tokens + 1)
    )


def documents_table(seed: int, base_docs: int, near: int, far: int) -> pa.Table:
    """base_docs × (near + far) rows. Salts 0..near-1 are mutual near
    duplicates (suffix-only change); salts near..near+far-1 carry a noise
    prefix and are near duplicates of nothing."""
    rng = _rng(seed)
    base = []
    for _ in range(base_docs):
        words = rng.integers(0, len(VOCAB), int(rng.integers(10, 90)))
        base.append(" ".join(VOCAB[w] for w in words))
    ids, texts = [], []
    for salt in range(near + far):
        for d, text in enumerate(base):
            doc_id = d + salt * DOC_SALT_STRIDE
            if salt >= near:
                text = _noise_prefix(seed, d, salt) + " " + text
            ids.append(doc_id)
            texts.append(f"{text} #{salt}")
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i % len(LANGS)] for i in ids], pa.string()),
        "source": pa.array([f"src{i % 5}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def nation_table() -> pa.Table:
    keys = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": pa.array(keys, pa.int32()),
        "n_name": pa.array([f"NATION{k}" for k in keys], pa.string()),
        "n_regionkey": pa.array(keys % 5, pa.int32()),
    })


def stage(out_dir: str, seed: int, sizes: dict) -> dict[str, list[str]]:
    """Write the tables ``sizes`` asks for under ``out_dir`` (laid out like
    a board scale-factor directory) and return {table: [files]}."""
    written = {"nation": _write(nation_table(), os.path.join(out_dir, "nation.parquet"))}
    if "pages" in sizes:
        written["pages"] = _write(
            pages_table(seed, sizes["pages"]), os.path.join(out_dir, "pages"),
            files=sizes.get("page_files", 8),
        )
    if "events" in sizes:
        e = sizes["events"]
        written["events"] = _write(
            events_table(seed, e["base_events"], e["base_users"], e["k"]),
            os.path.join(out_dir, "events.parquet"),
        )
    if "documents" in sizes:
        d = sizes["documents"]
        written["documents"] = _write(
            documents_table(seed, d["base_docs"], d["near"], d["far"]),
            os.path.join(out_dir, "documents.parquet"),
        )
    return written
