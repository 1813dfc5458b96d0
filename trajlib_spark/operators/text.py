"""Text-analysis operators for the training-data pipeline over `documents`
(doc_id, text, lang, source, n_chars). All hot-path scoring is pure Catalyst
string arithmetic (no regex, no UDF): occurrence counts via the
length-difference trick, which both Spark and the DuckDB oracle compute
identically.

Operators: token/word counting, punctuation & quality scoring, stopword-
ratio language ID (n-gram heuristic), rolling-hash document fingerprinting.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets (space-padded to approximate word
# boundaries without regex). Heuristic, deterministic, dialect-portable.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": (" the ", " and ", " of ", " to "),
    "pt": (" de ", " que ", " não ", " uma "),
    "de": (" der ", " und ", " die ", " nicht "),
    "fr": (" le ", " et ", " les ", " des "),
}

PUNCT = (".", ",", "!", "?", ";", ":")
VOCAB_TOPK = 100  # tokens vocab_topk keeps
TFIDF_TOPK = 5  # terms per document tfidf_top_terms keeps


def occurrences(text: Column, needle: str) -> Column:
    """Count of non-overlapping needle occurrences via length arithmetic."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def word_count(text: Column) -> Column:
    """Whitespace-separated token count = space count + 1 (documents are
    single-space normalized; deliberately the same arithmetic as the SQL
    oracle rather than a regex split)."""
    return occurrences(text, " ") + F.lit(1)


def _with_needle_counts(
    docs: DataFrame, out_needles: dict[str, tuple[str, ...]],
    pad: bool = False, lower: bool = False,
) -> DataFrame:
    """Adds one long column per ``out_needles`` entry: the summed
    non-overlapping occurrence count of its needles in ``text`` (optionally
    lowercased and space-padded first). str.count scans left-to-right
    non-overlapping — the identical tally the length/replace trick
    produces — so the integer columns match ``occurrences`` exactly while
    one Arrow pass replaces one full string scan per needle (round 9;
    q_text_features paid 26 replace passes over the corpus)."""
    from pyspark.sql import types as T

    names = list(out_needles)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            cols = {n: np.empty(len(pdf), dtype=np.int64) for n in names}
            for r, s in enumerate(pdf["text"]):
                s = s or ""
                if lower:
                    s = s.lower()
                if pad:
                    s = f" {s} "
                for n in names:
                    cols[n][r] = sum(s.count(nd) for nd in out_needles[n])
            out = pdf.copy()
            for n in names:
                out[n] = cols[n]
            yield out

    schema = T.StructType(
        list(docs.schema.fields)
        + [T.StructField(n, T.LongType()) for n in names]
    )
    return docs.mapInPandas(run, schema)


def with_quality(docs: DataFrame) -> DataFrame:
    """Adds n_words, punct_ratio, avg_word_len, upper_start, quality_score
    ∈ [0, 1] (length/punct/structure heuristic)."""
    t = F.col("text")
    n_chars = F.length(t)
    counted = _with_needle_counts(docs, {"_spaces": (" ",), "_punct": PUNCT})
    n_words = F.col("_spaces") + F.lit(1)
    punct = F.col("_punct")
    punct_ratio = punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    awl = (n_chars - (n_words - 1)).cast("double") / n_words.cast("double")
    score = (
        F.least(n_words.cast("double") / F.lit(64.0), F.lit(1.0)) * F.lit(0.4)
        + F.when((awl >= 3.0) & (awl <= 10.0), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when((punct_ratio > 0.0) & (punct_ratio < 0.1), F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return counted.withColumns(
        {
            "n_words": n_words,
            "punct_ratio": punct_ratio,
            "avg_word_len": awl,
            "quality_score": score,
        }
    ).drop("_spaces", "_punct")


def with_lang_id(docs: DataFrame) -> DataFrame:
    """Adds lang_pred = argmax language by stopword-marker hits (ties by
    language code ascending), and the per-language hit counts."""
    df = _with_needle_counts(
        docs,
        {f"hits_{lang}": markers for lang, markers in LANG_MARKERS.items()},
        pad=True, lower=True,
    )
    # argmax via array_max over (hits, -rank) structs: linear expression
    # size (a chained CASE would duplicate every operand exponentially and
    # blow past the codegen method limit); ties pick the alphabetically
    # first language because -rank orders descending.
    langs = sorted(LANG_MARKERS)
    best = F.array_max(
        F.array(*[
            F.struct(
                F.col(f"hits_{lang}").alias("h"), F.lit(-i).alias("nr")
            )
            for i, lang in enumerate(langs)
        ])
    )
    pred = F.element_at(
        F.array(*[F.lit(lang) for lang in langs]), (-best["nr"] + 1).cast("int")
    )
    return df.withColumn(
        "lang_pred", F.when(best["h"] > 0, pred).otherwise(F.lit("und"))
    )


FP_BASE = 257
FP_MOD = (1 << 61) - 1


def _horner(h: int, data) -> int:
    """Continue the rolling hash from state ``h`` over the bytes of ``data``."""
    for b in data:
        h = (h * FP_BASE + b) % FP_MOD
    return h


def fingerprint_py(text: str) -> int:
    """Polynomial rolling hash of the whole text (base 257 mod 2^61-1)."""
    return _horner(0, text.encode("utf-8"))


# below this many unfinished documents a numpy step per byte position costs
# more than finishing each document with the scalar loop
FP_SCALAR_ROWS = 32


def fingerprint_block(texts: list[str]) -> np.ndarray:
    """Vectorized ``fingerprint_py`` over a batch: the Horner chain is
    sequential per document, so the DOC axis vectorizes — one numpy step
    per byte position. Exactness: 257 = 2⁸ + 1 and M = 2⁶¹ − 1 is
    Mersenne, so with h = q·2⁵³ + r (q < 2⁸): h·2⁸ = q·2⁶¹ + r·2⁸ ≡
    q + r·2⁸ (mod M), and t = q + (r << 8) + h + b < 2⁶³ fits uint64;
    folding t's bit 61+ once (2⁶¹ ≡ 1) and subtracting M at most once
    lands exactly on t mod M — every per-byte state equals the scalar
    loop's ``(h·257 + b) % M`` by induction, so the hashes are
    integer-identical.

    Documents are sorted longest first into one flat byte buffer, so the
    documents still running at a position are a prefix of that order and
    each step gathers only their bytes: memory and work are O(total
    bytes), so one 10 MB document costs its own bytes, not rows × 10 MB.
    Once fewer than ``FP_SCALAR_ROWS`` documents are left, each finishes
    in the scalar loop."""
    bs = [(s or "").encode("utf-8") for s in texts]
    lens = np.fromiter(map(len, bs), dtype=np.int64, count=len(bs))
    order = np.argsort(-lens, kind="stable")
    lens = lens[order]
    flat = np.frombuffer(b"".join(bs[i] for i in order), dtype=np.uint8)
    starts = np.cumsum(lens) - lens
    M = np.uint64(FP_MOD)
    mask53 = np.uint64((1 << 53) - 1)
    h = np.zeros(len(bs), dtype=np.uint64)
    live = len(bs)  # documents with bytes left at ``pos``
    pos = 0
    while True:
        while live and lens[live - 1] <= pos:
            live -= 1
        if live < FP_SCALAR_ROWS:
            break
        hl = h[:live]
        t = (hl >> np.uint64(53)) + ((hl & mask53) << np.uint64(8)) + hl
        t += flat[starts[:live] + pos]
        t = (t >> np.uint64(61)) + (t & M)
        np.subtract(t, M, out=t, where=t >= M)
        h[:live] = t
        pos += 1
    view = memoryview(flat)
    for r in range(live):
        h[r] = _horner(int(h[r]), view[starts[r] + pos : starts[r] + lens[r]])
    out = np.empty_like(h)
    out[order] = h
    return out


def with_fingerprint(docs: DataFrame) -> DataFrame:
    """Adds fingerprint (rolling hash) via an Arrow-batched UDF — a
    deterministic 61-bit content id usable as a join/dedup key."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["fingerprint"] = fingerprint_block(list(pdf["text"])).astype(
                np.int64
            )
            yield pdf

    from pyspark.sql import types as T

    schema = T.StructType(
        list(docs.schema.fields) + [T.StructField("fingerprint", T.LongType())]
    )
    return docs.mapInPandas(run, schema)


def vocab_topk(docs: DataFrame) -> DataFrame:
    """Vocabulary heavy hitters: (token, n_occurrences) for the VOCAB_TOPK most
    frequent lowercased whitespace tokens, tie-broken by token ascending.

    Scale shape: explode(split) → hash aggregate (map-side partial
    combine — each task pre-reduces its tokens before the single shuffle
    on token) → orderBy+limit, which Catalyst plans as
    TakeOrderedAndProject: every partition keeps its local top-k heap and
    the driver merges k·P rows — never a global sort, never a one-task
    window."""
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    ).where(F.length("token") > 0)
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))
    return counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(VOCAB_TOPK)


def tfidf_top_terms(docs: DataFrame) -> DataFrame:
    """Top-TFIDF_TOPK TF-IDF terms per document: tf = in-doc token count, idf =
    ln((N+1)/(df+1)) + 1 (smoothed, sklearn-style), ranked per doc by the
    6-dp-rounded score then token (the rounding makes the rank key
    discrete, so a 1-ulp ln() divergence between engines cannot flip an
    order the oracle sees).

    Scale shape: one explode → two hash aggregates (per-(doc, token) tf,
    per-token df — both map-side combined) → broadcast-sized df join →
    per-doc window (partitioned by doc id, parallel at any N). N is one
    metadata scalar."""
    from pyspark.sql import Window

    tf = _per_doc_token_counts(docs)
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    scored = tf.join(dfreq, "token").withColumn(
        "tfidf_r",
        F.round(F.col("tf") * idf, 6) + F.lit(0.0),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_r"), F.asc("token"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= TFIDF_TOPK)
        .select("doc_id", "token", "tf", "df", "tfidf_r",
                F.col("term_rank").cast("long").alias("term_rank"))
    )


def _per_doc_trigram_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, tri, _k): count of every distinct character trigram of
    lower(text) per document — integer-exact equivalent of the Catalyst
    ``explode(sequence) + substr + groupBy count`` chain, vectorized per
    Arrow batch: code points (utf-32) pack three-at-a-time into one uint64
    key (21 bits each covers all of Unicode), one lexsort + run-length
    pass counts every (doc, trigram), and only the batch's few distinct
    keys are decoded back to strings. Python's str.lower() matches
    Spark's lower() on this corpus (ASCII; the one documented divergence
    class is Greek final sigma, which Python lowercases context-
    sensitively)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            texts = pdf["text"].to_numpy()
            doc_parts: list[np.ndarray] = []
            key_parts: list[np.ndarray] = []
            for r, s in enumerate(texts):
                s = (s or "").lower()
                n = len(s) - 2
                if n <= 0:
                    continue
                cp = np.frombuffer(
                    s.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.uint64)
                key_parts.append(
                    (cp[:n] << np.uint64(42))
                    | (cp[1 : n + 1] << np.uint64(21))
                    | cp[2 : n + 2]
                )
                doc_parts.append(np.full(n, r, dtype=np.int64))
            if not key_parts:
                yield pd.DataFrame(
                    {"doc_id": ids[:0], "tri": np.array([], dtype=object),
                     "_k": np.array([], dtype=np.int64)}
                )
                continue
            keys = np.concatenate(key_parts)
            drows = np.concatenate(doc_parts)
            order = np.lexsort((keys, drows))
            keys, drows = keys[order], drows[order]
            bnd = np.flatnonzero(
                np.r_[True, (keys[1:] != keys[:-1]) | (drows[1:] != drows[:-1])]
            )
            counts = np.diff(np.r_[bnd, len(keys)])
            out_keys = keys[bnd]
            uk = np.unique(out_keys)
            m21 = np.uint64((1 << 21) - 1)
            tri_strs = np.array(
                [
                    chr(int(k >> np.uint64(42)))
                    + chr(int((k >> np.uint64(21)) & m21))
                    + chr(int(k & m21))
                    for k in uk
                ],
                dtype=object,
            )
            yield pd.DataFrame(
                {
                    "doc_id": ids[drows[bnd]],
                    "tri": tri_strs[np.searchsorted(uk, out_keys)],
                    "_k": counts,
                }
            )

    # spread the counting pass (and everything downstream of the count
    # table, which inherits this partitioning) — a single-file corpus
    # otherwise pins it to the scan's 1-4 partitions
    return (
        docs.select("doc_id", "text")
        .repartition(docs.sparkSession.sparkContext.defaultParallelism, "doc_id")
        .mapInPandas(run, "doc_id long, tri string, _k long")
    )


def _per_doc_token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, token, tf): per-document counts of the non-empty
    single-space-split lowercased tokens — integer-exact equivalent of
    ``explode(split(lower(text), " ")) → groupBy count`` (Python's
    str.split(" ") keeps the same empty fragments the regex split does;
    both sides then drop them), without materializing one row per token
    occurrence through a corpus-wide hash aggregate (round 9)."""
    from collections import Counter

    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            texts = pdf["text"].to_numpy()
            out_ids: list[np.ndarray] = []
            toks: list[str] = []
            tfs: list[int] = []
            for r, s in enumerate(texts):
                c = Counter((s or "").lower().split(" "))
                c.pop("", None)
                if not c:
                    continue
                out_ids.append(np.full(len(c), ids[r], dtype=np.int64))
                toks.extend(c.keys())
                tfs.extend(c.values())
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(out_ids) if out_ids
                    else np.array([], dtype=np.int64),
                    "token": np.array(toks, dtype=object),
                    "tf": np.array(tfs, dtype=np.int64),
                }
            )

    # spread the counting pass (see _per_doc_trigram_counts)
    return (
        docs.select("doc_id", "text")
        .repartition(docs.sparkSession.sparkContext.defaultParallelism, "doc_id")
        .mapInPandas(run, "doc_id long, token string, tf long")
    )


def trigram_lm_score(docs: DataFrame) -> DataFrame:
    """Statistical quality scoring: mean character-trigram log-probability
    under a model trained on the corpus itself — the relational core of
    perplexity-style quality filters (KenLM-class scoring without the
    external model: P(tri) = corpus count / corpus total). Output:
    (doc_id, n_trigrams, lm_score_r), the score rounded to 6 dp so a 1-ulp
    ln() divergence between engines cannot change what an oracle sees.

    The per-(doc, trigram) count table comes from one vectorized Arrow
    pass (``_per_doc_trigram_counts``) and is an eager local checkpoint,
    so the corpus is read once and nothing stays in the session's cache.
    The model is a re-aggregate of that table (vocabulary-bounded,
    broadcast), and the scoring join reads the counts, so a trigram
    repeated in a document joins the model once; the score is the
    k-weighted mean. Everything float (the ln() scoring join and both
    final aggregates) is Catalyst."""
    per_doc = _per_doc_trigram_counts(docs).localCheckpoint(
        eager=True)
    model = per_doc.groupBy("tri").agg(F.sum("_k").alias("cnt"))
    total = per_doc.agg(F.sum("_k")).collect()[0][0]
    scored = per_doc.join(F.broadcast(model), "tri").select(
        "doc_id",
        "_k",
        (F.col("_k") * F.log(F.col("cnt") / F.lit(float(total)))).alias("_lp"),
    )
    return scored.groupBy("doc_id").agg(
        F.sum("_k").alias("n_trigrams"),
        (F.round(F.sum("_lp") / F.sum("_k"), 6) + F.lit(0.0)).alias("lm_score_r"),
    )
