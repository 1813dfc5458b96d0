"""Deduplication operators for the training-data pipeline: exact,
MinHash+LSH, SimHash, n-gram Jaccard verification, and embedding-cosine
near-dup. Designed for the 100 TB shape: every method reduces to
hash → groupBy/join on small keys; no all-pairs stage ever runs on the full
corpus — candidates come from banded buckets, and only candidates get the
exact verification kernel. Documents are (doc_id long, text string)
rows; embeddings (vec_id long, embedding array) rows.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pairs import collect_within_budget, score_pairs


# --- exact dedup -------------------------------------------------------------

def exact_duplicates(docs: DataFrame) -> DataFrame:
    """(text_hash, keeper, n_dups): md5 groups of ``text``; keeper = min
    ``doc_id``."""
    return (
        docs.select(F.md5(F.col("text")).alias("text_hash"), F.col("doc_id"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_dups"))
    )


# --- shingling + MinHash ------------------------------------------------------

SHINGLE_K = 5  # byte-shingle width of every signature and the Jaccard verify
NUM_PERM = 64  # MinHash permutations per signature
MINHASH_SEED = 1
LSH_BANDS = 16  # bands of the MinHash LSH join

def _minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Multiply-shift style mixing family on Z_2^64: x → a·x + b with odd a
    (wrapping uint64) is a bijection, so per-row minima estimate Jaccard
    like the classic (a·x + b) mod p family — but the whole signature
    matrix vectorizes as one numpy broadcast instead of object-dtype
    big-int modmuls."""
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64)
    return a, b


def _shingle_bytes(text: str | None, k: int) -> bytes:
    """Lower-cased UTF-8 bytes, space-padded to at least one k-byte window."""
    return (text or "").lower().encode("utf-8", "ignore").ljust(k)


def _fnv1a_windows(buf: bytes, k: int) -> np.ndarray:
    """Process-stable FNV-1a hash of every k-byte window of ``buf``,
    vectorized across windows in k in-place passes (python hash() of str
    is salted per process — useless across executors)."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    n = len(arr) - k + 1
    h = np.full(n, np.uint64(1469598103934665603), dtype=np.uint64)
    prime = np.uint64(1099511628211)
    for off in range(k):
        np.bitwise_xor(h, arr[off : off + n], out=h)
        h *= prime
    return h


def _stable_shingles(text: str, k: int) -> np.ndarray:
    """Sorted unique hashes of all k-byte shingle windows of ``text``."""
    return np.unique(_fnv1a_windows(_shingle_bytes(text, k), k))


def _minhash_block(texts, a: np.ndarray, b: np.ndarray, k: int) -> np.ndarray:
    """(len(a), len(texts)) uint64 MinHash signatures of a batch of texts:
    row p is each document's min over its shingle hashes h of a[p]·h + b[p]
    (wrapping), bit-identical to the per-document min over
    ``_stable_shingles``.

    All documents' bytes are hashed as one buffer. The k − 1 windows that
    straddle each document boundary are dropped once, by index, which
    leaves every document a contiguous run of its own windows (at least
    one, since ``_shingle_bytes`` pads to k). Each permutation then is one
    in-place pass over a single window-sized buffer and one
    ``np.minimum.reduceat``, so the working set is two window-sized arrays
    whatever the permutation count."""
    bs = [_shingle_bytes(s, k) for s in texts]
    sig = np.empty((len(a), len(bs)), dtype=np.uint64)
    if not bs:
        return sig
    lens = np.fromiter(map(len, bs), dtype=np.int64, count=len(bs))
    ends = np.cumsum(lens)
    h = _fnv1a_windows(b"".join(bs), k)
    straddle = (ends[:-1, None] - k + 1) + np.arange(k - 1)
    h = np.delete(h, straddle.ravel())
    seg = np.zeros(len(bs), dtype=np.int64)
    seg[1:] = np.cumsum(lens - k + 1)[:-1]
    buf = np.empty_like(h)
    for p in range(len(a)):
        np.multiply(h, a[p], out=buf)
        buf += b[p]
        sig[p] = np.minimum.reduceat(buf, seg)
    return sig


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig array<long>) — ``NUM_PERM`` multiply-shift row-wise
    minima, one ``_minhash_block`` per Arrow batch: no per-document Python
    loop and no per-document (NUM_PERM × n_shingles) allocation (that
    allocation dominated the sf0.1 bench at ~2 ms/doc)."""
    a, b = _minhash_params(NUM_PERM, MINHASH_SEED)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sig = _minhash_block(pdf["text"], a, b, SHINGLE_K)
            # stored as signed 64-bit for the Spark LongType column
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": sig.view(np.int64).T.tolist()})

    return docs.select("doc_id", "text").mapInPandas(
        run, "doc_id long, sig array<long>"
    )


def lsh_candidates(signatures: DataFrame) -> DataFrame:
    """Banded LSH: split each signature into ``LSH_BANDS`` bands,
    bucket-join on (band_idx, band hash), emit candidate pairs (i < j)
    once. The join key is a hash — tiny shuffle rows, the scale path."""
    bands = LSH_BANDS
    banded = signatures.select(
        F.col("doc_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.slice(
                    "sig",
                    bidx * (F.size("sig") / bands).cast("int") + 1,
                    (F.size("sig") / bands).cast("int"),
                ),
            )
        ).alias("band_idx", "band"),
    ).select("doc_id", "band_idx", F.hash("band").alias("bucket"))
    # the banded table feeds BOTH sides of the self-join — materialize it
    # once (at 100 TB this is the "write the signature table" step) instead
    # of recomputing the signature UDF per side
    banded = banded.persist()
    a = banded.select(F.col("doc_id").alias("i"), "band_idx", "bucket")
    b = banded.select(F.col("doc_id").alias("j"), "band_idx", "bucket")
    # the (small) pair table is filled by one eager local checkpoint while
    # banded is hot; the ContextCleaner frees its blocks once the result
    # is unreachable, where a persist() stayed in the session cache
    cands = (
        a.join(b, ["band_idx", "bucket"])
        .where(F.col("i") < F.col("j"))
        .select("i", "j")
        .distinct()
        .localCheckpoint(eager=True)
    )
    banded.unpersist()  # release the big banded blocks (ADVICE r2)
    return cands


def _jaccard_scores(ii: np.ndarray, jj: np.ndarray, shingles_of) -> pd.DataFrame:
    """(i, j, jaccard) for non-empty id arrays, ``shingles_of(id)`` giving
    each doc's sorted shingle hashes. Pairs are grouped by i: one vectorized
    searchsorted membership pass per left doc instead of a per-pair
    intersect1d sort (the counts are integer-exact either way)."""
    order = np.argsort(ii, kind="stable")
    ii, jj = ii[order], jj[order]
    starts = np.flatnonzero(np.r_[True, ii[1:] != ii[:-1]])
    bounds = np.r_[starts, len(ii)]
    jac = np.empty(len(ii))
    for s, e in zip(bounds[:-1], bounds[1:]):
        A = shingles_of(ii[s])
        parts = [shingles_of(jj[r]) for r in range(s, e)]
        sizes = np.array([p.size for p in parts], dtype=np.int64)
        B = np.concatenate(parts)
        pos = np.searchsorted(A, B)
        member = (pos < A.size) & (A[np.minimum(pos, A.size - 1)] == B)
        seg = np.zeros(len(sizes), dtype=np.int64)
        seg[1:] = np.cumsum(sizes)[:-1]
        inter = np.add.reduceat(member, seg) if B.size else np.zeros(len(sizes), np.int64)
        union = A.size + sizes - inter
        jac[s:e] = np.where(union > 0, inter / np.maximum(union, 1), 1.0)
    return pd.DataFrame({"i": ii, "j": jj, "jaccard": jac})


def ngram_jaccard_verify(
    docs: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs only → (i, j, jaccard)
    with jaccard >= threshold, ids as long.

    The candidates stay slim (i, j) rows and ``pairs.score_pairs`` brings
    each its two texts: as a broadcast id → text lookup when the texts fit
    the session's broadcast budget, else by a join after the pairs are
    spread. Carrying both documents on every candidate row would move
    ~13 GB across the Arrow boundary at sf1.0 for a 180 MB decision."""
    shingles: dict = {}  # id → sorted shingle hashes; one copy per task

    def kernel(ii: np.ndarray, jj: np.ndarray, payload_of) -> pd.DataFrame:
        for ids, side in ((ii, "i"), (jj, "j")):
            for d, t in zip(ids, payload_of(side, "text")):
                if d not in shingles:
                    shingles[d] = _stable_shingles(t, SHINGLE_K)
        return _jaccard_scores(ii, jj, shingles.__getitem__)

    slim = candidates.select(F.col("i").cast("long"), F.col("j").cast("long"))
    payload = docs.select("doc_id", "text")
    out = score_pairs(payload, payload, "doc_id", kernel, "jaccard double")(slim)
    return out.where(F.col("jaccard") >= threshold)


# --- SimHash ------------------------------------------------------------------

def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash of the shingle set → (doc_id, simhash). Near-dups have
    small Hamming distance; bucket by rotations/bands for candidate joins."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for s in pdf["text"]:
                sh = _stable_shingles(s or "", SHINGLE_K)
                if len(sh) == 0:
                    out.append(0)
                    continue
                bits = ((sh[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                        & np.uint64(1)).astype(np.int64)
                acc = (2 * bits - 1).sum(axis=0)
                val = 0
                for bit in range(64):
                    if acc[bit] > 0:
                        val |= 1 << bit
                # store as signed 64-bit
                out.append(val - (1 << 64) if val >= (1 << 63) else val)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    return docs.select("doc_id", "text").mapInPandas(run, "doc_id long, simhash long")


def simhash_candidates(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs with Hamming distance <= max_hamming, via banded
    bucket joins on n_bands = max_hamming + 1 equal slices of the 64-bit
    signature. By the pigeonhole principle any pair within distance
    n_bands - 1 shares at least one untouched band: recall is
    guaranteed."""
    n_bands = min(64, max_hamming + 1)
    width = 64 // n_bands
    mask = (1 << width) - 1
    # feeds both sides of the banded self-join; a lazy local checkpoint,
    # filled by the first job that reads it, not a persist() left cached
    sigs = sigs.localCheckpoint(eager=False)
    banded = sigs.select(
        F.col("doc_id"), F.col("simhash"),
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("simhash"), width * b).bitwiseAND(F.lit(mask))
                for b in range(n_bands)
            ])
        ).alias("band_idx", "band_val"),
    )
    # The signature rides THROUGH the band join (8 bytes/row), so the
    # hamming filter runs on the join's probe output and only surviving
    # pairs reach the distinct (at sf1.0, ~196M bucket pairs for ~15k
    # survivors). A hot band value (thousands of near-identical docs in
    # one 12-bit bucket) is a single join key AQE cannot split, so the
    # left side is salted on a deterministic hash of the id and the right
    # side explodes the salt range: each bucket's quadratic probe work
    # spreads over SALT partitions, each pair still meets once per band.
    salt_n = 16
    a = banded.select(
        F.col("doc_id").alias("i"), F.col("simhash").alias("h_i"),
        "band_idx", "band_val",
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt_n)).cast("int").alias("_salt"),
    )
    b = banded.select(
        F.col("doc_id").alias("j"), F.col("simhash").alias("h_j"),
        "band_idx", "band_val",
    ).withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1))))
    return (
        a.join(b, ["band_idx", "band_val", "_salt"])
        .where(F.col("i") < F.col("j"))
        .withColumn("hamming", F.bit_count(F.col("h_i").bitwiseXOR(F.col("h_j"))))
        .where(F.col("hamming") <= max_hamming)
        .select("i", "j", "hamming")
        .distinct()
    )


# --- embedding-cosine near-dup --------------------------------------------------

N_PLANES = 12  # hyperplanes per sign-sketch table (a 12-bit bucket key)
N_TABLES = 4  # independent sign-sketch tables
SKETCH_SEED = 7
NEAR_DUP_COSINE = 0.95  # the cosine a pair needs to be a near-dup

def embedding_near_dups(embs: DataFrame) -> DataFrame:
    """(i, j, cosine) pairs of (vec_id, embedding) rows with cosine >=
    ``NEAR_DUP_COSINE``. Candidates from ``N_TABLES`` INDEPENDENT
    random-hyperplane sign sketches (a pair within angle θ collides in one
    table w.p. (1−θ/π)^N_PLANES; independent tables raise recall to
    1−(1−p)^T — a single sketch misses any pair that differs in ≥1 bit),
    then each distinct candidate pair verified exactly by
    ``pairs.score_pairs`` with the vectors as its payload — bucket
    equi-joins over slim rows only."""
    n_tables, threshold = N_TABLES, NEAR_DUP_COSINE
    first = embs.select("embedding").first()
    if first is None:
        return embs.sparkSession.createDataFrame([], "i long, j long, cosine double")
    dim = len(first[0])
    rng = np.random.default_rng(SKETCH_SEED)
    # sequential per-table draws, stacked (identical values to drawing
    # inside a per-table loop — the oracle generator replicates this)
    planes = np.vstack([rng.normal(size=(N_PLANES, dim)) for _ in range(n_tables)])

    def sketch_batch(batches):
        # Arrow-batched sign sketches over the broadcast plane matrix: an
        # inline-literal Catalyst expression would be n_tables·N_PLANES
        # aggregate-HOFs with dim literals each — seconds of codegen per
        # plan. Pure-numpy reduction (no BLAS threading) keeps the bucket
        # values reproducible outside Spark for the oracle.
        weights = (1 << np.arange(N_PLANES)).astype(np.int64)
        for pdf in batches:
            vecs = pdf["embedding"].to_numpy()
            buckets = []
            for lo in range(0, len(pdf), 1024):
                X = np.stack(vecs[lo : lo + 1024]).astype(np.float64)
                bits = (X[:, None, :] * planes[None, :, :]).sum(axis=2) > 0
                per_table = bits.reshape(len(X), n_tables, N_PLANES)
                buckets.extend((per_table * weights).sum(axis=2).tolist())
            pdf = pdf.copy()
            pdf["_buckets"] = buckets
            yield pdf

    fields = ", ".join(f"{n} {t}" for n, t in embs.select("vec_id", "embedding").dtypes)
    # a lazy local checkpoint, not persist(): the first job that reads it
    # fills its blocks, and the ContextCleaner frees them once the result
    # is unreachable instead of leaving a CacheManager entry per call
    sk = embs.select("vec_id", "embedding").mapInPandas(
        sketch_batch, f"{fields}, _buckets array<long>"
    ).localCheckpoint(eager=False)
    # one slim row per (table, bucket) — candidates are the union of
    # per-table bucket self-joins, deduped before the exact verify so a
    # pair colliding in several tables is scored once
    banded = sk.select("vec_id", F.posexplode("_buckets").alias("table_idx", "bucket"))
    cands = (
        banded.select(F.col("vec_id").cast("long").alias("i"), "table_idx", "bucket")
        .join(banded.select(F.col("vec_id").cast("long").alias("j"), "table_idx", "bucket"),
              ["table_idx", "bucket"])
        .where(F.col("i") < F.col("j"))
        .select("i", "j")
        .distinct()
    )

    # The exact cosine is an Arrow batch kernel replaying the Catalyst
    # aggregate/zip_with fold's IEEE op order: per-dimension multiply-add
    # from a 0.0 seed for the dot and both norms, then dot/(n_i*n_j).
    # numpy ufuncs are unfused, so every rounding step matches and the
    # cosine is bit-identical to the fold, at a fraction of its
    # interpreted per-row cost.
    def kernel(ii: np.ndarray, jj: np.ndarray, payload_of) -> pd.DataFrame:
        Vi = np.array(list(payload_of("i", "embedding")), dtype=np.float64)
        Vj = np.array(list(payload_of("j", "embedding")), dtype=np.float64)
        dot = np.zeros(len(ii))
        ni = np.zeros(len(ii))
        nj = np.zeros(len(ii))
        for d in range(Vi.shape[1]):
            dot += Vi[:, d] * Vj[:, d]
            ni += Vi[:, d] * Vi[:, d]
            nj += Vj[:, d] * Vj[:, d]
        return pd.DataFrame({"i": ii, "j": jj, "cosine": dot / (np.sqrt(ni) * np.sqrt(nj))})

    payload = sk.select("vec_id", "embedding")
    scored = score_pairs(payload, payload, "vec_id", kernel, "cosine double")(cands)
    return scored.where(F.col("cosine") >= threshold)


# --- near-dup components ------------------------------------------------------

def _components_local(
    a: np.ndarray, b: np.ndarray, max_iter: int,
) -> tuple[np.ndarray, np.ndarray, int, bool]:
    """The distributed rounds of ``connected_components`` replayed on the
    collected undirected edge table (a → b, both directions present).
    Labels are positions in the sorted node array — an order-preserving
    relabelling, so every round's minima, the jumps and hence the round
    count equal the distributed run's, and the label-sum certificate is an
    exact int64 sum of positions whatever the ids' magnitude.  Returns
    (nodes, component ids, rounds, converged)."""
    nodes, ai = np.unique(a, return_inverse=True)
    order = np.argsort(ai, kind="stable")
    nbr = np.searchsorted(nodes, b)[order]
    # every node is some edge's a (the table is symmetric), so each
    # position opens exactly one non-empty segment of nbr
    starts = np.flatnonzero(np.diff(ai[order], prepend=-1))
    label = np.arange(len(nodes))
    cur = int(label.sum())
    for rounds in range(1, max_iter + 1):
        cand = label
        if len(nodes):
            cand = np.minimum(label, np.minimum.reduceat(label[nbr], starts))
        label = np.minimum(cand, cand[cand])
        new = int(label.sum())
        if new == cur:
            return nodes, nodes[label], rounds, True
        cur = new
    return nodes, nodes[label], max_iter, False


def _components_distributed(
    und: DataFrame, max_iter: int,
) -> tuple[DataFrame, int, bool]:
    """Min-label rounds over the persisted undirected edge table; returns
    (node, label) frame, rounds, converged."""
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )

    def label_sum(df: DataFrame):
        # decimal: a BIGINT sum of 64-bit ids overflows (an ANSI error)
        return df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    cur = label_sum(labels)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nbr = und.join(
            labels.select(F.col("node").alias("b"), F.col("label")), "b"
        ).select(F.col("a").alias("node"), "label")
        cand = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: label ← min(label, label(label)). label is always
        # a node of the same component (it entered via an edge or a
        # previous jump), so the jump target exists in cand and
        # reachability is preserved while path distances halve.
        # Checkpoint first — the self-join reads cand twice and would
        # otherwise re-run the neighbor-min stage both times.
        pre_jump = cand.localCheckpoint(eager=True)
        hop = pre_jump.select(F.col("node").alias("label"), F.col("label").alias("_l2"))
        new_labels = pre_jump.join(hop, "label", "left").select(
            "node", F.least(F.col("label"), F.coalesce("_l2", "label")).alias("label"),
        ).localCheckpoint(eager=True)
        new = label_sum(new_labels)
        labels.unpersist()  # checkpoint blocks of the superseded round
        pre_jump.unpersist()  # the intermediate pre-jump checkpoint
        labels = new_labels
        if new == cur:
            return labels, rounds, True
        cur = new
    return labels, rounds, False


MAX_ROUNDS = 25  # connected_components' round limit: diameters to ~2²⁵

def connected_components(pairs: DataFrame, stats: dict | None = None) -> DataFrame:
    """(node, component) for every node appearing in the (i, j) ``pairs``: component
    = the smallest node id reachable over the undirected pair edges — the
    stage that turns verified near-dup PAIRS into dedup GROUPS (keep
    component == node, drop the rest).  Ids are integers (else TypeError);
    a pair with a null endpoint is no edge (the verify's inner-join rule:
    an id with no row gives no row).

    Min-label propagation to fixpoint with POINTER JUMPING: each round
    (1) takes the min over each node's neighbors' labels (one shuffle),
    then (2) replaces every label by its label's label (one self-join) —
    the path-compression half of large-star/small-star.  Propagation
    alone needs diameter rounds; with jumping the label horizon doubles
    per round, so rounds ≈ log₂(diameter) and ``MAX_ROUNDS`` = 25 covers
    diameters up to ~2²⁵.  Dense near-dup clusters (diameter 1-3)
    converge in 2-3 rounds.

    Labels only decrease, so the global label sum is a convergence
    certificate — one scalar aggregate per round, no row-level diff join;
    exhausting ``MAX_ROUNDS`` without fixpoint RAISES instead of returning a
    partial labeling.

    Where the rounds run: the undirected edge table is built and
    persisted once, then read with ONE collect bounded by the session's
    broadcast budget (``pairs.collect_within_budget``).  A graph within
    it runs the same rounds in numpy on the driver (``_components_local``) and comes back as a local
    DataFrame of the input's id type; a larger one — or any graph when
    the threshold is -1 — runs them distributed, each round an EAGER
    localCheckpoint (without lineage truncation the plan doubles per
    round) over the same persisted table, so the upstream pipeline runs
    once on either path.  ``stats``, when given, gets
    {"rounds": n, "path": "local" | "distributed"}."""
    # mirror each edge via explode, not union: a union's two branches
    # would each re-run the whole upstream pipeline (e.g. the verify)
    max_iter = MAX_ROUNDS
    und = (
        pairs.where(F.col("i").isNotNull() & F.col("j").isNotNull())
        .select(
            F.explode(F.array(
                F.struct(F.col("i").alias("a"), F.col("j").alias("b")),
                F.struct(F.col("j").alias("a"), F.col("i").alias("b")),
            )).alias("_e")
        )
        .select("_e.a", "_e.b")
        .distinct()
    )
    id_type = und.schema["a"].dataType
    if id_type.typeName() not in ("byte", "short", "integer", "long"):
        # the certificate is an exact decimal sum only over integers
        raise TypeError(
            f"connected_components needs integer ids; 'i'/'j' are "
            f"{id_type.simpleString()}"
        )
    und.persist()
    edges = collect_within_budget(und)
    if edges is not None:
        nodes, comp, rounds, converged = _components_local(
            edges.column("a").to_numpy(), edges.column("b").to_numpy(), max_iter,
        )
        result = und.sparkSession.createDataFrame(pa.table({"node": nodes, "component": comp}))
        path = "local"
    else:
        labels, rounds, converged = _components_distributed(und, max_iter)
        result = labels.select("node", F.col("label").alias("component"))
        path = "distributed"
    und.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
        stats["path"] = path
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return result
