"""The staged inputs are a pure function of the seed."""

import hashlib
import os

import inputs

SIZES = {
    "pages": 200, "page_files": 2,
    "events": {"base_events": 300, "base_users": 10, "k": 3},
    "documents": {"base_docs": 20, "near": 3, "far": 2},
}


def _file_hashes(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in sorted(names):
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_same_seed_gives_identical_bytes(tmp_path):
    inputs.stage(str(tmp_path / "a"), 7, SIZES)
    inputs.stage(str(tmp_path / "b"), 7, SIZES)
    a, b = _file_hashes(tmp_path / "a"), _file_hashes(tmp_path / "b")
    assert set(a) == {"nation.parquet", "events.parquet", "documents.parquet",
                      "pages/part-00000.parquet", "pages/part-00001.parquet"}
    assert a == b


def test_other_seed_gives_other_inputs(tmp_path):
    inputs.stage(str(tmp_path / "a"), 7, SIZES)
    inputs.stage(str(tmp_path / "b"), 8, SIZES)
    a, b = _file_hashes(tmp_path / "a"), _file_hashes(tmp_path / "b")
    # the polygon source is fixed; every seeded table differs
    assert a["nation.parquet"] == b["nation.parquet"]
    for name in a:
        if name != "nation.parquet":
            assert a[name] != b[name], name


def test_replicas_are_distinct_trajectories():
    t = inputs.events_table(3, 300, 10, 4)
    assert t.num_rows == 1200
    assert len(set(t.column("event_id").to_pylist())) == 1200
    assert len(set(t.column("user_id").to_pylist())) == 40


def test_salted_documents_layout():
    t = inputs.documents_table(5, 20, near=3, far=2).to_pydict()
    assert len(t["doc_id"]) == 100
    by_id = dict(zip(t["doc_id"], t["text"]))
    base = by_id[4].rsplit(" #", 1)[0]
    # near copies change only the salt suffix; far copies add a noise prefix
    assert by_id[4 + inputs.DOC_SALT_STRIDE] == base + " #1"
    far = by_id[4 + 3 * inputs.DOC_SALT_STRIDE]
    assert far.endswith(base + " #3") and len(far) > len(base) + 500
