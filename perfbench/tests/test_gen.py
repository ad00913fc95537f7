import hashlib
import os

import numpy as np

import gen
from tools.drive_contract import TABLES

#: digests of the engine's test catalog at sf0.001 (seed 42), taken from
#: its parquet files: the generator must reproduce it value for value
REFERENCE_SF0001 = {
    "region": "510df1c993446c9a",
    "nation": "9a4ab0db7402c1a2",
    "customer": "9515ca7e83913f93",
    "supplier": "09615f83c98bfac9",
    "part": "e99c6c7a77bab8e4",
    "orders": "14c199b926cf8a65",
    "lineitem": "35a0825499907f54",
    "events": "be112dc17feae94b",
    "documents": "32e82bdeb24954e4",
    "embeddings": "fa9411dd6a010ff2",
}


def _equal(a, b):
    return set(a) == set(b) and all(a[n].equals(b[n]) for n in a)


def test_tables_are_deterministic_per_seed():
    a = gen.make_tables(0.001, 7)
    b = gen.make_tables(0.001, 7)
    c = gen.make_tables(0.001, 8)
    assert _equal(a, b)
    assert not a["lineitem"].equals(c["lineitem"])


def test_tables_are_non_empty_and_shaped_like_the_catalog():
    t = gen.make_tables(0.001, 42)
    assert set(t) == set(TABLES)
    assert all(t[n].num_rows > 0 for n in TABLES)
    assert t["lineitem"].num_rows == 6000
    assert t["documents"].num_rows == 500
    texts = t["documents"].column("text").to_pylist()
    # near-duplicates exist, so the dedup queries have pairs to find
    assert sum(x.endswith(" dup") for x in texts) == 500 // 20
    assert any("spark" in x.split() for x in texts)
    assert t["documents"].column("n_chars").to_pylist() == [len(x) for x in texts]
    emb = np.array(t["embeddings"].column("embedding").to_pylist())
    assert emb.shape[1] == 64
    assert np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-5)
    ts = t["events"].column("ts").to_pylist()
    assert ts == sorted(ts)


def test_tables_reproduce_the_test_catalog():
    t = gen.make_tables(0.001, 42)
    got = {n: hashlib.sha256(repr(t[n].to_pydict()).encode()).hexdigest()[:16] for n in t}
    assert got == REFERENCE_SF0001


def test_written_tables_fingerprint_is_stable(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 0.001, 3)
    b = gen.write_tables(str(tmp_path / "b"), 0.001, 3)
    assert gen.fingerprint(a) == gen.fingerprint(b)
    c = gen.write_tables(str(tmp_path / "c"), 0.001, 4)
    assert gen.fingerprint(a) != gen.fingerprint(c)


def _corpus(tmp_path, name, seed):
    return gen.write_jobs_corpus(str(tmp_path / name), seed, 0.05, 0.05, n_files=2, vocab=500)


def test_jobs_corpus_is_deterministic_per_seed(tmp_path):
    a = _corpus(tmp_path, "a", 5)
    b = _corpus(tmp_path, "b", 5)
    c = _corpus(tmp_path, "c", 6)
    files = lambda r: r["text_files"] + r["edge_files"]  # noqa: E731
    assert gen.fingerprint(files(a)) == gen.fingerprint(files(b))
    assert a["grep_term"] == b["grep_term"]
    assert gen.fingerprint(files(a)) != gen.fingerprint(files(c))


def test_jobs_corpus_is_non_empty_letters_only_and_the_term_matches(tmp_path):
    r = _corpus(tmp_path, "x", 11)
    assert len(r["text_files"]) == 2 and len(r["edge_files"]) == 2
    lines = []
    for path in r["text_files"]:
        assert os.path.getsize(path) > 0
        with open(path) as fh:
            lines += fh.read().splitlines()
    assert lines and all(line for line in lines)
    words = {w for line in lines for w in line.split(" ")}
    assert all(w.isalpha() and w.islower() and w.isascii() for w in words)
    assert any(r["grep_term"] in line for line in lines)
    for path in r["edge_files"]:
        with open(path) as fh:
            edges = [line.split("\t") for line in fh.read().splitlines()]
        assert edges and all(len(e) == 2 and e[0].isdigit() and e[1].isdigit() for e in edges)
