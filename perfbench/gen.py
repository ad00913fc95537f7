"""Seeded input generators for the benchmark.

Two generators, each deterministic in its arguments:

* :func:`write_tables` writes the engine's standard catalog (TPC-H-style
  star schema, ``events``, ``documents``, ``embeddings``) as one parquet
  file per table, at a scale factor ``sf`` (row counts are linear in
  ``sf``; ``documents`` and ``embeddings`` floor at 500 rows). With seed
  42 it reproduces the engine's test catalog value for value and type for
  type at sf0.001, sf0.01 and sf0.1 (``DESIGN.md`` records the check), so
  the benchmark measures the data the engine is developed and graded on,
  including its planted near-duplicate documents (an earlier or later
  document plus the word ``dup``) and its random unit-norm 64-d
  embeddings. The order of the random draws is therefore fixed: do not
  reorder them.
* :func:`write_jobs_corpus` writes the reference-app inputs: text files of
  letters-only words (``wc`` splits on every non-letter, so a digit in a
  word would change the token set) with Zipf word frequencies, and
  tab-separated edge-list files. It returns the grep term, drawn from a
  generated line so that it is known to match.

:func:`fingerprint` hashes the bytes of the written files; results carry it
so that numbers measured on different inputs are never compared.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_DOC_WORDS = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()

_DAY_US = 86_400_000_000
#: 1995-01-01 and 2024-01-01 as epoch microseconds
_EPOCH_1995_US = 788_918_400 * 1_000_000
_EPOCH_2024_US = 1_704_067_200 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> pa.Array:
    days = rng.integers(first_day, first_day + n_days, n)
    return pa.array(_EPOCH_1995_US + days * _DAY_US, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(_DOC_WORDS)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
        for _ in range(n)
    ]
    dup_ids = rng.choice(n, n // 20, replace=False)
    for i, j in zip(dup_ids, rng.integers(0, n, n // 20)):
        texts[i] = texts[j] + " dup"
    ids = np.arange(n)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The standard catalog at scale factor ``sf``, as arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 1)
    n_supp = max(int(10_000 * sf), 1)
    n_part = max(int(200_000 * sf), 1)
    n_ord = max(int(1_500_000 * sf), 1)
    n_line = max(int(6_000_000 * sf), 1)
    n_evt = max(int(1_000_000 * sf), 1)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pkeys = np.arange(n_part)
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
    out["part"] = pa.table(
        {
            "p_partkey": pkeys,
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pkeys % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, 0, 2405, n_ord),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, 1, 2499, n_line),
        }
    )
    # sorted uniform seconds over 30 days, truncated to microseconds
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_evt))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_evt),
            "ts": pa.array(
                _EPOCH_2024_US + (secs * 1e9).astype(np.int64) // 1000, pa.timestamp("us")
            ),
            "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_evt),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    out["documents"] = _documents(rng, n_doc)
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> list[str]:
    """Write ``make_tables(sf, seed)`` as ``<out_dir>/<table>.parquet``;
    returns the paths written."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, table in make_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase letters-only words of 3-10 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < n:
        for length in rng.integers(3, 11, n):
            words.setdefault("".join(rng.choice(letters, length)), None)
            if len(words) == n:
                break
    return list(words)


#: Zipf rank the grep term is drawn near: frequent enough that every
#: file matches, rare enough that the matched lines stay a small share
GREP_TERM_RANK = 400
#: vertex ids of the edge lists are drawn from ``range(N_VERTICES)``
N_VERTICES = 50_000


def write_jobs_corpus(
    out_dir: str,
    seed: int,
    text_mb: float,
    edge_mb: float,
    n_files: int = 8,
    vocab: int = 20_000,
) -> dict:
    """Write ``n_files`` text files (about ``text_mb`` MB in total) and
    ``n_files`` edge-list files (about ``edge_mb`` MB) under ``out_dir``.

    Returns ``{"text_files", "edge_files", "grep_term"}``."""
    rng = np.random.default_rng(seed)
    words = np.array(_vocabulary(rng, vocab))
    weights = 1.0 / np.arange(1, vocab + 1)
    weights /= weights.sum()
    text_dir = os.path.join(out_dir, "text")
    edge_dir = os.path.join(out_dir, "edges")
    os.makedirs(text_dir, exist_ok=True)
    os.makedirs(edge_dir, exist_ok=True)

    # ~7.3 bytes per word on average (mean word length + separator)
    words_per_file = int(text_mb * 1e6 / 7.3 / n_files)
    text_files, lines_seen = [], []
    for f in range(n_files):
        ranks = rng.choice(vocab, words_per_file, p=weights)
        cuts = np.cumsum(rng.integers(4, 16, words_per_file // 4 + 1))
        cuts = cuts[cuts < words_per_file]
        lines = [" ".join(ws) for ws in np.split(words[ranks], cuts)]
        lines_seen.append((lines, np.split(ranks, cuts)))
        path = os.path.join(text_dir, f"text-{f:02d}.txt")
        with open(path, "w", encoding="ascii") as fh:
            fh.write("\n".join(lines) + "\n")
        text_files.append(path)

    # the grep term: a word of a seeded-random line, the one whose rank
    # is nearest GREP_TERM_RANK, so it matches and its selectivity is
    # the same for every seed
    lines, line_ranks = lines_seen[int(rng.integers(0, n_files))]
    pick = int(rng.integers(0, len(lines)))
    term = str(words[line_ranks[pick][np.argmin(np.abs(line_ranks[pick] - GREP_TERM_RANK))]])

    # ~12.5 bytes per "src\tdst\n" line with 5-digit vertex ids
    edges_per_file = int(edge_mb * 1e6 / 12.5 / n_files)
    edge_files = []
    for f in range(n_files):
        ends = rng.integers(0, N_VERTICES, (edges_per_file, 2))
        path = os.path.join(edge_dir, f"edges-{f:02d}.txt")
        with open(path, "w", encoding="ascii") as fh:
            fh.write("".join(f"{s}\t{d}\n" for s, d in ends.tolist()))
        edge_files.append(path)
    return {"text_files": text_files, "edge_files": edge_files, "grep_term": term}


def fingerprint(paths: list[str]) -> str:
    """sha256 over the names and bytes of ``paths`` (sorted by name)."""
    h = hashlib.sha256()
    for path in sorted(paths):
        h.update(os.path.basename(path).encode())
        with open(path, "rb") as fh:
            for block in iter(lambda: fh.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()[:16]
