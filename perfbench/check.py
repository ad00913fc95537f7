"""Output checks for the benchmark, run outside every timed section.

* Query items: the Spark result is compared with the query's DuckDB
  oracle on row count, column names and an order-insensitive value
  digest, behind the same vacuity gate as the engine's contract harness
  (a 0-row result fails unless the query is tagged ``may_be_empty``).
  Oracle digests are cached on disk under the input fingerprint, so a
  cached digest is never compared with a result computed from other
  inputs.
* Job items: the formatted ``submit_job``/``process_job`` output is
  compared with a plain-Python model of the reference app built from the
  generator's own files.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os

import pandas as pd

# value normalisation and the catalog's table names are the contract
# harness's own; its ``value_hash`` uses the per-process salted builtin
# ``hash``, so digests that are cached on disk are sha256 here instead
from tools.drive_contract import TABLES, coerce


def value_digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a frame's values: rows as ``repr`` of
    normalized values over the sorted column names, sorted, hashed."""
    cols = sorted(df.columns)
    rows = sorted(
        repr(tuple(repr(coerce(v)) for v in row))
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def describe(df: pd.DataFrame) -> dict:
    return {"rows": len(df), "cols": sorted(df.columns), "digest": value_digest(df)}


def oracle_records(data_dir: str, oracles: dict[str, str], cache_path: str) -> dict[str, dict]:
    """``describe`` of each oracle's DuckDB result over ``data_dir``.

    ``cache_path`` holds earlier records keyed by oracle SQL; the caller
    names it after the input fingerprint, so a record is reused only for
    the same inputs and the same SQL."""
    cache: dict[str, dict] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    missing = {n: sql for n, sql in oracles.items() if sql not in cache}
    if missing:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            for sql in missing.values():
                cache[sql] = describe(con.execute(sql).fetchdf())
        finally:
            con.close()
        tmp = f"{cache_path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(cache, fh)
        os.replace(tmp, cache_path)
    return {n: cache[sql] for n, sql in oracles.items()}


def query_failure(got: dict, want: dict, tags: tuple[str, ...]) -> str | None:
    """Why ``got`` (a ``describe`` record) does not match ``want``, or None."""
    if got["rows"] == 0 and "may_be_empty" not in tags:
        return "vacuous: 0 rows without may_be_empty tag"
    if got["rows"] != want["rows"]:
        return f"rowcount {got['rows']} vs {want['rows']}"
    if got["cols"] != want["cols"]:
        return f"cols {got['cols']} vs {want['cols']}"
    if got["digest"] != want["digest"]:
        return "value digest mismatch"
    return None


def _read_lines(path: str) -> list[str]:
    with open(path, encoding="ascii") as fh:
        return fh.read().splitlines()


def expected_wc(paths: list[str]) -> str:
    """The reference's wc output, ``"{count}\\t{word}\\n"`` ordered by
    (count, word). The generated corpus is lowercase letters separated
    by spaces and newlines, so whitespace splitting is wc's tokenizer."""
    counts: collections.Counter[str] = collections.Counter()
    for path in paths:
        with open(path, encoding="ascii") as fh:
            counts.update(fh.read().split())
    return "".join(f"{c}\t{w}\n" for w, c in sorted(counts.items(), key=lambda kv: (kv[1], kv[0])))


def expected_grep(paths: list[str], term: str) -> str:
    """The reference's grep output: per file (path order) ``basename:``
    then ``\\t{line_no}: {line}`` for each line containing ``term``."""
    out = []
    for path in sorted(paths):
        hits = [(i, line) for i, line in enumerate(_read_lines(path), 1) if term in line]
        if hits:
            out.append(f"{os.path.basename(path)}:\n")
            out.extend(f"\t{i}: {line}\n" for i, line in hits)
    return "".join(out)


def expected_vertex_degree(paths: list[str]) -> str:
    """The reference's vertex-degree output: ``"{v}\\t{d}\\n"`` by vertex,
    both endpoints of every edge counted."""
    degree: collections.Counter[int] = collections.Counter()
    for path in paths:
        for line in _read_lines(path):
            src, dst = line.split()
            degree[int(src)] += 1
            degree[int(dst)] += 1
    return "".join(f"{v}\t{d}\n" for v, d in sorted(degree.items()))
