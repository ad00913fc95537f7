"""Golden-output parity: run the three reference applications on
small in-repo corpora (the ``app_inputs`` fixture) and compare
byte-for-byte against an independent Python reimplementation of the
reference semantics (``src/app/{wc,grep,vertex_degree}.rs``).

The reference's process_output_fn totally orders its output, making
results byte-comparable regardless of scheduling (SURVEY.md §5.3) —
the property these tests exploit. Every golden first asserts that
its input list and expected output are non-empty, so an empty input
cannot pass by comparing ``""`` with ``""``.
"""

from __future__ import annotations

import collections
import re

import pytest

from map_reduce_showcase_spark.operators.mapreduce import (
    format_grep,
    format_vertex_degree,
    format_word_count,
    grep_lines,
    parse_edge_lines,
    vertex_degree,
    word_count,
)
from map_reduce_showcase_spark.sources.text import (
    read_lines_with_path,
    read_whole_files,
)

# \p{L}-equivalent in Python re: letters only (is_alphabetic in Rust)
_WORD_RE = re.compile(r"[^\W\d_]+", re.UNICODE)


def _expected_wc(paths: list[str]) -> str:
    """wc semantics per src/app/wc.rs: split on non-alphabetic,
    lowercase, count, sort (count asc, word asc), '{count}\\t{word}'."""
    counts: collections.Counter[str] = collections.Counter()
    for p in paths:
        for tok in _WORD_RE.findall(open(p, encoding="utf-8").read()):
            counts[tok.lower()] += 1
    ordered = sorted(counts.items(), key=lambda kv: (kv[1], kv[0]))
    return "".join(f"{c}\t{w}\n" for w, c in ordered)


def _expected_grep(paths: list[str], term: str) -> str:
    """grep semantics per src/app/grep.rs: substring filter, 1-based
    line numbers, files in path order, 'basename:' headers."""
    out = []
    for p in sorted(paths):
        matches = [
            (i + 1, line)
            for i, line in enumerate(open(p, encoding="utf-8").read().splitlines())
            if term in line
        ]
        if matches:
            out.append(p.rsplit("/", 1)[-1] + ":\n")
            out.extend(f"\t{no}: {line}\n" for no, line in matches)
    return "".join(out)


def _expected_vertex_degree(paths: list[str]) -> str:
    counts: collections.Counter[int] = collections.Counter()
    for p in paths:
        for line in open(p, encoding="utf-8").read().splitlines():
            if not line.strip():
                continue
            src, dst = line.split()
            counts[int(src)] += 1
            counts[int(dst)] += 1
    return "".join(f"{v}\t{d}\n" for v, d in sorted(counts.items()))


@pytest.mark.parametrize("corpus", ["alphabet2", "gutenberg"])
def test_wc_golden(spark, app_inputs, corpus):
    paths = app_inputs[corpus]
    want = _expected_wc(paths)
    assert paths and want
    df = read_whole_files(spark, paths)
    assert format_word_count(word_count(df, "content").toArrow()) == want


@pytest.mark.parametrize(
    "term,paths",
    [
        ("the", slice(2)),
        ("Elizabeth", slice(2)),
        ("whale", slice(None)),  # full 6-file corpus, multi-file ordering
    ],
)
def test_grep_golden(spark, app_inputs, term, paths):
    files = app_inputs["gutenberg"][paths]
    want = _expected_grep(files, term)
    assert files and want
    lines = read_lines_with_path(spark, files)
    assert format_grep(grep_lines(lines, term).toArrow()) == want


def test_vertex_degree_golden(spark, app_inputs):
    paths = app_inputs["edges"]
    want = _expected_vertex_degree(paths)
    assert paths and want
    lines = read_lines_with_path(spark, paths).select("line")
    edges = parse_edge_lines(lines)
    # reference fails the whole job on malformed input (V1 semantics)
    assert edges.filter(~edges.valid).count() == 0
    got = format_vertex_degree(vertex_degree(edges, "src", "dst").toArrow())
    assert got == want


def test_wc_multifile_union_is_one_job(spark, app_inputs):
    """Reference F1: N input files → one job (implicit union). Our
    scan unions all files into one DataFrame; counts must equal the
    per-file sum."""
    paths = app_inputs["gutenberg"]
    assert len(paths) == 6
    df = read_whole_files(spark, paths)
    assert df.count() == len(paths)
