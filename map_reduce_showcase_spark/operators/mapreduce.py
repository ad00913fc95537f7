"""The reference's three applications, re-expressed declaratively.

Reference apps (SURVEY.md §2.2): ``wc`` (``src/app/wc.rs``), ``grep``
(``src/app/grep.rs``), ``vertex-degree`` (``src/app/vertex_degree.rs``).
Each was a hand-written (map_fn, reduce_fn, process_output_fn) triple
pushed through a 2-stage MapReduce; here each is a single declarative
plan. What the reference did manually, Catalyst now plans:

* the map phase → whole-stage-codegen'd project/explode (no Python),
* the ``ihash(key) % n_reduce`` shuffle (``src/lib.rs:201-208``) →
  Spark hash partitioning, with map-side partial aggregation the
  reference never had (it shipped every raw ``(word, 1)`` pair
  through its shuffle — ``src/app/wc.rs:25``),
* the per-partition sort+group reduce (``src/worker/mod.rs:126-136``)
  → hash aggregation with sort-based spill fallback.

Scale: each of these is one shuffle whose partial aggregation
compresses the map output to the distinct-key count per partition
before shuffling — at 100 TB text, the shuffled volume is bounded by
vocabulary size × partitions, not corpus size.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tokenizer of wc's map fn: split on every non-alphabetic char,
#: lowercase, drop empties (``src/app/wc.rs:13-18``). The Rust
#: ``char::is_alphabetic`` is Unicode-aware, so the split class is
#: "anything that is not a letter" — ``\p{L}`` in Java regex.
_NON_ALPHA = r"[^\p{L}]+"


def tokenize(text: Column) -> Column:
    """Array of lowercase alphabetic-only tokens (wc W1)."""
    return F.filter(
        F.split(F.lower(text), _NON_ALPHA),
        lambda w: F.length(w) > 0,
    )


def word_count(text_df: DataFrame, text_col: str = "text") -> DataFrame:
    """wc: token → count (W1-W3), columns ``(word, cnt)``.

    Global (count asc, word asc) presentation order (W4,
    ``src/app/wc.rs:60-66``) is applied by :func:`format_word_count`;
    the aggregate itself is order-free so the optimizer can fuse it.
    """
    from ..functions.util import rebalance

    return (
        rebalance(text_df)
        .select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _concat_rows(*parts) -> str:
    """Join ``parts`` (Arrow columns and ``str`` constants) row by row,
    then concatenate the rows into one string — all inside Arrow
    compute, no Python object per row."""
    rows = pc.binary_join_element_wise(*parts, "")
    if isinstance(rows, pa.ChunkedArray):
        rows = rows.combine_chunks()
    return pc.binary_join(pa.ListArray.from_arrays([0, len(rows)], rows), "")[0].as_py()


def format_word_count(table: pa.Table) -> str:
    """Reference ``process_output`` format: ``"{count}\\t{word}\\n"``
    in (count asc, word asc) order (``src/app/wc.rs:51-74``), from a
    ``(word, cnt)`` table. Words compare by code point, as Spark's
    binary string order and the reference's ``String`` order do."""
    t = table.sort_by([("cnt", "ascending"), ("word", "ascending")])
    return _concat_rows(pc.cast(t["cnt"], pa.string()), "\t", t["word"], "\n")


def grep_lines(
    lines_df: DataFrame,
    term: str,
    path_col: str = "path",
    line_no_col: str = "line_no",
    line_col: str = "line",
) -> DataFrame:
    """grep: keep lines containing ``term`` (substring, NOT regex —
    ``src/app/grep.rs:41-46``), with file provenance and 1-based line
    numbers. Output ``(path, line_no, line)``.

    The reference's reduce phase only re-sorts matches per file
    (``src/app/grep.rs:64-78``); declaratively that is presentation
    order, applied in :func:`format_grep`. The filter itself pushes
    down to the scan — the reference always read 100% of every file
    then filtered in the map fn (SURVEY.md §4.1).
    """
    return lines_df.filter(F.col(line_col).contains(term)).select(
        F.col(path_col).alias("path"),
        F.col(line_no_col).alias("line_no"),
        F.col(line_col).alias("line"),
    )


def format_grep(table: pa.Table) -> str:
    """Reference grep output: per file ``basename:`` then
    ``\\t{line_no}: {line}`` per match, files in path order, lines in
    line order (``src/app/grep.rs:80-102``), from a
    ``(path, line_no, line)`` table."""
    t = table.sort_by([("path", "ascending"), ("line_no", "ascending")])
    path = t["path"].combine_chunks()
    if len(path) == 0:
        return ""
    # a file's header goes before its first match: where the path changes
    previous = pa.concat_arrays([pa.nulls(1, path.type), path.slice(0, len(path) - 1)])
    new_file = pc.fill_null(pc.not_equal(path, previous), True)
    basename = pc.replace_substring_regex(path, "^.*/", "")
    header = pc.if_else(new_file, pc.binary_join_element_wise(basename, ":\n", ""), "")
    line_no = pc.cast(t["line_no"], pa.string())
    return _concat_rows(header, "\t", line_no, ": ", t["line"], "\n")


def vertex_degree(edges_df: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """vertex-degree: undirected degree per vertex, ``(vertex, degree)``.

    flatMap both endpoints then count (V2-V3,
    ``src/app/vertex_degree.rs:29-71``): self-loops count twice and
    duplicate edges count per occurrence, exactly like the reference.
    ``explode(array(src,dst))`` stays in whole-stage codegen; the
    groupBy gets map-side partial aggregation, so shuffle volume is
    O(distinct vertices), not O(2·edges).
    """
    return (
        edges_df.select(
            F.explode(F.array(F.col(src_col), F.col(dst_col))).alias("vertex")
        )
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def parse_edge_lines(lines_df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse whitespace-separated ``src dst`` u64 edge lines (V1,
    ``src/app/vertex_degree.rs:12-27``). The reference fails the
    whole task on a malformed line; we mirror that with a strict
    cast check — callers get an ``(src, dst, valid)`` frame and the
    golden harness asserts ``valid`` everywhere.

    Exact parity with the Rust parse: ``split_whitespace().take(2)``
    ignores any tokens past the first two, and ``parse::<u64>``
    rejects negatives — so extra trailing tokens are fine but a
    negative vertex id is malformed. The ``try_`` forms make a
    missing or non-numeric token NULL (so ``valid`` is false) instead
    of failing the task under ANSI mode, Spark 4's default."""
    parts = F.split(F.trim(F.col(line_col)), r"\s+")
    src = F.try_element_at(parts, F.lit(1)).try_cast("long")
    dst = F.try_element_at(parts, F.lit(2)).try_cast("long")
    return lines_df.select(
        src.alias("src"),
        dst.alias("dst"),
        (src.isNotNull() & dst.isNotNull() & (src >= 0) & (dst >= 0)).alias("valid"),
    )


def format_vertex_degree(table: pa.Table) -> str:
    """Reference output: numeric sort by vertex, ``"{v}\\t{d}\\n"``
    (``src/app/vertex_degree.rs:73-90``), from a ``(vertex, degree)``
    table."""
    t = table.sort_by("vertex")
    return _concat_rows(
        pc.cast(t["vertex"], pa.string()), "\t", pc.cast(t["degree"], pa.string()), "\n"
    )
