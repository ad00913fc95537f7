"""Job-submission façade: the reference's client API, Spark-backed.

The reference's entire query surface is
``submit(app, files, output_dir, n_reduce, args) → poll → process``
(``proto/coordinator.proto:26-32``, ``src/client.rs:31-115``). This
module reproduces that exact contract so a reference user can port
their scripts 1:1:

* app registry with the same three names (``wc``, ``grep``,
  ``vertex-degree``) and the same unknown-app error behavior
  (submit-time validation, ``src/coordinator/mod.rs:198-201``),
* ``n_reduce`` → number of output files (``mr-out``-equivalent,
  one per partition — ``src/worker/mod.rs:138-144``),
* ``args`` → the app's parameters (grep's ``--term``,
  ``src/app/grep.rs:18-34``),
* ``process_output`` → the app's exact human-readable format.

Each submit computes its result once and persists it: the driver
copy arrives as one Arrow table (``DataFrame.toArrow``) and the output
files are written from the same cached blocks. One formatter per app
turns a result table into the reference's text and owns its
presentation order, so submit and process share it. Client input that
cannot make a job raises ValueError before any Spark work.

Everything in between — scheduling, shuffle, retries, barriers — is
Spark's driver/executors (SURVEY.md §2.3: C1-C10 map to built-ins).
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.sinks import write_n_files
from ..sources.text import read_lines_with_path, read_whole_files
from .mapreduce import (
    format_grep,
    format_vertex_degree,
    format_word_count,
    grep_lines,
    parse_edge_lines,
    vertex_degree,
    word_count,
)

#: app name → formatter of its result table (submit and process share it)
_FORMATTERS = {
    "wc": format_word_count,
    "grep": format_grep,
    "vertex-degree": format_vertex_degree,
}
APPS = tuple(_FORMATTERS)


@dataclass
class JobResult:
    """What the reference's poll+process yields: the result rows and
    the formatted output string. ``df`` is the unsorted result; the
    formatter applies the presentation order to ``output``."""

    df: DataFrame
    output: str
    output_dir: str | None = None
    n_output_files: int = field(default=0)


def submit_job(
    spark: SparkSession,
    app: str,
    files: list[str],
    output_dir: str | None = None,
    n_reduce: int = 5,
    args: list[str] | None = None,
) -> JobResult:
    """Run one reference-style job to completion (the Spark action IS
    submit+poll — blocking, with retries and stage barriers inside).

    The result is computed once: ``persist`` holds it (lineage stays,
    so a lost block recomputes), one ``toArrow`` brings it to the
    driver and ``write_n_files`` reads the same blocks. The cache is
    released before returning; ``JobResult.df`` recomputes if re-used.

    Unknown ``app``, an empty ``files`` list and ``n_reduce < 1``
    raise ValueError at submit time, matching the coordinator's
    InvalidArgument. A malformed vertex-degree edge line raises
    ValueError before anything is written."""
    _check_app(app)
    if not files:
        raise ValueError(f"{app}: no input files")
    if n_reduce < 1:
        raise ValueError(f"{app}: n_reduce must be at least 1, got {n_reduce}")
    df = _plan(spark, app, files, args or [])
    df.persist()
    try:
        table = df.toArrow()
        if app == "vertex-degree" and table["vertex"].null_count:
            # reference: malformed line => fatal task failure => job
            # failed with recorded errors (src/vertex_degree.rs:26-27)
            raise ValueError("vertex-degree: malformed edge line")
        n_files = 0
        if output_dir is not None:
            n_files = write_n_files(df, output_dir, n_reduce, by_col=df.columns[0])
    finally:
        df.unpersist()
    return JobResult(
        df=df, output=_FORMATTERS[app](table), output_dir=output_dir, n_output_files=n_files
    )


def _plan(spark: SparkSession, app: str, files: list[str], args: list[str]) -> DataFrame:
    """The app's result plan, unsorted (the formatter orders it)."""
    if app == "wc":
        return word_count(read_whole_files(spark, files), "content")
    if app == "grep":
        term = _parse_term(args)
        return grep_lines(read_lines_with_path(spark, files), term)
    edges = parse_edge_lines(read_lines_with_path(spark, files).select("line"))
    # a malformed line gets NULL endpoints, so the one aggregate has a
    # NULL-vertex row exactly when some line was malformed
    return vertex_degree(
        edges.select(
            F.when(edges.valid, edges.src).alias("src"),
            F.when(edges.valid, edges.dst).alias("dst"),
        ),
        "src",
        "dst",
    )


def process_job(spark: SparkSession, app: str, output_dir: str) -> JobResult:
    """The reference's SEPARATE ``process`` invocation: re-read the
    job's output files from disk in a second client run and format
    them (``src/client.rs:66-93``, ``src/bin/client.rs:155-162``) —
    no recomputation, only read-back + format.

    Files are the parquet ``write_n_files`` wrote (the engine's
    ``mr-out-*`` equivalent; SURVEY.md §1.4 maps F11's
    length-delimited codec to parquet). Hash-partitioned files carry
    no global order; the app's formatter applies it, as the
    reference's process step re-sorts per app (``src/app/wc.rs:60-66``,
    ``src/app/grep.rs:64-78``). A directory without ``part-*`` files
    raises ValueError."""
    _check_app(app)
    if not glob.glob(os.path.join(output_dir, "part-*")):
        raise ValueError(f"{app}: no part-* output files in {output_dir!r}")
    df = spark.read.parquet(output_dir)
    return JobResult(df=df, output=_FORMATTERS[app](df.toArrow()), output_dir=output_dir)


def _check_app(app: str) -> None:
    if app not in APPS:
        raise ValueError(f"unknown app {app!r}; known: {APPS}")


def _parse_term(args: list[str]) -> str:
    """grep's clap-style ``--term <t>`` parsing (src/app/grep.rs:25-34)."""
    for i, a in enumerate(args):
        if a == "--term" and i + 1 < len(args):
            return args[i + 1]
        if a.startswith("--term="):
            return a.split("=", 1)[1]
    raise ValueError("grep requires --term <substring>")
