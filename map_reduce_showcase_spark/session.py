"""SparkSession construction with scale-aware defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for
the 100 TB / 1000-executor deployment story:

* AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and join-strategy switching replace hand-tuned ``n_reduce`` (the
  reference hard-codes static reduce parallelism per job,
  ``proto/coordinator.proto:30``).
* ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces. At cluster scale set it to ~2-3x total cores.
* Arrow enabled: every Python-side exchange (Pandas UDFs,
  ``mapInPandas``, ``toPandas``) is columnar-batched.
* Session timezone pinned UTC so timestamp semantics are stable
  across driver, executors, and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _newest_mtime(
    path: str,
    max_entries: int = 4096,
    hotspots: tuple[str, ...] = ("offsets", "commits"),
) -> float:
    """Newest mtime in the breadth-first prefix of ``path``'s tree
    (the path itself, dirs, files), scanning at most ``max_entries``
    entries.

    POSIX directory mtime only moves when a DIRECT child is added or
    removed — a live Spark checkpoint appending offsets/commits files
    two levels down, or a bucketed table whose files are merely being
    READ, leaves the top-level mtime at creation time. Liveness must
    therefore come from the newest nested mtime (plus the explicit
    ``touch_scratch`` reuse stamps), not the root's own.

    On hitting the cap the decision comes from the sampled prefix
    instead of defaulting to "live": round 7 returned time.time()
    here, which made any tree larger than the cap immortal — a
    crashed session's big checkpoint was never reclaimed, exactly
    the unbounded /tmp growth the sweep exists to prevent. BFS makes
    the sample the shallow prefix, where every liveness signal this
    package emits actually lives: ``touch_scratch`` stamps the ROOT,
    streaming checkpoints keep ``offsets/``/``commits/`` fresh one
    level down, and parquet writers touch the table dir itself. A
    hypothetical live tree whose only fresh mtimes sit deeper than
    the first ``max_entries`` BFS entries could be mis-swept; no
    scratch layout here has that shape, and reuse paths re-stamp the
    root precisely so the shallow sample is authoritative. As a
    belt-and-braces guard for future scratch shapes (ADVICE r8), the
    known liveness hotspots — the root stamp and a streaming
    checkpoint's ``offsets/``/``commits/`` dirs, whose mtimes move on
    every batch because offset/commit files are their DIRECT
    children — are stat-ed unconditionally before the capped walk,
    so no directory fan-out can push them past the sample. The
    ``hotspots`` default covers every scratch shape this package
    writes today; a future owner of a scratch layout whose liveness
    signal sits elsewhere (e.g. a state store, or a checkpoint nested
    another level down) passes its own relative paths rather than
    widening this list in place."""
    from collections import deque

    newest = 0.0
    for hot in hotspots:
        try:
            newest = max(newest, os.lstat(os.path.join(path, hot)).st_mtime)
        except OSError:
            pass
    seen = 0
    queue = deque([path])
    while queue:
        p = queue.popleft()
        try:
            newest = max(newest, os.lstat(p).st_mtime)
        except OSError:
            continue
        seen += 1
        if seen > max_entries:
            break
        if os.path.isdir(p) and not os.path.islink(p):
            try:
                queue.extend(os.path.join(p, c) for c in sorted(os.listdir(p)))
            except OSError:
                pass
    return newest


def touch_scratch(path: str) -> None:
    """Stamp ``path`` as in-use NOW (best-effort ``os.utime``): reuse
    points call this so liveness means "last used", not "last
    written" — a >24 h interactive session re-reading its day-old
    bucketed copy refreshes the stamp and a sibling's sweep keeps
    it."""
    try:
        os.utime(path)
    except OSError:
        pass


def sweep_stale_scratch(base: str, keep: set[str], max_age_s: int = 86400) -> None:
    """Best-effort reclamation of shared-/tmp scratch left by
    finished or crashed sessions (old checkpoints, staging copies,
    per-application bucketed-table materializations): anything under
    ``base`` not named in ``keep`` and unused for ``max_age_s``
    seconds is removed. Never raises — reclamation must not fail the
    query that triggered it. "Unused" is judged by the NEWEST mtime
    found anywhere in the candidate tree (see ``_newest_mtime`` — a
    root dir's own mtime goes stale while nested checkpoint files
    keep being written) combined with the ``touch_scratch`` stamps
    that reuse paths refresh, so a LIVE long-running session's
    scratch is never swept mid-read by a sibling."""
    import shutil
    import time

    try:
        entries = os.listdir(base)
    except OSError:
        return
    for entry in entries:
        if entry in keep:
            continue
        p = os.path.join(base, entry)
        try:
            if time.time() - _newest_mtime(p) > max_age_s:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def get_spark(
    app_name: str = "map-reduce-showcase-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or
    ``local[*]``); on a real cluster, leave it to spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # In local mode every executor thread shares the driver JVM,
        # whose default heap is 1g — with local[32] that starves the
        # shuffle/agg hash maps into GC-lock retries (measured: the
        # shingle self-join crashes outright under a loaded JVM).
        # 4g measured fastest on this box: it stops the crashes and
        # halves the inverted-index join, while a huge heap (24g)
        # was 3-10x SLOWER on the same queries (G1 with a
        # many-gigabyte young gen thrashes page-zeroing instead of
        # collecting a small nursery). Only effective before the JVM
        # launches; getOrCreate against a live session ignores it.
        # On a real cluster this knob is irrelevant: spark-submit
        # sets executor/driver memory explicitly.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: coalesce post-shuffle partitions, split
        # skewed joins, switch to broadcast when runtime stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Parquet TIMESTAMP(NANOS) has no Spark type; load such
        # columns as raw longs instead of failing. sources/tables.py
        # dispatches on the loaded dtype, so any physical encoding of
        # events.ts (micros/nanos/raw int64) yields the same rows.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # SQL-text helpers double regex backslashes (see functions/text.py TOKEN_SPLIT).
        .config("spark.sql.parser.escapedStringLiterals", "false")
        # Arrow for every Python<->JVM columnar exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep driver UI off in tests/CI.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
