"""Contract tests for ``bench.py`` — the driver-graded benchmark
surface.

The driver runs ``python bench.py`` each round and records a ~2,000-
char stdout TAIL as ``BENCH_r{N}.json``; until round 10 nothing in the
test suite exercised that path, so a harness regression (e.g. the
reps=0 clamp gap that emitted the non-RFC ``Infinity`` token) could
only surface in the driver's own run — after the round's code was
frozen. Round 13 added a second failure mode: the single artifact line
outgrew the tail capture and the driver recorded ``parsed: null``.
These tests pin the r14 two-line contract on a tiny headline set at
sf0.001: a full diagnostic JSON line followed by a compact FINAL line
under ``FINAL_LINE_BUDGET_BYTES``, the min-of-N protocol stamped,
failure isolation (a broken query nulls the total but never the
artifact), and the reps clamp."""

import importlib.util
import json
import pathlib
import sys

import pytest

_REPO = pathlib.Path(__file__).resolve().parent.parent


@pytest.fixture()
def bench(monkeypatch):
    spec = importlib.util.spec_from_file_location("bench", _REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench"] = mod
    spec.loader.exec_module(mod)
    yield mod
    sys.modules.pop("bench", None)


def _run(
    bench,
    capsys,
    monkeypatch,
    headline,
    sf="/root/testdata/sf0.001",
    reps="2",
    extended=(),
):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", reps)
    # pytest itself drives the 1m loadavg well past the idle
    # threshold — with the default 600 s cap every contract test
    # would stall waiting for a load the suite is causing
    monkeypatch.setenv("SPARK_GRAFT_BENCH_IDLE_WAIT_CAP_SEC", "0")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_SET", raising=False)
    monkeypatch.setattr(bench, "HEADLINE", headline)
    monkeypatch.setattr(bench, "EXTENDED", list(extended))
    bench.main()
    out = capsys.readouterr().out.strip().splitlines()
    # the r14 contract: TWO stdout JSON lines — the full diagnostic
    # record, then the compact budget-capped FINAL line the driver's
    # ~2,000-char stdout tail capture always contains in full
    compact_line = out[-1]
    assert len(compact_line.encode()) <= bench.FINAL_LINE_BUDGET_BYTES
    return json.loads(out[-2]), json.loads(compact_line)


def test_bench_artifact_contract_clean_run(bench, capsys, monkeypatch, spark):
    art, compact = _run(bench, capsys, monkeypatch, ["topk_orders", "grep_docs"])
    # the compact FINAL line carries exactly this key set: what the
    # driver grades plus fixed-size recorded context, nothing else
    assert set(compact) == {
        "metric",
        "value",
        "unit",
        "queries",
        "n_measured",
        "n_expected",
        "sf",
        "runs_per_query",
        "box_load_ok",
        "load_1m_at_start",
        "loadavg_final",
        "box_load_threshold_1m",
        "box_settled",
        "gate_criterion",
        "steal_pct",
        "steal_pct_demand",
        "steal_pct_headline",
        "steal_pct_demand_headline",
        "cpu_work_probe_sec",
        "extended_queries",
        "diagnostics",
    }
    # ... copied (not recomputed) from the diagnostic record
    for key in (
        "metric",
        "value",
        "unit",
        "queries",
        "n_measured",
        "n_expected",
        "sf",
        "runs_per_query",
        "box_load_ok",
        "box_settled",
        "gate_criterion",
        "extended_queries",
    ):
        assert compact[key] == art[key], key
    assert "preceding stdout line" in compact["diagnostics"]
    # growth-prone stamps stay OFF the final line
    for absent in (
        "load_1m_per_query",
        "idle_wait",
        "protocol",
        "errors",
        "extended_load_1m_per_query",
    ):
        assert absent not in compact
    assert art["metric"] == "headline_queries_total_sec"
    assert art["unit"] == "sec"
    assert art["runs_per_query"] == 2
    assert "min of 2 same-JVM runs" in art["protocol"]
    assert art["n_measured"] == art["n_expected"] == 2
    assert set(art["queries"]) == {"topk_orders", "grep_docs"}
    assert "errors" not in art
    # total is the sum of per-query minimums, rounded like the field
    assert art["value"] == pytest.approx(
        round(sum(art["queries"].values()), 3), abs=1e-6
    )
    assert art["sf"] == 0.001
    # box-load self-adjudication (round-10 verdict #4): per-query
    # [before, after] 1-minute loadavg samples + the final triple
    assert set(art["load_1m_per_query"]) == set(art["queries"])
    for pair in art["load_1m_per_query"].values():
        assert len(pair) == 2 and all(v >= 0 for v in pair)
    assert len(art["loadavg_final"]) == 3
    # the SINGLE adjudicated field (r11 verdict #4 — the raw samples
    # above still needed hand-interpretation): ok iff the 1m load
    # BEFORE any Spark work was under the stamped threshold. The
    # value itself is box state, so pin derivation, not the boolean.
    assert art["box_load_threshold_1m"] == bench.BOX_LOAD_THRESHOLD_1M
    assert art["load_1m_at_start"] >= 0
    # r14 verdict #2: "ok" = 1m idle AND settled (gate passed on a
    # criterion, not by burning the cap) — pin derivation, not the
    # booleans themselves (both are box state under pytest load)
    assert art["box_settled"] == (art["gate_criterion"] != "cap_exhausted")
    assert art["box_load_ok"] == (
        art["load_1m_at_start"] < art["box_load_threshold_1m"]
        and art["box_settled"]
    )
    # bounded wait-for-idle record (r12 verdict #2): the artifact is
    # self-describing about how long it waited, what the load did,
    # and WHICH criterion let it proceed (r14 verdict #2); with the
    # test's 0 s cap it must have taken exactly one sample and never
    # slept
    iw = art["idle_wait"]
    assert iw["cap_sec"] == 0.0 and iw["waited_sec"] == 0.0
    assert len(iw["load_trajectory_1m"]) == 1
    assert len(iw["load_trajectory_5m"]) == 1
    assert art["load_1m_at_start"] == iw["load_trajectory_1m"][-1]
    assert iw["gate_criterion"] == art["gate_criterion"]
    assert iw["gate_criterion"] in (
        "1m_and_5m_idle", "1m_idle_settled", "cap_exhausted"
    )
    assert iw["settle_min_sec"] == bench.IDLE_SETTLE_MIN_SEC
    assert iw["threshold_5m"] == bench.BOX_LOAD_THRESHOLD_5M
    # hypervisor-steal stamp (r15): the window over the measured span,
    # mirrored onto the compact line as recorded context — host-side
    # contention no loadavg sees
    st = art["cpu_steal"]
    assert st["steal_jiffies"] >= 0 and st["total_jiffies"] > 0
    assert st["busy_jiffies"] > 0  # the bench itself demanded cycles
    assert compact["steal_pct"] == st["steal_pct_of_capacity"]
    assert compact["steal_pct_demand"] == st["steal_pct_of_demand"]
    # HEADLINE-window steal stamp (ADVICE r15 medium): a second record
    # closed right after the headline loop — its jiffy window must be a
    # subset of the whole-span record, and the compact line must
    # mirror both percentages
    hst = art["cpu_steal_headline"]
    assert hst["steal_jiffies"] >= 0 and hst["busy_jiffies"] > 0
    assert hst["total_jiffies"] <= st["total_jiffies"]
    assert hst["steal_jiffies"] <= st["steal_jiffies"]
    assert compact["steal_pct_headline"] == hst["steal_pct_of_capacity"]
    assert compact["steal_pct_demand_headline"] == hst["steal_pct_of_demand"]
    # fixed-work host-speed probe (r16): [gate-pass, post-headline]
    # seconds for identical engine-free work — the stamp that sees
    # frequency-cap / bandwidth degradation no steal record can
    calib = art["cpu_work_probe_sec"]
    assert len(calib) == 2 and all(0 < c < 60 for c in calib)
    assert compact["cpu_work_probe_sec"] == calib
    # extended section present (empty here — _run pins EXTENDED=[])
    # and excluded from the anchor semantics by construction
    assert art["extended_queries"] == {}
    assert "excluded" in art["extended_note"]
    # every timing is finite and JSON-round-trippable (the reps=0
    # regression emitted Infinity here)
    json.dumps(art, allow_nan=False)


def test_bench_failure_isolation_nulls_total_not_artifact(
    bench, capsys, monkeypatch, spark
):
    """One broken query must never destroy the artifact (the round-2
    lesson baked into bench.py): its error is recorded, the healthy
    query's timing survives, and the TOTAL is null — a partial sum
    would compare unlike sets across rounds."""
    art, compact = _run(bench, capsys, monkeypatch, ["topk_orders", "no_such_query"])
    assert art["value"] is None
    assert art["n_measured"] == 1 and art["n_expected"] == 2
    assert "topk_orders" in art["queries"]
    assert "no_such_query" in art["errors"]
    assert "KeyError" in art["errors"]["no_such_query"]
    # the compact line records WHICH queries failed (bounded name
    # list); the error DETAILS live only on the diagnostic line so
    # the worst case (all 18 failing) can't blow the byte budget
    assert compact["value"] is None
    assert compact["failed"] == ["no_such_query"]
    assert "errors" not in compact
    # load samples cover FAILED queries too (the load context of a
    # failure is exactly when you want the sample)
    assert set(art["load_1m_per_query"]) == {"topk_orders", "no_such_query"}
    json.dumps(art, allow_nan=False)


def test_bench_reps_clamped_to_at_least_one(bench, capsys, monkeypatch, spark):
    art, _ = _run(bench, capsys, monkeypatch, ["topk_orders"], reps="0")
    assert art["runs_per_query"] == 1
    assert art["value"] is not None and art["value"] > 0
    json.dumps(art, allow_nan=False)


def test_bench_extended_section_measured_but_not_in_anchor(
    bench, capsys, monkeypatch, spark
):
    """r12 verdict #4: extended queries run on the same min-of-N
    protocol, in the same JVM after the headline, but live outside the
    anchor — the total must be the HEADLINE sum only, with the
    extended timing stamped separately."""
    art, compact = _run(
        bench, capsys, monkeypatch, ["topk_orders"], extended=["grep_docs"]
    )
    assert set(art["extended_queries"]) == {"grep_docs"}
    assert art["extended_queries"]["grep_docs"] > 0
    assert "extended_errors" not in art
    # r13 verdict #3: per-query [before, after] load samples for the
    # extended section (r13 measured then DISCARDED them, leaving
    # the pagerank 1.34x-vs-idle point unexplainable)
    assert set(art["extended_load_1m_per_query"]) == {"grep_docs"}
    for pair in art["extended_load_1m_per_query"].values():
        assert len(pair) == 2 and all(v >= 0 for v in pair)
    # the compact final line carries the extended timings (the sf0.1
    # trend) but not the load stamps
    assert compact["extended_queries"] == art["extended_queries"]
    assert "extended_load_1m_per_query" not in compact
    # anchor total is headline-only
    assert art["value"] == pytest.approx(
        round(sum(art["queries"].values()), 3), abs=1e-6
    )
    assert set(art["queries"]) == {"topk_orders"}
    # headline load samples stay headline-shaped (the r10 assertion)
    assert set(art["load_1m_per_query"]) == {"topk_orders"}
    json.dumps(art, allow_nan=False)


def test_bench_extended_failure_never_nulls_anchor_total(
    bench, capsys, monkeypatch, spark
):
    """An extended-section failure is recorded but must NOT null the
    headline total — only headline errors make cross-round totals
    compare unlike sets."""
    art, compact = _run(
        bench, capsys, monkeypatch, ["topk_orders"], extended=["no_such_query"]
    )
    assert art["value"] is not None and art["value"] > 0
    assert "errors" not in art
    assert "KeyError" in art["extended_errors"]["no_such_query"]
    assert art["extended_queries"] == {}
    assert compact["value"] is not None
    assert compact["extended_failed"] == ["no_such_query"]
    assert "failed" not in compact
    json.dumps(art, allow_nan=False)


def test_bench_wait_for_idle_paths(bench):
    """The settle-aware wait loop (r14 verdict #2), driven through
    injected sample/sleep so the test never touches the real clock:
    (a) a genuinely idle box (1m AND 5m under threshold) takes one
    sample and never sleeps; (b) the literal r14 trajectory — 1m
    decayed under threshold while the 5m average shows the box still
    draining — MUST keep waiting until the settle minimum elapses
    since the last above-threshold 1m sample (the old gate passed at
    1.94 and read 1.25x its idle twin); (c) a 5m drop under threshold
    releases the wait without the settle minimum; (d) a box that
    never idles burns exactly the cap and stamps cap_exhausted; (e)
    arriving mid-drain (1m already decayed, 5m still high, no hot
    sample ever observed) gets the same minimum settle from the
    wait's own start."""

    def feed(pairs):
        it = iter(pairs)
        return lambda: (*next(it), 0.0)  # (1m, 5m, 15m) triple

    # (a) idle immediately on both scales
    sleeps: list[float] = []
    g = bench.wait_for_idle(600.0, sample=feed([(0.5, 0.6)]), sleep=sleeps.append)
    assert g["load_trajectory_1m"] == [0.5]
    assert g["load_trajectory_5m"] == [0.6]
    assert g["waited_sec"] == 0.0 and sleeps == []
    assert g["gate_criterion"] == "1m_and_5m_idle"

    # (b) the r14 must-wait case: 1m trajectory 14.15 -> 1.94 (the
    # old gate's pass point, 120 s in) with the 5m average still far
    # above threshold — the gate must NOT pass at 1.94; it waits
    # until settle_min_sec (120 s) elapsed since the last hot 1m
    # sample (3.2 at 90 s), i.e. until 210 s
    ones = [14.15, 8.57, 5.19, 3.2, 1.94, 1.5, 1.2, 1.0]
    fives = [10.0, 9.0, 8.0, 7.0, 6.5, 6.0, 5.5, 5.0]
    sleeps = []
    g = bench.wait_for_idle(
        600.0, poll_sec=30.0, sample=feed(zip(ones, fives)), sleep=sleeps.append
    )
    assert g["load_trajectory_1m"] == ones
    assert g["waited_sec"] == 210.0 and sleeps == [30.0] * 7
    assert g["gate_criterion"] == "1m_idle_settled"

    # (c) the 5m average dropping under threshold releases the wait
    # immediately — no settle minimum needed on a demonstrably
    # drained box
    sleeps = []
    g = bench.wait_for_idle(
        600.0, poll_sec=30.0,
        sample=feed([(5.0, 4.0), (1.0, 1.5)]), sleep=sleeps.append
    )
    assert g["waited_sec"] == 30.0 and g["gate_criterion"] == "1m_and_5m_idle"

    # (d) never idles: stops at the cap, last step truncated to fit
    sleeps = []
    g = bench.wait_for_idle(
        70.0, poll_sec=30.0, sample=lambda: (9.9, 9.9, 9.9), sleep=sleeps.append
    )
    assert g["waited_sec"] == 70.0 and sleeps == [30.0, 30.0, 10.0]
    assert g["load_trajectory_1m"] == [9.9, 9.9, 9.9, 9.9]
    assert g["gate_criterion"] == "cap_exhausted"

    # (e) arriving mid-drain: 1m idle from the first sample but 5m
    # hot and no hot 1m sample ever seen — the settle clock anchors
    # at the wait's start, so it passes at settle_min_sec
    pairs = [(1.6, 6.0), (1.5, 5.5), (1.4, 5.0), (1.3, 4.5), (1.2, 4.0)]
    sleeps = []
    g = bench.wait_for_idle(
        600.0, poll_sec=30.0, sample=feed(pairs), sleep=sleeps.append
    )
    assert g["waited_sec"] == 120.0
    assert g["gate_criterion"] == "1m_idle_settled"

    # boundary: adjudication uses the ROUNDED sample, so a reading
    # that rounds to the threshold is still hot (box_load_ok would be
    # false for it) and re-anchors the settle clock
    g = bench.wait_for_idle(
        600.0, sample=feed([(2.004, 1.0), (1.99, 1.0)]), sleep=lambda s: None
    )
    assert g["load_trajectory_1m"] == [2.0, 1.99]
    assert g["gate_criterion"] == "1m_and_5m_idle"

    # cap_exhausted can also mean "idle but UNSETTLED when the cap
    # ran out" — the r14 defect shape under a too-short cap: 1m
    # decayed, 5m hot, settle window not yet elapsed
    g = bench.wait_for_idle(
        30.0, poll_sec=30.0,
        sample=feed([(5.0, 8.0), (1.5, 7.0)]), sleep=lambda s: None
    )
    assert g["gate_criterion"] == "cap_exhausted"
    assert g["waited_sec"] == 30.0


def test_bench_non_numeric_reps_falls_back(bench, capsys, monkeypatch, spark):
    """ADVICE r10: a malformed SPARK_GRAFT_BENCH_REPS aborted before
    any JSON printed — the exact broken-artifact mode the reps clamp
    exists to prevent; it must fall back to the default instead."""
    art, _ = _run(bench, capsys, monkeypatch, ["topk_orders"], reps="three")
    assert art["runs_per_query"] == 3
    assert art["value"] is not None and art["value"] > 0
    json.dumps(art, allow_nan=False)


def test_bench_final_line_byte_budget_worst_case(bench):
    """r13 verdict #1: BENCH_r13.json went ``parsed: null`` because the
    single artifact line outgrew the driver's ~2,000-char stdout tail
    capture. The compact FINAL line must fit FINAL_LINE_BUDGET_BYTES
    for every shape the REAL headline/extended lists can produce —
    pinned here on the two adversarial extremes: (a) every query
    succeeds at max-width timings (widest per-name encoding), (b)
    every query fails with long error messages (which must reach the
    final line only as name lists)."""

    def diag(times, errors, ext_times, ext_errors):
        d = {
            "metric": "headline_queries_total_sec",
            "value": round(sum(times.values()), 3) if not errors else None,
            "unit": "sec",
            "queries": times,
            "n_measured": len(times),
            "n_expected": len(times) + len(errors),
            "sf": 0.1,
            "runs_per_query": 3,
            "box_load_ok": False,
            "extended_queries": ext_times,
        }
        if errors:
            d["errors"] = errors
        if ext_errors:
            d["extended_errors"] = ext_errors
        return d

    wide = 99999.999
    long_err = "SomeVeryLongExceptionClassName: " + "x" * 300
    all_ok = diag(
        {n: wide for n in bench.HEADLINE},
        {},
        {n: wide for n in bench.EXTENDED},
        {},
    )
    all_fail = diag(
        {},
        {n: long_err for n in bench.HEADLINE},
        {},
        {n: long_err for n in bench.EXTENDED},
    )
    for d in (all_ok, all_fail):
        compact = bench.compact_record(d)
        line = json.dumps(compact)
        assert len(line.encode()) <= bench.FINAL_LINE_BUDGET_BYTES, len(line)
        # error details must never reach the final line
        assert "errors" not in compact and "extended_errors" not in compact
    assert all_fail["errors"] and bench.compact_record(all_fail)["failed"] == sorted(
        bench.HEADLINE
    )

    # ADVICE r14: under SPARK_GRAFT_BENCH_SET=all a registry-wide
    # FAILURE list (~171 sorted names, ~4-5 KB) must degrade to a
    # count like the per-query dicts do — the old loop shrank only
    # 'queries'/'extended_queries', reintroducing the r13 truncation
    # in exactly the mode the guard was added for
    many = [f"some_registry_query_name_{i:03d}" for i in range(171)]
    registry_all_fail = diag({}, {n: long_err for n in many}, {}, {})
    compact = bench.compact_record(registry_all_fail)
    line = json.dumps(compact)
    assert len(line.encode()) <= bench.FINAL_LINE_BUDGET_BYTES, len(line)
    assert isinstance(compact["failed"], str) and "171 entries" in compact["failed"]
    registry_all_ok = diag({n: wide for n in many}, {}, {}, {})
    compact = bench.compact_record(registry_all_ok)
    assert len(json.dumps(compact).encode()) <= bench.FINAL_LINE_BUDGET_BYTES
    assert isinstance(compact["queries"], str) and "171 entries" in compact["queries"]

    # the budget itself keeps a >=25% margin under the ~2,000-char
    # driver tail capture
    assert bench.FINAL_LINE_BUDGET_BYTES <= 1500


def test_compact_record_overflow_raises_even_under_optimize(bench, monkeypatch):
    """ADVICE r15 (low): the final-line budget backstop was a bare
    ``assert``, stripped under ``python -O``/PYTHONOPTIMIZE — silently
    reintroducing the r13 oversized-line failure mode the guard exists
    to prevent. It must raise a real exception regardless of
    optimization level (pinned by forcing an impossible budget)."""
    import pytest as _pytest

    monkeypatch.setattr(bench, "FINAL_LINE_BUDGET_BYTES", 10)
    diag = {"metric": "headline_queries_total_sec", "value": 1.0,
            "unit": "sec", "queries": {}, "n_measured": 0,
            "n_expected": 0, "sf": 0.1, "runs_per_query": 3,
            "box_load_ok": True, "extended_queries": {}}
    with _pytest.raises(RuntimeError, match="after degrading"):
        bench.compact_record(diag)
    src = (_REPO / "bench.py").read_text()
    assert "raise RuntimeError" in src
