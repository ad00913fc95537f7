"""Unit tests for the scale-sweep fit/flag adjudication.

Round 8 caught two live defects in ``tools/scale_sweep.py`` (see
VERDICT.md r8): a FAILED heavy point wrote ``flag: false`` (a crashed
sf1.6 run read as a clean bill), and ``fit()`` computed
``tail_time_per_work`` but never consulted it — the raw tail-ratio
threshold (4.0) has zero noise headroom for a query whose intrinsic
work grows exactly 4x per leg by construction, so a measured-linear
plan stayed flagged. These tests pin the corrected three-valued flag
semantics and the work-normalized adjudication. No SparkSession
needed — ``fit()`` is pure."""

import importlib.util
import pathlib
import sys

_TOOLS = pathlib.Path(__file__).resolve().parent.parent / "tools"


def _load_sweep():
    spec = importlib.util.spec_from_file_location(
        "scale_sweep", _TOOLS / "scale_sweep.py"
    )
    mod = importlib.util.module_from_spec(spec)
    # scale_sweep imports the package at module load; that is already
    # importable from the repo root on sys.path
    sys.modules.setdefault("scale_sweep", mod)
    spec.loader.exec_module(mod)
    return mod


def test_fit_flags_raw_tail_without_work_probe():
    sweep = _load_sweep()
    fitted = sweep.fit(
        {
            "linear_q": {"sf0.1": 1.0, "sf0.4": 2.0, "sf1.6": 6.0},
            "quadratic_q": {"sf0.1": 1.0, "sf0.4": 3.0, "sf1.6": 13.0},
        }
    )
    assert fitted["linear_q"]["flag"] is False
    assert fitted["quadratic_q"]["flag"] is True
    assert fitted["quadratic_q"]["leg_ratios_4x"]["tail"] == 4.33


def test_fit_failed_point_is_unmeasured_not_clean():
    """A missing/failed scale point must yield flag=None and land in
    'unmeasured' — round 8's fit() wrote flag:false for exactly this
    shape, and an --only merge of it cleared a standing flag."""
    sweep = _load_sweep()
    fitted = sweep.fit({"died_at_16x": {"sf0.1": 1.0, "sf0.4": 2.1, "sf1.6": None}})
    assert fitted["died_at_16x"]["flag"] is None
    lists = sweep._flag_lists(fitted)
    assert lists["flagged"] == []
    assert lists["unmeasured"] == ["died_at_16x"]


def test_fit_work_probe_adjudicates_time_per_work():
    """The round-8 triangle shape: raw tail 4.42 (> 4.0) but work
    tail exactly 4.00 → tail_time_per_work 1.10 → NOT flagged. A
    genuinely quadratic-in-own-work plan (time tail ~ work tail
    squared → tpw ~ 4) still trips."""
    sweep = _load_sweep()
    fitted = sweep.fit(
        {
            "triangle_like": {"sf0.1": 3.84, "sf0.4": 7.36, "sf1.6": 32.56},
            "work_quadratic": {"sf0.1": 1.0, "sf0.4": 4.0, "sf1.6": 64.0},
        },
        work={
            "triangle_like": {
                "sf0.1": 132_026_018,
                "sf0.4": 528_104_072,
                "sf1.6": 2_112_416_288,
            },
            "work_quadratic": {"sf0.1": 100, "sf0.4": 400, "sf1.6": 1600},
        },
    )
    t = fitted["triangle_like"]
    assert t["leg_ratios_4x"]["tail"] == 4.42
    assert t["leg_work_ratios_4x"]["tail"] == 4.0
    assert t["tail_time_per_work"] == 1.1
    assert t["flag"] is False
    q = fitted["work_quadratic"]
    assert q["tail_time_per_work"] == 4.0
    assert q["flag"] is True


def test_fit_incomplete_probe_on_registered_query_is_unmeasured():
    """ADVICE r9: a work probe that died at one point must NOT fall
    back to the raw tail detector for a probe-registered query — a
    query whose intrinsic work grows ~4x/leg by construction (the
    triangle) consumes the whole raw budget, so the fallback would
    let a probe INFRASTRUCTURE failure flip a proven-linear plan to
    flagged. It lands in 'unmeasured' instead, whichever way the raw
    tail points."""
    sweep = _load_sweep()
    fitted = sweep.fit(
        {
            "raw_would_flag": {"sf0.1": 1.0, "sf0.4": 2.0, "sf1.6": 9.0},
            "raw_would_clear": {"sf0.1": 1.0, "sf0.4": 2.0, "sf1.6": 6.0},
        },
        work={
            "raw_would_flag": {"sf0.1": 100, "sf0.4": 400, "sf1.6": None},
            "raw_would_clear": {"sf0.1": 100, "sf0.4": None, "sf1.6": 1600},
        },
    )
    for q in ("raw_would_flag", "raw_would_clear"):
        assert fitted[q]["tail_time_per_work"] is None
        assert fitted[q]["flag"] is None
        assert fitted[q]["detector"] is None
    assert sweep._flag_lists(fitted)["unmeasured"] == [
        "raw_would_clear",
        "raw_would_flag",
    ]


def test_fit_probed_set_decouples_registration_from_results():
    """``probed`` names the queries REGISTERED for a probe: a
    registered query with no work entry at all (e.g. an --only merge
    that rejected the whole probe) is still unmeasured, never
    raw-adjudicated; an unregistered query is raw-adjudicated as
    before."""
    sweep = _load_sweep()
    fitted = sweep.fit(
        {
            "probe_lost": {"sf0.1": 1.0, "sf0.4": 2.0, "sf1.6": 9.0},
            "plain": {"sf0.1": 1.0, "sf0.4": 2.0, "sf1.6": 9.0},
        },
        work={},
        probed={"probe_lost"},
    )
    assert fitted["probe_lost"]["flag"] is None
    assert fitted["probe_lost"]["detector"] is None
    assert fitted["plain"]["flag"] is True
    assert fitted["plain"]["detector"] == "raw"


def test_fit_records_adjudicating_detector():
    """Every measured entry says which detector decided it (ADVICE
    r9): 'tpw' for probe-adjudicated, 'raw' for plain, 'exempt' for
    the control, None for unmeasured."""
    sweep = _load_sweep()
    fitted = sweep.fit(
        {
            "probed_q": {"sf0.1": 1.0, "sf0.4": 2.0, "sf1.6": 8.2},
            "plain_q": {"sf0.1": 1.0, "sf0.4": 2.0, "sf1.6": 6.0},
            "control_quadratic_blocking": {
                "sf0.1": 0.7,
                "sf0.4": 1.4,
                "sf1.6": 16.1,
            },
            "dead_q": {"sf0.1": 1.0, "sf0.4": None, "sf1.6": None},
        },
        work={"probed_q": {"sf0.1": 100, "sf0.4": 400, "sf1.6": 1600}},
    )
    assert fitted["probed_q"]["detector"] == "tpw"
    assert fitted["probed_q"]["flag"] is False  # tpw 4.1/4 ≈ 1.02
    assert fitted["plain_q"]["detector"] == "raw"
    assert fitted["control_quadratic_blocking"]["detector"] == "exempt"
    assert fitted["dead_q"]["detector"] is None


def test_fit_expected_quadratic_control_exempt_but_recorded():
    sweep = _load_sweep()
    name = "control_quadratic_blocking"
    fitted = sweep.fit({name: {"sf0.1": 1.0, "sf0.4": 4.0, "sf1.6": 64.0}})
    assert fitted[name]["expected_quadratic"] is True
    assert fitted[name]["flag"] is False
    assert fitted[name]["leg_ratios_4x"]["tail"] == 16.0
    # exemption is not silence: the artifact records what the raw
    # detector would have decided (no probe → tpw path unmeasured)
    assert fitted[name]["would_flag"] == {"raw": True, "tpw": None}
    # but a control with a missing heavy point is still UNMEASURED —
    # exemption is not a verdict
    fitted = sweep.fit({name: {"sf0.1": 1.0, "sf0.4": 4.0, "sf1.6": None}})
    assert fitted[name]["flag"] is None


def test_fit_control_would_flag_validates_both_detector_paths():
    """Round 9: the control carries a deliberately LINEAR declared-
    work probe while its measured time is quadratic, so one run
    validates BOTH detectors: raw tail > 4.0 and tpw > 2.0 must both
    record would_flag true. A control whose would_flag reads false
    means the detector lost its control — the round-9 re-measure
    caught exactly that (bare-count control tail noise-flipped to
    3.80 < 4.0) and motivated the pinned-parallelism + verify-payload
    hardening."""
    sweep = _load_sweep()
    name = "control_quadratic_blocking"
    # the calibrated hardened shape: tail ~11.5, linear work → tpw ~2.9
    fitted = sweep.fit(
        {name: {"sf0.1": 0.7, "sf0.4": 1.4, "sf1.6": 16.1}},
        work={name: {"sf0.1": 5000, "sf0.4": 20000, "sf1.6": 80000}},
    )
    c = fitted[name]
    assert c["flag"] is False  # still verdict-exempt
    assert c["would_flag"] == {"raw": True, "tpw": True}
    assert c["leg_work_ratios_4x"]["tail"] == 4.0
    # a degraded control (the pre-hardening 3.80 shape) records the
    # failure instead of silently keeping the narrative
    fitted = sweep.fit(
        {name: {"sf0.1": 0.45, "sf0.4": 1.04, "sf1.6": 3.93}},
        work={name: {"sf0.1": 5000, "sf0.4": 20000, "sf1.6": 80000}},
    )
    assert fitted[name]["would_flag"] == {"raw": False, "tpw": False}


def test_merge_only_is_atomic_and_rejects_incomplete():
    """The r8 live bug, end to end at the merge layer: an --only
    re-measure whose heavy point died must keep the prior artifact's
    times — and therefore, through the refit, its standing flag —
    while a complete re-measure replaces its query atomically."""
    sweep = _load_sweep()
    prior = sweep.fit(
        {
            "flagged_q": {"sf0.1": 1.0, "sf0.4": 2.0, "sf1.6": 9.0},
            "clean_q": {"sf0.1": 1.0, "sf0.4": 2.0, "sf1.6": 6.0},
        }
    )
    assert prior["flagged_q"]["flag"] is True
    # re-measure both; flagged_q's sf1.6 died, clean_q completed
    times, work, rejected = sweep.merge_only(
        prior,
        {
            "flagged_q": {"sf0.1": 0.9, "sf0.4": 1.9, "sf1.6": None},
            "clean_q": {"sf0.1": 1.1, "sf0.4": 2.1, "sf1.6": 6.3},
        },
        {},
    )
    assert rejected == ["flagged_q"]
    # prior times kept for the incomplete one → refit keeps the flag
    assert times["flagged_q"] == {"sf0.1": 1.0, "sf0.4": 2.0, "sf1.6": 9.0}
    assert times["clean_q"] == {"sf0.1": 1.1, "sf0.4": 2.1, "sf1.6": 6.3}
    refit = sweep.fit(times, work)
    assert refit["flagged_q"]["flag"] is True  # NOT silently cleared
    assert refit["clean_q"]["flag"] is False


def test_merge_only_never_measured_query_lands_in_unmeasured():
    """A query with NO prior artifact entry whose --only re-measure
    dies must not vanish from the artifact (a vanished query reads as
    'not part of the sweep' — a clean bill by omission): its
    incomplete times carry through so fit() records flag=None and it
    lands in 'unmeasured'."""
    sweep = _load_sweep()
    prior = sweep.fit({"old_q": {"sf0.1": 1.0, "sf0.4": 2.0, "sf1.6": 6.0}})
    times, _, rejected = sweep.merge_only(
        prior,
        {"brand_new_q": {"sf0.1": 0.5, "sf0.4": 1.1, "sf1.6": None}},
        {},
    )
    assert rejected == ["brand_new_q"]
    assert times["brand_new_q"] == {"sf0.1": 0.5, "sf0.4": 1.1, "sf1.6": None}
    refit = sweep.fit(times)
    assert refit["brand_new_q"]["flag"] is None
    assert sweep._flag_lists(refit)["unmeasured"] == ["brand_new_q"]


def test_merge_only_work_probes_merge_independently():
    """Work probes are deterministic counts over build_fp-gated data,
    so a complete probe merges even when its timing run was rejected;
    an incomplete probe never overwrites a prior complete one."""
    sweep = _load_sweep()
    prior = sweep.fit(
        {"q": {"sf0.1": 1.0, "sf0.4": 2.0, "sf1.6": 9.0}},
        work={"q": {"sf0.1": 10, "sf0.4": 40, "sf1.6": 160}},
    )
    times, work, rejected = sweep.merge_only(
        prior,
        {"q": {"sf0.1": 1.0, "sf0.4": 2.0, "sf1.6": None}},  # timing died
        {"q": {"sf0.1": 11, "sf0.4": 44, "sf1.6": 176}},  # probe completed
    )
    assert rejected == ["q"]
    assert times["q"]["sf1.6"] == 9.0  # prior timing kept
    assert work["q"] == {"sf0.1": 11, "sf0.4": 44, "sf1.6": 176}
    # incomplete probe → prior probe kept
    _, work2, _ = sweep.merge_only(
        prior,
        {},
        {"q": {"sf0.1": 11, "sf0.4": None, "sf1.6": 176}},
    )
    assert work2["q"] == {"sf0.1": 10, "sf0.4": 40, "sf1.6": 160}


def test_fit_zero_work_ratio_records_zero_not_missing():
    """ADVICE r8 (low): truthiness conflated a legitimate 0.0 ratio
    with missing. A zero head work ratio must record as 0.0."""
    sweep = _load_sweep()
    fitted = sweep.fit(
        {"q": {"sf0.1": 1.0, "sf0.4": 2.0, "sf1.6": 6.0}},
        work={"q": {"sf0.1": 100, "sf0.4": 0, "sf1.6": 0}},
    )
    assert fitted["q"]["leg_work_ratios_4x"]["head"] == 0.0
    # tail work ratio 0/0 is genuinely undefined → None; a probe-
    # registered query without a usable normalization is unmeasured
    # (ADVICE r9), never silently raw-adjudicated
    assert fitted["q"]["leg_work_ratios_4x"]["tail"] is None
    assert fitted["q"]["flag"] is None


def test_every_work_probe_runs_on_the_test_catalog(spark, sf_dir):
    """Each probe calls the engine's helpers directly, so a helper
    signature change breaks the sweep at run time; running every
    probe once here catches that at test time."""
    sweep = _load_sweep()
    for name, probe in sweep._work_measures().items():
        work = probe(spark, sf_dir)
        assert isinstance(work, int) and work > 0, (name, work)
