"""Unit tests for the interleaved A/B protocol helpers
(``tools/ab_compare.py``). The scheduling and summary math is pure —
no SparkSession needed; the end-to-end path shares bench.py's
measured loop shape, which tests/test_bench_contract.py covers."""

import importlib.util
import pathlib
import sys

_TOOLS = pathlib.Path(__file__).resolve().parent.parent / "tools"


def _load():
    spec = importlib.util.spec_from_file_location(
        "ab_compare", _TOOLS / "ab_compare.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("ab_compare", mod)
    spec.loader.exec_module(mod)
    return mod


def test_ab_schedule_is_balanced_abba():
    ab = _load()
    assert ab.ab_schedule(1) == ["a", "b"]
    assert ab.ab_schedule(2) == ["a", "b", "b", "a"]
    assert ab.ab_schedule(3) == ["a", "b", "b", "a", "a", "b"]
    for n in (1, 2, 5, 8):
        order = ab.ab_schedule(n)
        assert order.count("a") == order.count("b") == n
        # each variant leads half the pairs (rounded) — the property
        # that cancels linear drift
        leads = [order[2 * i] for i in range(n)]
        assert abs(leads.count("a") - leads.count("b")) <= 1


def test_summarize_uses_per_pair_ratios():
    ab = _load()
    # linear drift: everything slows 2x halfway through — per-pair
    # ratios stay 1.25 throughout, while a median-of-medians would
    # see whatever the block ordering happened to be
    s = ab.summarize([1.0, 1.0, 2.0, 2.0], [1.25, 1.25, 2.5, 2.5])
    assert s["median_ratio_b_over_a"] == 1.25
    assert s["ratio_spread"] == [1.25, 1.25]
    assert s["median_a_sec"] == 1.5 and s["median_b_sec"] == 1.875

    # a zero timing can't crash the ratio math; it is skipped
    s = ab.summarize([0.0, 1.0], [1.0, 1.1])
    assert s["pair_ratios_b_over_a"][0] is None
    assert s["median_ratio_b_over_a"] == 1.1


def test_verdict_fields_floor_and_band():
    """Round-10 verdict #5 + ADVICE r11: the artifact must carry the
    minimum-discriminable-effect floor; a sub-second median INSIDE
    the conclusive cutoffs can never be adjudicated (the measured
    self-vs-self noise at sf0.01 — median 0.90, spread 0.80-1.05 —
    swamps <25% effects at that size), but a sub-second ratio BEYOND
    the cutoffs exceeds that measured noise (which was itself taken
    on sub-second timings) and must adjudicate rather than be
    discarded by the floor."""
    ab = _load()

    def fields(med_a, med_b, ratio):
        return ab.verdict_fields(
            {
                "median_a_sec": med_a,
                "median_b_sec": med_b,
                "median_ratio_b_over_a": ratio,
            }
        )

    # sub-second on either side → inconclusive, floor recorded
    f = fields(0.6, 0.5, 0.83)
    assert f["below_runtime_floor"] is True
    assert f["verdict"].startswith("inconclusive_below_floor")
    assert f["runtime_floor_sec"] == ab.RUNTIME_FLOOR_SEC
    assert f["self_noise_band"] == list(ab.SELF_NOISE_BAND)
    # a 17% win at 0.8s would have been a plausible-looking lie
    assert fields(0.8, 0.66, 0.83)["verdict"].startswith(
        "inconclusive_below_floor"
    )
    # ...but a 2-3x effect at 0.8s exceeds the ±25% measured noise
    # (ADVICE r11: the floor must not discard a real large win — the
    # cutoffs were derived from sub-second self-noise, so they are
    # valid adjudicators there); the floor flag stays stamped for
    # the skeptic's sf0.1 re-run
    f2 = fields(0.8, 0.3, 0.375)
    assert f2["verdict"] == "b_faster" and f2["below_runtime_floor"] is True
    f3 = fields(0.3, 0.8, 2.67)
    assert f3["verdict"] == "a_faster" and f3["below_runtime_floor"] is True

    # above the floor: the margin-widened cutoffs adjudicate
    assert fields(10.0, 6.0, 0.60)["verdict"] == "b_faster"
    assert fields(7.0, 10.0, 1.43)["verdict"] == "a_faster"
    assert fields(10.0, 9.5, 0.95)["verdict"] == "within_noise_band"
    # inside the cutoffs: not a conclusion even though outside the
    # observed self band's edges (5-pair sample under-samples BOTH
    # tails) — 0.78 at the lower edge is the exact no-op-change
    # ratio a cutoff AT the observed 0.80 minimum would have stamped
    # "b_faster"
    assert fields(10.0, 7.8, 0.78)["verdict"] == "within_noise_band"
    assert fields(10.0, 11.5, 1.15)["verdict"] == "within_noise_band"
    assert f["conclusive_cutoffs"] == list(ab.CONCLUSIVE_CUTOFFS)
    # the sf0.1 calibration band ships in the artifact too (r11
    # verdict #6): the cutoffs must stay conservative against it on
    # the lower (b_faster) edge — a no-op change's sf0.1 pairs-median
    # can never cross them
    assert f["self_noise_band_sf0_1"] == list(ab.SELF_NOISE_BAND_SF0_1)
    assert f["self_median_range_sf0_1"] == list(ab.SELF_MEDIAN_RANGE_SF0_1)
    assert ab.CONCLUSIVE_CUTOFFS[0] < ab.SELF_NOISE_BAND_SF0_1[0]
    # upper edge, mirrored (ADVICE r12): the a_faster cutoff must sit
    # beyond BOTH the pooled sf0.1 pair spread's upper edge and the
    # margin-widened upper edge of the observed idle self-MEDIAN
    # range (the median is the adjudicating statistic; the pair
    # extreme is the wrong object to margin-widen — see the
    # SELF_NOISE_BAND_SF0_1 provenance comment)
    assert ab.CONCLUSIVE_CUTOFFS[1] > ab.SELF_NOISE_BAND_SF0_1[1]
    assert (
        ab.CONCLUSIVE_CUTOFFS[1]
        > ab.SELF_MEDIAN_RANGE_SF0_1[1] * ab._EDGE_MARGIN
    )
    assert (
        ab.CONCLUSIVE_CUTOFFS[0]
        < ab.SELF_MEDIAN_RANGE_SF0_1[0] / ab._EDGE_MARGIN
    )
    # cutoffs carry the same multiplicative margin on both sides
    lo, hi = ab.CONCLUSIVE_CUTOFFS
    assert lo < ab.SELF_NOISE_BAND[0] and hi > ab.SELF_NOISE_BAND[1]
    assert abs(
        (ab.SELF_NOISE_BAND[0] / lo) - (hi / ab.SELF_NOISE_BAND[1])
    ) < 0.01

    # no usable pairs (all zero-time) → its own inconclusive marker
    assert fields(0.0, 0.0, None)["verdict"] == "inconclusive_no_usable_pairs"


def test_steal_helpers_shared_and_engine_free():
    """r15: both measurement tools stamp the same hypervisor-steal
    window from the engine-free constants module (the A/B tool must
    not import bench's registry chain — ADVICE r13). Pin the shared
    source and the record shape, including the live-read path."""
    import bench_constants as bc

    ab = _load()
    assert ab.read_cpu_steal is bc.read_cpu_steal
    assert ab.steal_record is bc.steal_record
    # record math: 200 denied / (200 + 800 granted) = 20% of demand,
    # 200 / 10000 total = 2% of capacity
    rec = bc.steal_record((100, 1000, 50000), (300, 1800, 60000))
    assert rec["steal_jiffies"] == 200 and rec["busy_jiffies"] == 800
    assert rec["steal_pct_of_capacity"] == 2.0
    assert rec["steal_pct_of_demand"] == 20.0
    # degenerate windows stay None, never a ZeroDivisionError
    z = bc.steal_record((1, 1, 1), (1, 1, 1))
    assert z["steal_pct_of_capacity"] is None
    assert z["steal_pct_of_demand"] is None
    assert bc.steal_record(None, (1, 1, 1)) is None
    # the live read returns a monotone triple on this Linux box
    live = bc.read_cpu_steal()
    assert live is not None and len(live) == 3
    assert all(v >= 0 for v in live) and live[2] >= live[1] >= 0


def test_box_load_threshold_shared_with_bench():
    """Review r13: 'idle' must mean the same thing in every artifact —
    ab_compare's box_load_ok adjudicates on bench.py's
    BOX_LOAD_THRESHOLD_1M (imported, not copied), so retuning the
    bench threshold retunes the A/B tool in the same edit."""
    import importlib.util

    ab = _load()
    spec = importlib.util.spec_from_file_location(
        "bench", _TOOLS.parent / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    assert ab.BOX_LOAD_THRESHOLD_1M == bench.BOX_LOAD_THRESHOLD_1M


def test_resolve_accepts_file_path_variant(tmp_path):
    ab = _load()
    f = tmp_path / "variant.py"
    f.write_text("def cand(spark, sf_dir):\n    return (spark, sf_dir)\n")
    fn = ab._resolve(f"{f}::cand")
    assert fn("S", "D") == ("S", "D")
