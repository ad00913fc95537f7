"""Artifact-freshness tripwire (r11 verdict #3).

``SCALE_SWEEP.json``'s ``build_fp`` claim is pinned ALWAYS-ON here:
replica construction changes rarely and a change must ship a sweep
refresh in the same commit, so a mismatch at any point is a real
violation.

The LOCAL_DIFF half is deliberately NOT an always-on assertion
against the repo: mid-round, every query edit legitimately drifts
from the newest committed differential until the round-end
regeneration (which the verify skill mandates runs LAST, after all
query edits) — an always-red test would poison every ``-x`` run and
the driver's own mid-round pytest. The ROUND-END gate is
``tools/freshness_check.py`` (verify-skill step); what pytest pins is
the checker's detection logic, so the gate itself can't rot: each
drift direction must be caught on synthetic artifacts.
"""

import importlib.util
import json
import pathlib
import sys

_REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO / "tools"))


def _load_freshness():
    spec = importlib.util.spec_from_file_location(
        "freshness_check", _REPO / "tools" / "freshness_check.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scale_sweep_build_fp_matches_head():
    """The committed sweep must describe replicas HEAD would build —
    round 5 changed the customer-name replication and only the
    stamped build_fp kept a later ``--only`` merge from silently
    mixing provenances; this extends that protection to the COMMIT
    boundary (edit replica construction => refresh the sweep in the
    same change)."""
    from scale_sweep import build_fingerprint

    committed = json.loads((_REPO / "SCALE_SWEEP.json").read_text())
    assert committed["build_fp"] == build_fingerprint(), (
        "SCALE_SWEEP.json was measured on replicas a fresh --build "
        "would no longer produce — re-run scale_sweep --build + --run "
        "in this change"
    )


def test_stale_entries_detects_each_drift_direction():
    """The round-end checker's core, on synthetic artifacts: edited
    builder/oracle (definition drift), edited cross-module helper
    (helper drift), query added after regeneration (missing), query
    deleted at HEAD (orphan) — and a matching artifact is clean."""
    fc = _load_freshness()
    current = {"q_ok": "aaaa", "q_edit": "bbbb", "q_helper": "cccc", "q_new": "dddd"}
    helper = {"q_ok": "h3:1111", "q_edit": "h3:2222", "q_helper": "h3:3333"}
    artifact = {
        "q_ok": {"fingerprint": "aaaa", "helper_fingerprint": "h3:1111"},
        "q_edit": {"fingerprint": "OLD", "helper_fingerprint": "h3:2222"},
        "q_helper": {"fingerprint": "cccc", "helper_fingerprint": "h3:OLD"},
        "q_gone": {"fingerprint": "eeee"},
    }
    stale = fc.stale_entries(artifact, current, helper)
    assert set(stale) == {"q_edit", "q_helper", "q_new", "q_gone"}
    assert "definition drift" in stale["q_edit"]
    assert "helper drift" in stale["q_helper"]
    assert "missing" in stale["q_new"]
    assert "deleted at HEAD" in stale["q_gone"]
    # ADVICE r12: an artifact that RECORDS a helper fingerprint while
    # HEAD reports none is not "judged on definition only" — that
    # shape means helper tracking was removed (per-query or a registry
    # regression dropping it wholesale) and must be flagged as stale
    removed = fc.stale_entries(
        {"q": {"fingerprint": "x", "helper_fingerprint": "h3:whatever"}},
        {"q": "x"},
        {},
    )
    assert set(removed) == {"q"}
    assert "helper tracking removed" in removed["q"]
    # ...but an entry where NEITHER side tracks helpers stays clean
    # (both legitimately None — nothing was removed)
    assert fc.stale_entries(
        {"q": {"fingerprint": "x", "helper_fingerprint": None}},
        {"q": "x"},
        {},
    ) == {}
    # clean artifact: empty
    clean = {
        n: {"fingerprint": f, "helper_fingerprint": helper.get(n)}
        for n, f in current.items()
    }
    assert fc.stale_entries(clean, current, helper) == {}


def test_ab_gate_findings_each_direction():
    """The mandatory-ABBA gate (r15 verdict #2), on synthetic
    artifacts: the anchor band (~22% wide) can absorb a genuine ~15%
    headline regression, so a round whose diff moves a headline
    query's fingerprint (vs the PREVIOUS round's differential) must
    commit an AB_r{N}.json interleaved pair-ratio artifact covering
    it. Directions pinned: untouched round passes with no artifact;
    touched + no artifact fails; touched + artifact missing that query
    fails; record without the decision fields fails; conclusive
    'a_faster' (old code faster = regression) fails; within-noise /
    b_faster verdicts pass; a NEW headline query (absent from the
    previous differential) is exempt — no baseline side exists."""
    fc = _load_freshness()
    headline = ["q_hot", "q_cold", "q_new"]
    prev = {
        "q_hot": {"fingerprint": "aaaa", "helper_fingerprint": "h3:1"},
        "q_cold": {"fingerprint": "bbbb", "helper_fingerprint": "h3:2"},
        # q_new absent: added this round
    }
    cur = {"q_hot": "aaaa", "q_cold": "bbbb", "q_new": "cccc"}
    cur_h = {"q_hot": "h3:1", "q_cold": "h3:2", "q_new": "h3:3"}

    # nothing touched: gate passes with no artifact at all
    assert fc.ab_gate_findings(prev, cur, cur_h, headline, None) == []

    # definition drift on a headline query, no AB artifact committed
    edited = dict(cur, q_hot="EDITED")
    out = fc.ab_gate_findings(prev, edited, cur_h, headline, None)
    assert len(out) == 1 and "q_hot" in out[0] and "no AB_r" in out[0]

    # helper drift counts as touched too (same signal the
    # changed-since-green window band uses)
    hdrift = dict(cur_h, q_cold="h3:EDITED")
    out = fc.ab_gate_findings(prev, cur, hdrift, headline, None)
    assert len(out) == 1 and "q_cold" in out[0]

    # artifact present but missing the touched query / decision fields
    out = fc.ab_gate_findings(prev, edited, cur_h, headline, {})
    assert len(out) == 1 and "no ab_compare record" in out[0]
    out = fc.ab_gate_findings(
        prev, edited, cur_h, headline, {"q_hot": {"verdict": "b_faster"}}
    )
    assert len(out) == 1 and "no ab_compare record" in out[0]

    # conclusive regression: a_faster fails the gate
    out = fc.ab_gate_findings(
        prev, edited, cur_h, headline,
        {"q_hot": {"median_ratio_b_over_a": 1.41, "verdict": "a_faster"}},
    )
    assert len(out) == 1 and "a_faster" in out[0] and "1.41" in out[0]

    # acceptable verdicts pass
    for verdict in ("b_faster", "within_noise_band",
                    "inconclusive_below_floor: ..."):
        assert fc.ab_gate_findings(
            prev, edited, cur_h, headline,
            {"q_hot": {"median_ratio_b_over_a": 0.98, "verdict": verdict}},
        ) == []

    # a brand-new headline query is exempt even though its fingerprint
    # has no previous-round counterpart
    assert fc.ab_gate_findings(prev, cur, cur_h, ["q_new"], None) == []


def test_ab_gate_headline_membership_changes_require_record_or_waiver():
    """ADVICE r16 (low): the new-headline-query exemption let a
    rename (or a HEADLINE-membership swap) bypass the mandatory-ABBA
    gate entirely — the underlying anchor plan changed with no AB
    evidence. Since r17 the differential records membership
    (``headline: true``); when the PREVIOUS artifact carries it,
    added names need an AB record against the nearest predecessor or
    an explicit __waivers__ entry, removed names need a waiver, and a
    pre-r17 (marker-less) previous artifact keeps the old exemption
    for the one transition round."""
    fc = _load_freshness()
    marked_prev = {
        "q_hot": {"fingerprint": "aaaa", "helper_fingerprint": "h3:1",
                  "headline": True},
        "q_cold": {"fingerprint": "bbbb", "helper_fingerprint": "h3:2"},
    }
    cur = {"q_hot": "aaaa", "q_cold": "bbbb", "q_renamed": "cccc"}
    cur_h = {"q_hot": "h3:1", "q_cold": "h3:2", "q_renamed": "h3:3"}

    # unchanged membership, unchanged fingerprints: clean pass
    assert fc.ab_gate_findings(marked_prev, cur, cur_h, ["q_hot"],
                               None) == []

    # rename: q_hot -> q_renamed (old removed + new added). With no
    # artifact at all the gate names both directions in one finding.
    out = fc.ab_gate_findings(
        marked_prev, cur, cur_h, ["q_renamed"], None)
    assert len(out) == 1 and "q_renamed" in out[0]

    # an AB record for the added name satisfies its half; the removed
    # name still needs a waiver
    ab = {"q_renamed": {"median_ratio_b_over_a": 1.0,
                        "verdict": "within_noise_band"}}
    out = fc.ab_gate_findings(marked_prev, cur, cur_h, ["q_renamed"], ab)
    assert len(out) == 1 and "q_hot" in out[0] and "removed" in out[0]

    # waiver for the removed name closes the gate
    ab_waived = dict(ab, __waivers__={
        "q_hot": "renamed to q_renamed; AB record covers the new name"})
    assert fc.ab_gate_findings(
        marked_prev, cur, cur_h, ["q_renamed"], ab_waived) == []

    # promoting an EXISTING query into HEADLINE (present in the prev
    # differential, not marked) also needs a record or waiver
    out = fc.ab_gate_findings(
        marked_prev, cur, cur_h, ["q_hot", "q_cold"], None)
    assert len(out) == 1 and "q_cold" in out[0]
    assert fc.ab_gate_findings(
        marked_prev, cur, cur_h, ["q_hot", "q_cold"],
        {"__waivers__": {"q_cold": "promoted; anchor re-baselined"}},
    ) == []

    # a genuinely-new query with a recorded waiver passes too
    assert fc.ab_gate_findings(
        marked_prev, cur, cur_h, ["q_renamed"],
        {"__waivers__": {
            "q_renamed": "new query, no predecessor exists",
            "q_hot": "renamed"}},
    ) == []

    # marker-less previous artifact (pre-r17): old exemption holds
    unmarked_prev = {
        k: {kk: vv for kk, vv in v.items() if kk != "headline"}
        for k, v in marked_prev.items()
    }
    assert fc.ab_gate_findings(
        unmarked_prev, cur, cur_h, ["q_renamed"], None) == []


def test_ab_gate_headline_list_is_engine_free_importable():
    """The gate reads the headline set from bench_constants (the
    engine-free measurement-constants module) so the tripwire never
    pays — or inherits a failure from — the full registry import just
    to know which queries are anchor-feeding; bench.py must re-export
    the SAME object (single source of truth)."""
    import bench
    from bench_constants import EXTENDED, HEADLINE

    assert bench.HEADLINE is HEADLINE
    assert bench.EXTENDED is EXTENDED
    assert len(HEADLINE) == 18 and len(EXTENDED) == 4


def test_newest_local_diff_sorts_numerically(tmp_path):
    """r9 vs r10: lexicographic sort would pick LOCAL_DIFF_r9 over
    LOCAL_DIFF_r10 — the checker must compare round numbers."""
    fc = _load_freshness()
    for n in (4, 9, 10, 11):
        (tmp_path / f"LOCAL_DIFF_r{n:02d}.json").write_text("{}")
    (tmp_path / "LOCAL_DIFF_r9.json").write_text("{}")  # unpadded alias
    newest = fc.newest_local_diff(str(tmp_path))
    assert newest.endswith("LOCAL_DIFF_r11.json")
    empty = tmp_path / "empty"
    empty.mkdir()
    assert fc.newest_local_diff(str(empty)) is None


def test_scaling_table_lookup_failures_are_self_explanatory():
    """ADVICE r12: a reworded header, a missing '|---' separator, or
    a table running to EOF used to surface as a bare 'substring not
    found' from the pinning pytest — each direction must now raise a
    message naming what was expected."""
    import importlib.util

    import pytest

    spec = importlib.util.spec_from_file_location(
        "scaling_table", _REPO / "tools" / "scaling_table.py"
    )
    st = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(st)

    with pytest.raises(ValueError, match="table header not found"):
        st.committed_table_rows("# SCALING\n\nno table here\n")
    with pytest.raises(ValueError, match="not a '\\|---' separator"):
        st.committed_table_rows(st.HEADER + "\nrow without separator\n\n")
    # a LATER markdown table's separator must not be silently adopted
    # when the current-state table's own separator line is missing
    with pytest.raises(ValueError, match="not a '\\|---' separator"):
        st.committed_table_rows(
            st.HEADER + "\nprose\n\n| other | table |\n|---|---|\n| x |\n\n"
        )
    with pytest.raises(ValueError, match="not terminated by a blank line"):
        st.committed_table_rows(st.HEADER + "\n|---|\n| `q` | 1 |")
    # ...including EOF landing exactly at the separator's end (the
    # review-found shape where the old two-lookups-one-try block
    # raised the misleading separator-missing message)
    with pytest.raises(ValueError, match="not terminated by a blank line"):
        st.committed_table_rows(st.HEADER + "\n|---|")
    # the happy path still parses the generator's own shape
    doc = st.HEADER + "\n|---|\n| `q` | 1 | §X |\n\nrest\n"
    assert st.committed_table_rows(doc) == ["| `q` | 1 | §X |"]


def test_scaling_current_state_table_matches_committed_artifact():
    """Doc/artifact drift, mechanized (ADVICE r11's finding class —
    a SCALING.md bullet kept superseded values a reader cross-checked
    against the artifact): the current-state table's rows must be
    exactly what tools/scaling_table.py generates from the committed
    SCALE_SWEEP.json. A sweep refresh that forgets the table update
    now fails here instead of waiting for a reviewer."""
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location(
        "scaling_table", _REPO / "tools" / "scaling_table.py"
    )
    st = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(st)

    artifact = json.loads((_REPO / "SCALE_SWEEP.json").read_text())
    committed = st.committed_table_rows((_REPO / "SCALING.md").read_text())
    label = st.round_label_of(committed)
    assert label, "committed table rows carry no '§... |' label"
    assert committed == st.rows(artifact, label), (
        "SCALING.md's current-state table no longer matches "
        "SCALE_SWEEP.json — regenerate it with tools/scaling_table.py"
    )
