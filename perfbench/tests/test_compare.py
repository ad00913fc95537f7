import json

import compare


def _rec(fp, value, workload="core-sf0.1", seed=1):
    return {
        "workload": workload,
        "trace": 0,
        "seed": seed,
        "input_fingerprint": fp,
        "metrics": {"pass_s": value},
    }


def test_records_with_different_inputs_are_refused():
    assert compare.comparable([_rec("a", 1.0), _rec("a", 2.0)]) is None
    assert "input_fingerprint" in compare.comparable([_rec("a", 1.0), _rec("b", 1.0)])
    assert "workload" in compare.comparable([_rec("a", 1.0), _rec("a", 1.0, "jobs-files")])


def test_seeds_with_their_own_inputs_compare_when_each_seed_agrees():
    a = [_rec("x1", 1.0, "jobs-files", 1), _rec("x2", 1.1, "jobs-files", 2)]
    b = [_rec("x1", 1.2, "jobs-files", 1), _rec("x2", 1.3, "jobs-files", 2)]
    assert compare.comparable(a + b) is None
    b[1]["input_fingerprint"] = "y2"
    assert "seed 2" in compare.comparable(a + b)


def test_main_refuses_before_comparing(tmp_path, capsys):
    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(json.dumps(_rec("a", 1.0)))
    pb.write_text(json.dumps(_rec("b", 1.0)))
    assert compare.main(["--a", str(pa), "--b", str(pb)]) == 2
    assert capsys.readouterr().out == ""


def test_compare_reports_medians_and_ratio():
    out = compare.compare([_rec("a", 1.0), _rec("a", 3.0), _rec("a", 2.0)], [_rec("a", 3.0)])
    assert out["pass_s"]["a"]["median"] == 2.0
    assert out["pass_s"]["ratio"] == 1.5
