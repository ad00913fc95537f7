import pandas as pd

import check


def test_value_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"]})
    b = pd.DataFrame({"v": ["z", "x", "y"], "k": [3, 1, 2]})
    assert check.value_digest(a) == check.value_digest(b)
    c = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "w"]})
    assert check.value_digest(a) != check.value_digest(c)


def test_query_failure_reasons():
    want = {"rows": 2, "cols": ["a", "b"], "digest": "d1"}
    assert check.query_failure(dict(want), want, ()) is None
    assert "vacuous" in check.query_failure({**want, "rows": 0}, {**want, "rows": 0}, ())
    assert check.query_failure({**want, "rows": 0}, {**want, "rows": 0}, ("may_be_empty",)) is None
    assert "rowcount" in check.query_failure({**want, "rows": 3}, want, ())
    assert "cols" in check.query_failure({**want, "cols": ["a"]}, want, ())
    assert "digest" in check.query_failure({**want, "digest": "d2"}, want, ())


def test_app_models_on_a_small_corpus(tmp_path):
    t1 = tmp_path / "t1.txt"
    t2 = tmp_path / "t2.txt"
    t1.write_text("the cat sat\nthe dog\n")
    t2.write_text("a cat\n")
    assert check.expected_wc([str(t1), str(t2)]) == (
        "1\ta\n1\tdog\n1\tsat\n2\tcat\n2\tthe\n"
    )
    assert check.expected_grep([str(t2), str(t1)], "cat") == (
        "t1.txt:\n\t1: the cat sat\nt2.txt:\n\t1: a cat\n"
    )
    e = tmp_path / "e.txt"
    e.write_text("1\t2\n2\t3\n2\t2\n")
    assert check.expected_vertex_degree([str(e)]) == "1\t1\n2\t4\n3\t1\n"
