"""The names ``perfbench/`` imports from the repo root.

The benchmark (``perfbench/run.py``, ``perfbench/check.py``) reaches
into root-level modules for a few helpers; ``perfbench/tests`` does not
cover them, so a cleanup of ``bench.py``, ``bench_constants.py`` or
``tools/`` could break the benchmark while every other test stays
green. Each name is imported and called here the way the benchmark
calls it."""

import datetime
import decimal

import numpy as np
import pandas as pd


def test_bench_cpu_work_probe():
    from bench import cpu_work_probe

    sec = cpu_work_probe(reps=1, mb=1)
    assert isinstance(sec, float) and 0 < sec < 60


def test_bench_constants_steal_helpers():
    from bench_constants import read_cpu_steal, steal_record

    rec = steal_record(read_cpu_steal(), read_cpu_steal())
    assert rec is not None
    assert rec["steal_jiffies"] >= 0 and rec["total_jiffies"] >= 0
    assert set(rec) >= {"steal_pct_of_capacity", "steal_pct_of_demand"}


def test_bench_constants_headline_is_registered():
    from bench_constants import HEADLINE
    from map_reduce_showcase_spark.plans import REGISTRY
    from map_reduce_showcase_spark.plans.registry import _load_all

    _load_all()
    assert HEADLINE
    assert [n for n in HEADLINE if n not in REGISTRY] == []


def test_drive_contract_tables_and_coerce():
    from tools.drive_contract import TABLES, coerce

    assert "lineitem" in TABLES and "documents" in TABLES
    assert coerce(np.int64(3)) == 3 and type(coerce(np.int64(3))) is int
    assert coerce(decimal.Decimal("1.25")) == 1.25
    ts = coerce(pd.Timestamp("2024-01-02 03:04:05", tz="UTC"))
    assert ts == datetime.datetime(2024, 1, 2, 3, 4, 5) and ts.tzinfo is None
    assert coerce("x") == "x"
