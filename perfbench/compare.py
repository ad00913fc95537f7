#!/usr/bin/env python3
"""Compare two sets of benchmark records (``perfbench/.work/results/*.json``).

    python3 perfbench/compare.py --a A1.json A2.json ... --b B1.json B2.json ...

Prints, per metric, each side's median and quartiles and the ratio of
the medians (B over A). Records of different workloads or trace modes
are refused, and so are records of one seed whose input fingerprints
differ: their numbers measure different work. Different seeds may have
different inputs (``jobs-files`` generates its corpus from the seed).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def load(paths: list[str]) -> list[dict]:
    records = []
    for path in paths:
        with open(path) as fh:
            records.append(json.load(fh))
    return records


def comparable(records: list[dict]) -> str | None:
    """Why ``records`` cannot be compared with each other, or None."""
    for key in ("workload", "trace"):
        seen = sorted({str(r[key]) for r in records})
        if len(seen) > 1:
            return f"records differ in {key}: {', '.join(seen)}"
    by_seed: dict[int, set[str]] = {}
    for r in records:
        by_seed.setdefault(r["seed"], set()).add(r["input_fingerprint"])
    for seed, fps in sorted(by_seed.items()):
        if len(fps) > 1:
            return f"records of seed {seed} differ in input_fingerprint: {', '.join(sorted(fps))}"
    return None


def compare(a: list[dict], b: list[dict]) -> dict[str, dict]:
    out = {}
    for name in a[0]["metrics"]:
        va = [r["metrics"][name] for r in a]
        vb = [r["metrics"][name] for r in b]
        ma, mb = stats.median(va), stats.median(vb)
        out[name] = {
            "a": stats.summary(va),
            "b": stats.summary(vb),
            "ratio": mb / ma if ma else None,
        }
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", nargs="+", required=True)
    ap.add_argument("--b", nargs="+", required=True)
    args = ap.parse_args(argv)
    a, b = load(args.a), load(args.b)
    why = comparable(a + b)
    if why is not None:
        print(f"refusing to compare: {why}", file=sys.stderr)
        return 2
    for name, c in compare(a, b).items():
        ratio = "n/a" if c["ratio"] is None else f"{c['ratio']:.4f}"
        print(
            f"{name}: a {c['a']['median']:.6g} [{c['a']['q1']:.6g}, {c['a']['q3']:.6g}] "
            f"n={c['a']['n']}  b {c['b']['median']:.6g} [{c['b']['q1']:.6g}, "
            f"{c['b']['q3']:.6g}] n={c['b']['n']}  b/a {ratio}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
