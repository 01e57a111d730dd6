"""Self-test of the benchmark, run from the root of a checkout:

    python3 perfbench/selftest.py

1. The output check rejects a corrupted assignments table: one row
   dropped, one row duplicated, one cluster split.
2. A tiny-corpus smoke of every workload, untraced and traced: each must
   report ``correct`` and every metric BENCHMARK.json names, with its unit.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import corpus  # noqa: E402

TINY = 600


def _perfect(truth: dict) -> pd.DataFrame:
    """Every family one cluster, keyed by its smallest conv_id."""
    fam = pd.Series(truth["family"], name="family").rename_axis("conv_id")
    pdf = fam.reset_index()
    pdf["cc_id"] = pdf.groupby("family")["conv_id"].transform("min")
    return pdf[["conv_id", "cc_id"]]


def _must_fail(pdf: pd.DataFrame, truth: dict, what: str) -> None:
    try:
        checks.score(pdf, truth)
    except checks.CheckFailed as e:
        print(f"ok: {what} rejected ({e})")
        return
    raise SystemExit(f"FAIL: {what} passed the output check")


def check_rejects_corruption() -> None:
    b = corpus.plan(TINY, seed=5, crowds=2)
    truth = {"family": b.family, "pairs": b.pairs}
    good = _perfect(truth)
    q = checks.score(good, truth)
    assert q["exact_dup_recall"] == q["near_dup_recall"] == q["cluster_purity"] == 1.0, q
    _must_fail(good.iloc[1:], truth, "one row dropped")
    _must_fail(pd.concat([good, good.iloc[:1]]), truth, "one row duplicated")
    pair = next(p for p in truth["pairs"] if p[2] == "exact")
    split = good.copy()
    split.loc[split["conv_id"] == pair[1], "cc_id"] = pair[1]
    _must_fail(split, truth, "an exact-duplicate pair split")
    if checks.digest(good) != checks.digest(good.iloc[::-1]):
        raise SystemExit("FAIL: digest depends on row order")


def smoke(spec: dict) -> None:
    root = HERE.parent
    for w in spec["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "3",
                   "--seconds", "1", "--trace", str(trace),
                   "--conversations", str(TINY)]
            p = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                               timeout=600)
            lines = p.stdout.strip().splitlines()
            if p.returncode or not lines:
                sys.stderr.write(p.stderr[-4000:])
                raise SystemExit(f"FAIL: {w['name']} trace={trace} "
                                 f"exited {p.returncode}")
            res = json.loads(lines[-1])
            if not res["correct"] or res["failed"]:
                raise SystemExit(f"FAIL: {w['name']} trace={trace}: {res}")
            got = res["metrics"]
            for m in spec[group]:
                if got.get(m["name"], {}).get("unit") != m["unit"]:
                    raise SystemExit(f"FAIL: {w['name']} trace={trace}: "
                                     f"{m['name']} [{m['unit']}] missing")
            print(f"ok: {w['name']} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} runs")


if __name__ == "__main__":
    check_rejects_corruption()
    smoke(json.loads((HERE.parent / "BENCHMARK.json").read_text()))
    print("selftest passed")
