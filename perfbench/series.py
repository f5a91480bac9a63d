#!/usr/bin/env python3
"""Repeat the benchmark over seeds, and check two sets of runs agree.

    python3 perfbench/series.py run sql_mix 1-10 a.jsonl    # from the checkout root
    python3 perfbench/series.py agree a.jsonl b.jsonl

``run`` appends one line per run (workload, seed, result) and prints
each end-to-end metric's median and spread (inter-quartile distance as
a share of the median). ``agree`` applies BENCHMARK.json's bounds: per
workload and metric, each set's spread within the bound and the two
medians apart by no more than the bound, in either direction (a second
set much faster than the first disagrees too). It exits non-zero when
any pair disagrees.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed_range: str, out: str) -> None:
    with open(SPEC) as fh:
        spec = json.load(fh)
    for seed in seeds(seed_range):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True,
        )
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        detail = json.loads(lines[-2])["detail"]
        rec = {"workload": workload, "seed": seed, "result": result,
               "steal_pct": detail["host_steal_pct"], "wall_s": detail["wall_s"],
               "failures": detail["failures"], "pass_samples_s": detail["pass_samples_s"]}
        with open(out, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        print(seed, result["correct"], {k: v["value"] for k, v in result["metrics"].items()},
              f"steal {rec['steal_pct']:.1f}% wall {rec['wall_s']:.1f}s", flush=True)
    for name, vals in by_metric(load(out))[workload].items():
        print(f"{name}: median {statistics.median(vals):.6g} spread {stats.relative_spread(vals):.4f}")


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def by_metric(runs: list[dict]) -> dict[str, dict[str, list[float]]]:
    out: dict[str, dict[str, list[float]]] = {}
    for r in runs:
        for name, m in r["result"]["metrics"].items():
            out.setdefault(r["workload"], {}).setdefault(name, []).append(m["value"])
    return out


def agreement(end_to_end: list[dict], first: dict, second: dict) -> list[tuple]:
    """(workload, metric, spread_1, spread_2, worse_by, ok) rows, for
    the workloads both sets ran."""
    rows = []
    for wl in sorted(set(first) & set(second)):
        for m in end_to_end:
            a, b = first[wl][m["name"]], second[wl][m["name"]]
            sa, sb = stats.relative_spread(a), stats.relative_spread(b)
            worse = stats.worse_by(a, b, m["better"])
            ok = sa <= m["bound"] and sb <= m["bound"] and abs(worse) <= m["bound"]
            rows.append((wl, m["name"], sa, sb, worse, ok))
    return rows


def agree(path_a: str, path_b: str) -> None:
    with open(SPEC) as fh:
        spec = json.load(fh)
    rows = agreement(spec["end_to_end"], by_metric(load(path_a)), by_metric(load(path_b)))
    for wl, name, sa, sb, worse, ok in rows:
        print(f"{wl:14s} {name:16s} spread {sa:.4f} {sb:.4f} worse_by {worse:+.4f} {'ok' if ok else 'DISAGREE'}")
    if not all(r[-1] for r in rows):
        sys.exit(1)


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "run":
        run(*sys.argv[2:])
    elif len(sys.argv) == 4 and sys.argv[1] == "agree":
        agree(*sys.argv[2:])
    else:
        sys.exit(__doc__)
