"""Compare two sets of benchmark runs (e.g. a parent commit and a change).

    python3 perfbench/compare.py BEFORE_DIR AFTER_DIR

Each directory holds the captured standard output of ``run.py`` runs,
one file per run (any name). For every workload and end-to-end metric
it prints each side's median and quartiles and how many seed-matched
pairs each side won (pairs are matched by seed; unmatched runs are
paired in file order). Beside them it prints the per-layer medians and
their change, from the traced runs and from the counters every run
carries, so a saving can be traced to the layer it came from. It also
says whether the job/task counts and peak execution memory repeated
exactly within each side, and the traced runs' CPU overhead against the
untraced ones.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402

EXACT = ("sched.jobs_per_op", "sched.tasks_per_op", "peak_exec_mem_mb")


def load(path: str) -> list[dict]:
    """Runs in ``path``: each is the diagnostics line plus the result."""
    runs = []
    files = sorted(os.listdir(path)) if os.path.isdir(path) else [path]
    for f in files:
        p = os.path.join(path, f) if os.path.isdir(path) else f
        with open(p) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.startswith("{")]
        if len(lines) < 2:
            continue
        diag, result = json.loads(lines[-2]), json.loads(lines[-1])
        if "workload" not in diag or "metrics" not in result:
            continue
        runs.append({"diag": diag, "result": result, "file": p})
    return runs


def values(runs: list[dict], workload: str, trace: int, metric: str) -> list[tuple]:
    """(seed, value) of ``metric`` over the matching runs; a metric is
    looked up in the printed metrics, then in the diagnostics."""
    out = []
    for r in runs:
        d = r["diag"]
        if d["workload"] != workload or d["trace"] != trace:
            continue
        m = r["result"]["metrics"]
        if metric in m:
            out.append((d["seed"], m[metric]["value"]))
        elif metric in d.get("e2e", {}):
            out.append((d["seed"], d["e2e"][metric]))
        elif metric in d.get("layers", {}):
            out.append((d["seed"], d["layers"][metric]))
    return out


def pairs_won(a: list[tuple], b: list[tuple], lower_better: bool) -> tuple[int, int]:
    bm = dict(b)
    if all(s in bm for s, _ in a):
        pairs = [(v, bm[s]) for s, v in a]
    else:
        pairs = list(zip([v for _, v in a], [v for _, v in b]))
    wa = sum(1 for x, y in pairs if (x < y) == lower_better and x != y)
    wb = sum(1 for x, y in pairs if (y < x) == lower_better and x != y)
    return wa, wb


def fmt(v: float) -> str:
    return f"{v:.4g}"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__)
        return 2
    a_runs, b_runs = load(argv[0]), load(argv[1])
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    for w in workloads:
        if not any(r["diag"]["workload"] == w for r in a_runs + b_runs):
            continue
        print(f"== {w}")
        print(f"  {'metric':34} {'A q1/med/q3':>28} {'B q1/med/q3':>28} {'change':>8} {'won A:B':>8}")
        for m in spec["end_to_end"]:
            a = values(a_runs, w, 0, m["name"])
            b = values(b_runs, w, 0, m["name"])
            if not a or not b:
                continue
            qa, qb = stats.quartiles([v for _, v in a]), stats.quartiles([v for _, v in b])
            wa, wb = pairs_won(a, b, m["better"] == "lower")
            ch = (qb[1] - qa[1]) / qa[1] * 100 if qa[1] else 0.0
            print(
                f"  {m['name']:34} {'/'.join(fmt(x) for x in qa):>28} "
                f"{'/'.join(fmt(x) for x in qb):>28} {ch:+7.1f}% {wa:>3}:{wb:<3}"
                f"  (bound {m['bound']:.0%}, spread A {stats.spread([v for _, v in a]):.1%}"
                f" B {stats.spread([v for _, v in b]):.1%}, n {len(a)}/{len(b)})"
            )
        for name in EXACT:
            for side, runs in (("A", a_runs), ("B", b_runs)):
                vs = {v for _, v in values(runs, w, 0, name) + values(runs, w, 1, name)}
                if len(vs) > 1:
                    print(f"  ! {name} differs between runs of side {side}: {sorted(vs)}")
        for side, runs in (("A", a_runs), ("B", b_runs)):
            t = [v for _, v in values(runs, w, 1, "trace.cpu_ms_per_op")]
            u = [v for _, v in values(runs, w, 0, "cpu_ms_per_op")]
            if t and u:
                mt, mu = stats.quartiles(t)[1], stats.quartiles(u)[1]
                print(f"  tracing overhead {side}: cpu/op {fmt(mt)} traced vs {fmt(mu)} untraced ({(mt - mu) / mu:+.1%})")
        print(f"  {'per-layer':44} {'A median':>12} {'B median':>12} {'change':>8}")
        for m in spec["per_layer"]:
            a = [v for _, v in values(a_runs, w, 1, m["name"]) or values(a_runs, w, 0, m["name"])]
            b = [v for _, v in values(b_runs, w, 1, m["name"]) or values(b_runs, w, 0, m["name"])]
            if not a or not b:
                continue
            ma, mb = stats.quartiles(a)[1], stats.quartiles(b)[1]
            if ma == 0 and mb == 0:
                continue
            ch = f"{(mb - ma) / ma * 100:+7.1f}%" if ma else "    new"
            print(f"  {m['name']:44} {fmt(ma):>12} {fmt(mb):>12} {ch:>8}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
