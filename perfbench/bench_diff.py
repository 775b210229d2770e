#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/bench_diff.py PARENT_LEDGERS CHANGE_LEDGERS

Each argument is a ledger directory as run.py writes it
(`.bench_runs/ledger`, one sub-directory per workload). For every
workload and every end-to-end metric in BENCHMARK.json this prints each
side's median and quartiles, the pairs the change won / lost / tied
(pairs match runs of the same seed, else runs in order), and a verdict
by the rule in stats.verdict with the metric's bound. Then it lists the
per-operation deltas of the warm median wall time, largest first, to
show where a difference comes from, and the per-layer medians of traced
runs when both sides have them.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

import stats

ROOT = Path(__file__).resolve().parent.parent
LEDGER_KEYS = {"workload", "seed", "trace", "attempted", "failed", "end_to_end", "per_layer", "rows"}


def load_ledger(path):
    d = json.loads(Path(path).read_text())
    missing = LEDGER_KEYS - set(d)
    if missing:
        raise ValueError(f"{path}: not a ledger, missing {sorted(missing)}")
    return d


def load_ledgers(directory):
    """{workload: [ledger, ...]} in run order (file names start with the time)."""
    out = {}
    for f in sorted(Path(directory).glob("*/*.json")):
        d = load_ledger(f)
        out.setdefault(d["workload"], []).append(d)
    return out


def paired(parent, change, metric, section="end_to_end"):
    """Two equally long value lists; runs of a seed both sides ran are
    paired first, the rest in run order."""
    pv = [(r["seed"], r[section][metric]) for r in parent if metric in r[section]]
    cv = [(r["seed"], r[section][metric]) for r in change if metric in r[section]]
    seeds = [s for s, _ in pv if s in {t for t, _ in cv}]
    a, b = [], []
    pl, cl = list(pv), list(cv)
    for s in seeds:
        i = next(k for k, x in enumerate(pl) if x[0] == s)
        j = next((k for k, x in enumerate(cl) if x[0] == s), None)
        if j is None:
            continue
        a.append(pl.pop(i)[1])
        b.append(cl.pop(j)[1])
    n = min(len(pl), len(cl))
    a += [v for _, v in pl[:n]]
    b += [v for _, v in cl[:n]]
    return a, b


def op_medians(runs):
    """Median warm wall time per operation over untraced runs."""
    per = {}
    for r in runs:
        for row in r["rows"]:
            if row.get("pass", "").startswith("warm") and "wall_s" in row and not row.get("traced"):
                per.setdefault(row["op"], []).append(row["wall_s"])
    return {op: statistics.median(v) for op, v in per.items()}


def fmt(v):
    return f"{v:.4g}"


def compare(parent_dir, change_dir, bench_file, top=15, out=sys.stdout):
    spec = json.loads(Path(bench_file).read_text())
    parent, change = load_ledgers(parent_dir), load_ledgers(change_dir)
    verdicts = {}
    for wl in sorted(set(parent) & set(change)):
        p_runs = [r for r in parent[wl] if not r["trace"]]
        c_runs = [r for r in change[wl] if not r["trace"]]
        out.write(f"== {wl}: {len(p_runs)} parent runs, {len(c_runs)} change runs\n")
        pf = sum(r["failed"] for r in p_runs)
        cf = sum(r["failed"] for r in c_runs)
        out.write(f"   failed operations: parent {pf}, change {cf}\n")
        for m in spec["end_to_end"]:
            a, b = paired(p_runs, c_runs, m["name"])
            if not a:
                continue
            pq1, pmed, pq3 = stats.quartile_spread(a)
            cq1, cmed, cq3 = stats.quartile_spread(b)
            w, l, t = stats.pair_wins(a, b, m["better"])
            v = stats.verdict(a, b, m["better"], m["bound"])
            if cf > pf and v == "gain":
                v = "not a gain: more operations failed"
            verdicts[(wl, m["name"])] = v
            delta = (cmed - pmed) / pmed if pmed else float("nan")
            out.write(f"   {m['name']:<16} parent {fmt(pmed)} [{fmt(pq1)}, {fmt(pq3)}]  "
                      f"change {fmt(cmed)} [{fmt(cq1)}, {fmt(cq3)}] {m['unit']}  "
                      f"{delta:+.1%} of parent  pairs {w}/{l}/{t} (win/loss/tie)  "
                      f"bound {m['bound']:.0%}: {v}\n")
        pm, cm = op_medians(p_runs), op_medians(c_runs)
        deltas = sorted(((cm[k] - pm[k], k) for k in set(pm) & set(cm)), key=lambda x: -abs(x[0]))
        if deltas:
            out.write("   per-operation warm median wall time (change - parent):\n")
            for d, k in deltas[:top]:
                out.write(f"     {k:<28} {fmt(pm[k])} -> {fmt(cm[k])} s  ({d:+.3f} s)\n")
        pt = [r for r in parent[wl] if r["trace"]]
        ct = [r for r in change[wl] if r["trace"]]
        if pt and ct:
            out.write("   per-layer medians of traced runs (parent -> change):\n")
            for m in spec["per_layer"]:
                a = [r["per_layer"][m["name"]] for r in pt if m["name"] in r["per_layer"]]
                b = [r["per_layer"][m["name"]] for r in ct if m["name"] in r["per_layer"]]
                if a and b and (statistics.median(a) or statistics.median(b)):
                    out.write(f"     {m['name']:<34} {fmt(statistics.median(a))} -> "
                              f"{fmt(statistics.median(b))} {m['unit']}\n")
    return verdicts


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--benchmark", default=str(ROOT / "BENCHMARK.json"))
    p.add_argument("--top", type=int, default=15)
    a = p.parse_args(argv)
    verdicts = compare(a.parent, a.change, a.benchmark, a.top)
    return 1 if any(v == "regression" for v in verdicts.values()) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
