#!/usr/bin/env python3
"""graft's benchmark: one workload per run, answers checked, metrics printed.

    python3 perfbench/run.py --workload surface-sf0.1 --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run compiles the program and
the harness (perfbench/build.py). The input is the sf0.1 test data in
perfbench/data/sf0.1, the same for every seed, or its ×10 made once by
`graft.tools.GenScale` and cached under .bench_data; --seed only orders
the queries and cuts the document drops. The harness JVM runs at
local[<cores>] and writes one ledger row per operation; this script
checks every benched query against `SparkEntry.oracleSql` in DuckDB,
writes the run's ledger under .bench_runs/ledger, prints every metric
with its unit, and ends with one JSON line: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import build
import oracle
import stats

ROOT = Path(__file__).resolve().parent.parent
DATA = ROOT / ".bench_data"
SF01 = ROOT / "perfbench" / "data" / "sf0.1"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
RUNS = ROOT / ".bench_runs"
DEADLINE_S = 160

# A systematic sample of the 210 default graft.Bench keys: every 42nd
# key in warm-time order (ranks 21, 63, ..., 189; 4 cores, sf0.1, seed
# commit), so the set spans the per-query time distribution. A key whose
# DuckDB oracle takes over 2 s at sf0.1 (34 keys) gives way to the next
# rank, so the answer check fits in a run.
SURFACE = ["q_split_train_val", "q_vocab_coverage", "q_quantiles", "q_state_jump", "q1_agg"]
# Queries whose sf1 time is per-row work: a text-hash kernel with a
# shuffle, the JSON kernel over every event, a lineitem scan and join.
HEAVY = ["q_chunk_dedup", "q_json_extract", "q_small_qty_rev"]

# heavy-sf1 runs like the others but is left out of BENCHMARK.json: a
# third workload's 22 runs do not fit the time one benchmark pass may take.
WORKLOADS = {
    "surface-sf0.1": {"kind": "batch", "data": "sf0.1", "queries": SURFACE, "kernels": True,
                      "tables": TABLES},
    "heavy-sf1": {"kind": "batch", "data": "sf1", "queries": HEAVY, "tables": TABLES},
    "stream-jobs": {"kind": "stream", "data": "sf0.1", "drops": 24, "ingest_period_s": 3.0,
                    "orders": 1000, "rows_per_batch": 600, "tables": ["documents"]},
}

STREAM_PHASES = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
                 "wal_commit_ms": "walCommit", "query_planning_ms": "queryPlanning",
                 "latest_offset_ms": "latestOffset"}
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
LAYER_NAMES = [m["name"] for m in SPEC["per_layer"]]
FUNCTIONS = [n.split(".")[1] for n in LAYER_NAMES if n.startswith("functions.") and n.endswith(".rows_per_s")]
SPAN_KINDS = [n[len("self."):-len("_s")] for n in LAYER_NAMES if n.startswith("self.")]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def cores():
    return len(os.sched_getaffinity(0))


def dataset(name, classes, deadline):
    """The input directory: the sf0.1 test data as committed, or sf1,
    made from it once by `graft.tools.GenScale` ×10 and kept."""
    if name == "sf0.1":
        return SF01
    path = DATA / name
    if (path / "_COMPLETE").exists():
        return path
    shutil.rmtree(path, ignore_errors=True)
    work = DATA / f"{name}.genscale"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = jvm_command(classes, work, "graft.tools.GenScale", [str(SF01), str(work / "out"), "10"])
    env = dict(os.environ, SPARK_GRAFT_MASTER=f"local[{cores()}]")
    code = run_jvm(cmd, work, deadline - time.monotonic(), env)
    if code != 0:
        sys.stderr.write((work / "jvm.out").read_text(errors="replace")[-3000:])
        raise SystemExit(f"GenScale exited with {code}")
    (work / "out" / "_COMPLETE").write_text("graft.tools.GenScale sf0.1 x10\n")
    (work / "out").rename(path)
    shutil.rmtree(work, ignore_errors=True)
    return path


def cut_drops(seed, data_dir, out_dir, n):
    """Cut `documents` into n doc_id-ordered drops; boundaries jitter
    around equal shares, drawn from the seed."""
    import numpy as np
    import pyarrow.parquet as pq
    docs = pq.read_table(data_dir / "documents.parquet").sort_by("doc_id")
    rng = np.random.default_rng(seed + 7919)
    size = docs.num_rows / n
    cuts = [0] + [int(round((i + rng.uniform(-0.3, 0.3)) * size)) for i in range(1, n)] + [docs.num_rows]
    out_dir.mkdir(parents=True)
    for i in range(n):
        pq.write_table(docs.slice(cuts[i], cuts[i + 1] - cuts[i]), out_dir / f"drop-{i:03d}.parquet")
    return [cuts[i + 1] - cuts[i] for i in range(n)]


def jvm_command(classes, run_dir, main, argv):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = f"{classes}:{build.spark_jars()}/*"
    return (["java"] + opens + ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main] + argv)


def harness_args(args):
    return [x for k, v in args.items() for x in (f"--{k}", str(v))]


def run_jvm(cmd, run_dir, timeout, env=None):
    """Run a JVM; return its exit code. The JVM is killed at the
    deadline or if this script is interrupted."""
    with open(run_dir / "jvm.out", "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir,
                                start_new_session=True, env=env)
    deadline = time.monotonic() + timeout
    try:
        while time.monotonic() < deadline:
            if proc.poll() is not None:
                return proc.returncode
            time.sleep(0.05)
        return -9
    finally:
        if proc.returncode is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def ops_failed(rows, oracle_ok, checks):
    """Mark each ledger row failed or not; return (attempted, failed)."""
    attempted = failed = 0
    for r in rows:
        if r["kind"] == "drop":
            continue
        bad = not r.get("ok", False)
        if r["kind"] == "query":
            bad = bad or not oracle_ok.get(r["op"], False)
            if r["pass"] != "cold":
                bad = bad or not r.get("same_as_cold", False)
        elif r["kind"] == "ingest_run":
            bad = bad or not checks.get("ingest_ok", False)
        elif r["kind"] == "dashboard_drain":
            bad = bad or not checks.get("dashboard_ok", False)
        r["failed"] = bad
        attempted += 1
        failed += bad
    return attempted, failed


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(kind, rows, result, extra_out):
    """End-to-end metrics (gated) plus the workload's extra report lines."""
    m = {"setup_s": med(result["setup_s"]), "peak_rss_mb": result["peak_rss_mb"]}
    timed = [r for r in rows if r["kind"] != "drop"]
    m["cold_total_s"] = sum(r["wall_s"] for r in timed if r["pass"] == "cold")
    if kind == "batch":
        warm = [r for r in timed if r["pass"].startswith("warm") and not r["traced"]]
        passes = {}
        for r in warm:
            passes.setdefault(r["pass"], []).append(r["wall_s"])
        m["warm_total_s"] = med([sum(v) for v in passes.values()])
        lat = [r["wall_s"] for r in warm]
        m["op_p50_s"] = med(lat)
        extra_out["query_p50_s"] = (m["op_p50_s"], "s")
        tail = stats.tail_percentile(lat)
        extra_out["query_tail"] = tail_line(tail, len(lat))
        extra_out["warm_passes"] = (len(passes), "count")
    else:
        warm = [r for r in timed if r["pass"] == "warm"]
        m["warm_total_s"] = sum(r["wall_s"] for r in warm)
        drops = [r for r in rows if r["kind"] == "drop"]
        lat = [r["latency_s"] for r in drops]
        m["op_p50_s"] = med(lat)
        extra_out["drop_latency_p50_s"] = (m["op_p50_s"], "s")
        extra_out["drop_latency_tail"] = tail_line(stats.tail_percentile(lat), len(lat))
        extra_out["generator_lag_max_s"] = (max(r["generator_lag_s"] for r in drops), "s")
        busy = sum(r["wall_s"] for r in warm if r["kind"] == "ingest_run")
        # drop 0 went in with the cold run
        extra_out["ingest_docs_per_s"] = (sum(result["drop_sizes"][1:]) / busy, "1/s")
        drain = next(r for r in timed if r["kind"] == "dashboard_drain")
        extra_out["dashboard_orders_per_s"] = (result["extra"]["orders"] / drain["wall_s"], "1/s")
        batches = [p["durations"].get("triggerExecution", 0.0) / 1e3
                   for p in result["extra"]["progress"] if p["op"] == "cold/dashboard-drain"]
        extra_out["dashboard_batch_p50_s"] = (med(batches), "s")
        extra_out["dashboard_batches"] = (len(batches), "count")
    return m


def tail_line(tail, n):
    if tail is None:
        return (f"none with >= {stats.MIN_BEYOND} samples beyond it (n={n})", "")
    p, v = tail
    return (f"p{p}={v:.4f} (n={n})", "s")


def per_layer(kind, rows, result):
    """Per-layer metrics of a traced run; layers a workload never reaches read 0."""
    ex = result["extra"]
    m = {}
    cold = [r for r in rows if r["pass"] == "cold" and r["kind"] == "query"]
    traced_warm = [r for r in rows if r["pass"] != "cold" and r["traced"] and r["kind"] != "drop"]
    if kind == "batch":
        first = min((r["pass"] for r in traced_warm), default=None, key=lambda p: int(p[4:]))
        traced_warm = [r for r in traced_warm if r["pass"] == first]

    def total(rs, key):
        return float(sum(r.get(key) or 0.0 for r in rs))

    m["SparkEntry.plan_s.cold"] = total(cold, "plan_s")
    m["SparkEntry.plan_s.warm"] = total(traced_warm, "plan_s")
    m["Materialize.builds"] = total(cold, "layer.materialize_builds")
    m["Materialize.bytes_written"] = total(cold, "layer.materialize_bytes")
    m["Materialize.builds.warm"] = total(traced_warm, "layer.materialize_builds")
    for ph in ["analysis", "optimization", "planning"]:
        m[f"catalyst.{ph}_ms"] = total(traced_warm, f"layer.catalyst_{ph}_ms")
    m["catalyst.plan_nodes"] = total(traced_warm, "layer.plan_nodes")
    m["catalyst.exchanges"] = total(traced_warm, "layer.exchanges")
    for k in ["jobs", "stages", "tasks", "driver_gap_s", "task_cpu_s", "task_run_s"]:
        m[f"exec.{k}"] = total(traced_warm, f"layer.{k}")
    # each operation's busy share, weighted by the window it was taken over
    window = "action_s" if kind == "batch" else "wall_s"
    busy = sum((r.get("layer.core_busy_frac") or 0.0) * r[window] for r in traced_warm)
    span = total(traced_warm, window)
    m["exec.core_busy_frac"] = busy / span if span else 0.0
    m["scan.input_bytes"] = total(traced_warm, "layer.input_bytes")
    m["scan.input_rows"] = total(traced_warm, "layer.input_rows")
    for k in ["write_bytes", "read_bytes", "fetch_wait_s"]:
        m[f"shuffle.{k}"] = total(traced_warm, f"layer.shuffle_{k}")
    m["spill.memory_bytes"] = total(traced_warm, "layer.spill_memory_bytes")
    m["spill.disk_bytes"] = total(traced_warm, "layer.spill_disk_bytes")
    kern = ex.get("kernels", {})
    for fn in FUNCTIONS:
        m[f"functions.{fn}.rows_per_s"] = float(kern.get(fn, {}).get("rows_per_s", 0.0))
        m[f"functions.{fn}.mb_per_s"] = float(kern.get(fn, {}).get("mb_per_s", 0.0))
    prog = [p for p in ex.get("progress", []) if p["op"]]
    m["streaming.batches"] = float(len(prog))
    for name, key in STREAM_PHASES.items():
        m[f"streaming.{name}"] = float(sum(p["durations"].get(key, 0.0) for p in prog))
    m["streaming.state_rows"] = float(max((p["state_rows"] for p in prog), default=0))
    m["streaming.state_bytes"] = float(max((p["state_bytes"] for p in prog), default=0))
    m["streaming.watermark_lag_s"] = float(max((p["watermark_lag_s"] for p in prog), default=0.0))
    sinks = ex.get("sinks", {})
    m["sinks.kv_keys"] = float(sinks.get("kv_keys", 0))
    m["sinks.doc_count"] = float(sinks.get("doc_count", 0))
    m["jvm.gc_s"] = float(result["jvm"]["gc_s"])
    m["jvm.heap_peak_mb"] = float(result["jvm"]["heap_peak_mb"])
    selfs = ex.get("self_s", {})
    for k in SPAN_KINDS:
        m[f"self.{k}_s"] = float(selfs.get(k, 0.0))
    if kind == "batch":
        untraced, traced = {}, {}
        for r in rows:
            if r["pass"].startswith("warm") and r["kind"] == "query":
                (traced if r["traced"] else untraced).setdefault(r["pass"], []).append(r["wall_s"])
        base = med([sum(v) for v in untraced.values()])
        over = med([sum(v) for v in traced.values()]) - base
    else:
        over = float(ex["trace_overhead_s"])
        base = float(ex["trace_overhead_base_s"])
    m["trace.overhead_s"] = over
    m["trace.overhead_frac"] = over / base if base else 0.0
    return m


def main(argv):
    a = parse_args(argv)
    wl = WORKLOADS[a.workload]
    phase = {"t": time.monotonic()}

    def log(step):
        now = time.monotonic()
        sys.stderr.write(f"[perfbench] {step} {now - phase['t']:.1f} s\n")
        phase["t"] = now

    classes = build.build()
    log("build")
    # GenScale's one-off sf1 build is allowed the time a first build is
    data = dataset(wl["data"], classes, time.monotonic() + 600)
    log("inputs")
    t_start = time.monotonic()
    RUNS.mkdir(exist_ok=True)
    run_dir = RUNS / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        args = {"workload": a.workload, "kind": wl["kind"], "data": data, "out": run_dir,
                "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "cores": cores(),
                "tables": ",".join(wl["tables"])}
        if wl["kind"] == "batch":
            args["queries"] = ",".join(wl["queries"])
            args["kernels"] = int(bool(wl.get("kernels")))
        else:
            drop_sizes = cut_drops(a.seed, data, run_dir / "drops", wl["drops"])
            for k in ["drops", "ingest_period_s", "orders", "rows_per_batch"]:
                args[k] = wl[k]
        code = run_jvm(jvm_command(classes, run_dir, "graftbench.Harness", harness_args(args)),
                          run_dir, DEADLINE_S - (time.monotonic() - t_start))
        log("harness")
        if code != 0:
            tail = (run_dir / "jvm.out").read_text(errors="replace")[-3000:]
            sys.stderr.write(tail + f"\nharness exited with {code}\n")
            return 1
        result = json.loads((run_dir / "result.json").read_text())
        if wl["kind"] == "stream":
            result["drop_sizes"] = drop_sizes
        rows = result["ledger"]
        checked = oracle.check(data, DATA / "oracle" / wl["data"], run_dir / "results",
                               run_dir / "oracle_sql.json") if wl["kind"] == "batch" else {}
        log("oracle")
        oracle_ok = {q: ok for q, (ok, _) in checked.items()}
        for q, (ok, why) in sorted(checked.items()):
            if not ok:
                sys.stderr.write(f"[oracle] {q}: {why}\n")
        checks = result["extra"].get("checks", {})
        attempted, failed = ops_failed(rows, oracle_ok, checks)
        report = {}
        e2e = end_to_end(wl["kind"], rows, result, report)
        report["failed_frac"] = (failed / attempted if attempted else 1.0, "fraction")
        layers = per_layer(wl["kind"], rows, result) if a.trace else {}
        ledger = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                  "cores": result["cores"], "attempted": attempted, "failed": failed,
                  "end_to_end": e2e, "per_layer": layers,
                  "report": {k: v[0] for k, v in report.items()},
                  "oracle": {q: why for q, (_, why) in checked.items()},
                  "checks": checks, "setup_s": result["setup_s"], "rows": rows}
        ledger_dir = RUNS / "ledger" / a.workload
        ledger_dir.mkdir(parents=True, exist_ok=True)
        stem = f"{time.strftime('%Y%m%dT%H%M%S')}-s{a.seed}-t{a.trace}-{os.getpid()}"
        (ledger_dir / f"{stem}.json").write_text(json.dumps(ledger, indent=1))
        if a.trace and (run_dir / "trace.jsonl").exists():
            shutil.copy(run_dir / "trace.jsonl", ledger_dir / f"{stem}.spans.jsonl")
        section, values = ("per_layer", layers) if a.trace else ("end_to_end", e2e)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in SPEC[section]}
        units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
        for k, v in e2e.items():
            print(f"{a.workload} {k} {v:.6g} {units[k]}")
        for k, (v, unit) in report.items():
            print(f"{a.workload} {k} {v if isinstance(v, str) else f'{v:.6g}'} {unit}".rstrip())
        for k, v in layers.items():
            print(f"{a.workload} {k} {v:.6g} {units[k]}")
        print(f"{a.workload} ledger {ledger_dir / (stem + '.json')}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
