#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), starts one fresh
local[4] JVM (perfbench/scala), checks every output, and prints one JSON
line as the last line of stdout: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1. Everything it writes stays in the
build directory (.bench_build, or $CARGO_TARGET_DIR): per-run scratch
under tmp/ (removed when the run ends) and reports under out/.

    python3 perfbench/run.py --record-golden

re-records perfbench/golden.json from every catalog entry (see README.md).
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import benchmath  # noqa: E402
import build  # noqa: E402

BENCH = os.path.join(build.ROOT, "perfbench")
DATA = os.path.join(BENCH, "data", "sf0.01")
GOLDEN = os.path.join(BENCH, "golden.json")
CORES = 4
RUN_TIMEOUT_S = 170  # a run must end within 180 s once built
LATENCY_LIMIT_MS = 5000
# Median Host.memoryProbe time (4M dependent loads over 64 MB) on the
# 4-core VM this benchmark was built on; end-to-end metrics are reported
# at that host speed (see README "Host speed").
REFERENCE_PROBE_S = 0.58

# catalog_batch: 7 of the 214 entries that run no streaming code, one per
# layer a batch change is likely to touch. The full board takes ~200 s,
# far longer than one run may take. The order is fixed: with a seeded
# order the median entry's time moved by 27% (IQR/median over 10 seeds)
# as cold costs moved between entries.
CATALOG_BATCH = [
    "nx_q2_selection",       # scan + filter: the per-entry fixed-cost floor
    "q14_small_qty_orders",  # DataFrame joins and aggregates over lineitem
    "q31_topk_native",       # the graft.plans top-k rewrite
    "sql_tpch_q20",          # SQL text over Tables.registerAll's derived views
    "p106_filter_sweep",     # a text pipeline operator
    "p18_ann_ivf",           # graft.functions vector expressions
    "p42_graph_authority",   # iterative localCheckpoint pins
]

DRAIN_EVENTS = 400_000
DRAIN_ROWS_PER_TRIGGER = 50_000
DRAIN_1CORE_EVENTS = 50_000
LIVE_EPS = 10_000
LIVE_RAMP_MS = 2000

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

WORKLOADS = ("catalog_batch", "nexmark")


def catalog_rounds(seconds):
    """Timed passes over CATALOG_BATCH: one per 3 s asked for, and at least
    3 (a pass takes 5-10 s on 4 cores). After the warm pass the JIT is
    still speeding the entries up, and each entry's median over the timed
    passes leaves the slow first one out."""
    return max(3, seconds // 3)


def stream_start(seed):
    """The V2 generator's startOffset for a seed."""
    return random.Random(seed).randrange(10_000_000, 100_000_000)


def jvm_args(workload, seed, seconds):
    if workload == "catalog_batch":
        return ["mode=catalog", "entries=" + ",".join(CATALOG_BATCH), f"data={DATA}",
                f"rounds={catalog_rounds(seconds)}"]
    return ["mode=nexmark", f"start={stream_start(seed)}", f"events={DRAIN_EVENTS}",
            f"rows={DRAIN_ROWS_PER_TRIGGER}", f"eps={LIVE_EPS}", f"seconds={seconds}"]


def run_jvm(classpath, args, tmp, log_path, timeout):
    """One fresh JVM; returns its report. All scratch goes under `tmp`."""
    os.makedirs(tmp, exist_ok=True)
    report = os.path.join(tmp, "report.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    cmd = (["java", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS + ["-cp", classpath, "perfbench.Main", f"out={report}"] + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"JVM exceeded {timeout:.0f} s; see {log_path}")
    if code != 0:
        raise RuntimeError(f"JVM exited {code}; see {log_path}")
    with open(report) as fh:
        return json.load(fh)


def catalog_metrics(rep, golden):
    """Every entry run, warm pass included, is a checked operation; the
    timings come from the timed passes."""
    entries = rep["warm"] + [e for r in rep["rounds"] for e in r["entries"]]
    _, failed = benchmath.catalog_outcome(entries, golden)
    for e in failed:
        why = e.get("error") or (f"fingerprint {e.get('fingerprint')} != "
                                 f"golden {golden.get(e['name'])}")
        print(f"[perfbench] FAILED {e['name']}: {why}", file=sys.stderr)
    m = benchmath.catalog_times(rep["rounds"], golden)
    return m, len(entries), len(failed)


def stream_outcome(s, limit_ms=None, ramp_ms=0):
    """The stream's outcome, logged; and its wall time, start() to the end
    of its last micro-batch."""
    o = benchmath.stream_outcome(s, limit_ms, ramp_ms)
    print(f"[perfbench] {'live' if s.get('eps') else 'drain'}: "
          f"events={o['attempted']} committed={o['committed']} gaps={o['gaps']} "
          f"replays={o['replays']} late={o['late']} batches={o['batches']} "
          f"latency_samples={len(o['latencies_ms'])} "
          f"leaderboard_ok={s.get('leaderboard_ok')} "
          f"leaderboard_rows={s.get('leaderboard_rows')}", file=sys.stderr)
    return o, (o["last_end_ms"] - s["start_call_ms"]) / 1000.0


def nexmark_metrics(rep):
    """Throughput from the closed-loop drain (rows per second of
    triggerExecution over its batches after the first), event latency from
    the open loop after its ramp. wall_s is the drain's start() → last
    micro-batch end and cpu_s the drain's process CPU time: the live
    phase's wall time is set by its schedule, and its CPU time by how long
    the query idles between triggers."""
    d, d_wall = stream_outcome(rep["drain"])
    v, _ = stream_outcome(rep["live"], LATENCY_LIMIT_MS, LIVE_RAMP_MS)
    lat = v["latencies_ms"] or [float("nan")]
    m = {
        "wall_s": d_wall,
        "events_per_s": d["steady_eps"],
        "latency_p50_ms": benchmath.percentile(lat, 50),
        "latency_p99_ms": benchmath.percentile(lat, 99),
        "cpu_s": rep["drain"]["cpu_s"],
    }
    return m, d["attempted"] + v["attempted"], d["failed"] + v["failed"]


UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "events_per_s": "1/s",
         "latency_p50_ms": "ms", "latency_p99_ms": "ms"}


def end_to_end(rep, golden):
    """End-to-end metrics at the reference host speed; the measured values
    go to stderr."""
    if rep["mode"] == "catalog":
        m, attempted, failed = catalog_metrics(rep, golden)
    else:
        m, attempted, failed = nexmark_metrics(rep)
    m["setup_s"] = rep["setup"]["setup_s"]
    print(f"[perfbench] measured: {json.dumps(benchmath.finite_metrics(m))} "
          f"memory probes (s): {rep['probes_s']}", file=sys.stderr)
    return (benchmath.at_reference_speed(m, rep["probes_s"], REFERENCE_PROBE_S),
            attempted, failed)


LAYER_UNITS = {
    "tables.register_s": "s", "operators.build_s": "s", "operators.consume_s": "s",
    "catalyst.queries": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "plans.topk_rewrites": "count", "codegen.compile_s": "s",
    "codegen.classes": "count", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.sched_delay_s": "s", "exec.core_s": "s", "exec.task_failures": "count",
    "exec.busy_frac": "ratio", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s",
    "spill.disk_bytes": "bytes", "pins.blocks": "count", "pins.bytes": "bytes",
    "gc.s": "s", "jvm.heap_live_peak_mb": "MB",
    "stream.queries": "count", "stream.start_s": "s", "stream.batches": "count",
    "state.update_ms": "ms", "state.commit_ms": "ms", "state.rows_total": "count",
    "state.memory_bytes": "bytes", "state.rocksdb_put_count": "count",
    "state.rocksdb_get_count": "count", "state.rocksdb_commit_checkpoint_ms": "ms",
    "state.rocksdb_commit_flush_ms": "ms", "source.rows_admitted": "count",
    "source.backlog_rows_max": "count", "host.steal_s": "s", "host.calib_s": "s",
    "scaling.events_per_s_1core": "1/s",
    "span.entry_self_s": "s", "span.query_self_s": "s",
    "span.batch_self_s": "s", "span.job_self_s": "s",
}
for _, _n in benchmath.PHASES:
    LAYER_UNITS[f"stream.{_n}_ms"] = "ms"
    LAYER_UNITS[f"stream.{_n}_ms_p50"] = "ms"


def per_layer(rep, spans, one_core_eps):
    t = rep["trace"]
    m = {k: t.get(k, 0) for k in LAYER_UNITS if "." in k}
    m["tables.register_s"] = rep["setup"]["register_s"]
    entries = [e for r in rep.get("rounds", []) for e in r["entries"]]
    m["operators.build_s"] = sum(e["build_s"] for e in entries)
    m["operators.consume_s"] = sum(e["consume_s"] for e in entries)
    m["exec.busy_frac"] = t.get("exec.core_s", 0) / (rep["timed_s"] * rep["cores"])
    m["gc.s"] = rep["gc_s"]
    m["host.steal_s"] = rep["steal_s"]
    m.update(benchmath.stream_layers(t["stream.progress"], t["stream.start_ms"]))
    m["scaling.events_per_s_1core"] = one_core_eps
    selfs = benchmath.self_time_by_kind_s(spans)
    for k in ("entry", "query", "batch", "job"):
        m[f"span.{k}_self_s"] = selfs.get(k, 0.0)
    return m


def result_line(correct, attempted, failed, metrics, units):
    """The result line. A metric without a value is left out, and then the
    run is not correct."""
    shown = benchmath.finite_metrics(metrics)
    return json.dumps({
        "correct": correct and len(shown) == len(metrics),
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }, allow_nan=False)


def build_stamp():
    with open(os.path.join(build.build_dir(), "classes", "STAMP")) as fh:
        return fh.read()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true")
    a = ap.parse_args()
    if not a.record_golden and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(DATA):
        raise SystemExit(f"benchmark data missing: {DATA}")
    classpath = build.build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    run_id = f"{a.workload or 'golden'}-s{a.seed}-t{a.trace}"
    tmp = os.path.join(build.build_dir(), "tmp", f"{run_id}-{os.getpid()}")
    out = os.path.join(build.build_dir(), "out", run_id)
    os.makedirs(out, exist_ok=True)
    try:
        if a.record_golden:
            return record_golden(classpath, tmp, out)
        args = jvm_args(a.workload, a.seed, a.seconds)
        if a.trace:
            args.append("trace=1")
        rep = run_jvm(classpath, args, tmp, os.path.join(out, "jvm.log"),
                      deadline - time.monotonic())
        with open(os.path.join(out, "report.json"), "w") as fh:
            json.dump(rep, fh)
        golden = json.load(open(GOLDEN))
        e2e, attempted, failed = end_to_end(rep, golden)
        correct = failed == 0
        print(f"[perfbench] error_rate={benchmath.error_rate(attempted, failed):.6f} "
              f"({failed}/{attempted})", file=sys.stderr)
        if not a.trace:
            with open(os.path.join(out, "end_to_end.json"), "w") as fh:
                json.dump({"stamp": build_stamp(), "metrics": e2e}, fh)
            print(result_line(correct, attempted, failed, e2e, UNITS))
            return 0
        shutil.copyfile(os.path.join(tmp, "spans.json"), os.path.join(out, "spans.json"))
        spans = json.load(open(os.path.join(out, "spans.json")))
        one_core = 0.0
        if a.workload == "nexmark":
            args1 = ["mode=drain", f"start={stream_start(a.seed)}",
                     f"events={DRAIN_1CORE_EVENTS}",
                     f"rows={DRAIN_ROWS_PER_TRIGGER // CORES}", "cores=1"]
            r1 = run_jvm(classpath, args1, tmp + "-1core",
                         os.path.join(out, "jvm-1core.log"), deadline - time.monotonic())
            one_core = stream_outcome(r1["drain"])[0]["steady_eps"]
        layers = per_layer(rep, spans, one_core)
        overhead = tracing_overhead(e2e, os.path.join(
            build.build_dir(), "out", f"{a.workload}-s{a.seed}-t0", "end_to_end.json"))
        with open(os.path.join(out, "per_layer.json"), "w") as fh:
            json.dump({"per_layer": layers, "traced_end_to_end": e2e,
                       "tracing_overhead": overhead}, fh, indent=1)
        print(f"[perfbench] tracing overhead vs untraced run of this seed and "
              f"build: {json.dumps(overhead)}", file=sys.stderr)
        print(f"[perfbench] spans: {os.path.join(out, 'spans.json')}", file=sys.stderr)
        print(result_line(correct, attempted, failed, layers, LAYER_UNITS))
        return 0
    finally:
        for d in (tmp, tmp + "-1core"):
            shutil.rmtree(d, ignore_errors=True)


def tracing_overhead(traced, untraced_path):
    """Traced minus untraced end-to-end values, when an untraced run of the
    same workload and seed has been made in this build directory from the
    same sources; None otherwise."""
    if not os.path.exists(untraced_path):
        return None
    with open(untraced_path) as fh:
        base = json.load(fh)
    if base.get("stamp") != build_stamp():
        print("[perfbench] no tracing overhead: the untraced run of this seed "
              "was made from other sources", file=sys.stderr)
        return None
    base = base["metrics"]
    return {k: traced[k] - base[k] for k in traced if k in base}


def record_golden(classpath, tmp, out):
    """Fingerprints every catalog entry, twice in each of two JVMs, and
    keeps only the entries whose four fingerprints agree."""
    runs = []
    for i in range(2):
        rep = run_jvm(classpath, ["mode=catalog", "entries=*", f"data={DATA}", "rounds=1"],
                      tmp, os.path.join(out, f"jvm-{i}.log"), timeout=3600)
        for run in (rep["warm"], rep["rounds"][0]["entries"]):
            runs.append({e["name"]: e["fingerprint"] for e in run})
        shutil.rmtree(tmp, ignore_errors=True)
    names = sorted(runs[0])
    golden = {n: runs[0][n] for n in names
              if runs[0][n] and all(r.get(n) == runs[0][n] for r in runs)}
    unstable = [n for n in names if n not in golden]
    with open(GOLDEN, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
    print(json.dumps({"recorded": len(golden), "unstable": unstable}))
    return 0 if not unstable else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (RuntimeError, OSError, KeyError, ValueError) as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        sys.exit(2)
