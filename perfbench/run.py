"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Generates the
workload's inputs from the seed, starts the program's SparkSession,
runs the warm-up pass, measures for ``--seconds`` seconds and checks
the outputs against DuckDB. Prints every metric by name and unit, then,
as the last line, one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Exits 1 when
an output is wrong, 2 when the program is not there.

With ``--trace 1`` the timed pass is traced: a span around every call
into the program and a job group on every Spark job it launches. The
per-layer metrics come from those spans and from the status store; the
tracing overhead is reported as ``trace.overhead_frac``, the measured
cost of the spans and job-group calls the pass made as a share of its
wall time. The spans are written to ``.perfbench_out/`` at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

UNITS = {
    "setup_s": "s", "run_s": "s", "op_p50_s": "s", "op_p90_s": "s", "qps": "1/s",
    "peak_rss_mb": "MB", "failed_op_frac": "fraction",
    "stored_bytes_per_input_byte": "ratio",
}


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def failed_ops(b, tp) -> int:
    """Timed operations that raised, failed their own check, or whose
    query's result failed the correctness check."""
    return sum(1 for o in tp.ops if not o.ok or o.name in b.problems)


def end_to_end(b, tp, setup_s: float) -> dict[str, float]:
    lat = sorted(o.latency_s for o in tp.ops)
    out = {
        "setup_s": setup_s,
        "run_s": statistics.median(tp.pass_s) if tp.pass_s else tp.wall_s,
        "op_p50_s": statistics.median(lat),
        "op_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1 else lat[0],
        "qps": len(tp.ops) / tp.wall_s,
        "peak_rss_mb": b.peak_rss_mb,
        "failed_op_frac": failed_ops(b, tp) / len(tp.ops),
    }
    if tp.stored_bytes:
        out["stored_bytes_per_input_byte"] = statistics.median(tp.stored_bytes) / b.csv_bytes
    return out


def setup_probe(args) -> float:
    """Set-up seconds of one more fresh process on the same workload and
    seed: set up and torn down again, with no timed pass."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", "0", "--setup-only",
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=150)
    finally:
        if proc.poll() is None:
            proc.terminate()  # its SIGTERM handler stops its JVM
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"set-up probe exited with code {proc.returncode}")
    return float(out.strip().splitlines()[-1])


def tracing_overhead_s(b, tp, calls: int = 200) -> float:
    """Seconds the traced pass spent in tracing: spans recorded times
    the measured cost of one span, plus job groups set times the
    measured cost of one ``setJobGroup`` call."""
    from spans import Tracer

    probe = Tracer()
    probe.enabled = True
    t0 = time.perf_counter()
    for _ in range(calls):
        with probe.span("calibration"):
            pass
    span_s = (time.perf_counter() - t0) / calls
    sc = b.spark.sparkContext
    t0 = time.perf_counter()
    for i in range(calls):
        sc.setJobGroup(f"calibration/{i}", "calibration")
    tag_s = (time.perf_counter() - t0) / calls
    sc.setLocalProperty("spark.jobGroup.id", None)
    return len(b.tracer.spans) * span_s + len(tp.groups) * tag_s


def per_layer(b, tp) -> dict[str, float]:
    """Layer metrics of the traced pass: counts and seconds per pass (one
    deck of the mix on analyst_serving)."""
    import status

    groups = dict(tp.groups)
    for run_id, group in b.stream_runs.items():
        if group in groups:
            groups[run_id] = "stream"
    counters = status.group_counters(b.spark, set(groups))
    total = status.Counters()
    by_kind: dict[str, status.Counters] = {}
    for g, c in counters.items():
        total += c
        by_kind.setdefault(groups[g], status.Counters())
        by_kind[groups[g]] += c
    none = status.Counters()
    build, execute = by_kind.get("build", none), by_kind.get("execute", none)
    stream, plans = by_kind.get("stream", none), by_kind.get("plans", none)
    query_ops = sum(1 for o in tp.ops if o.name != "star")
    q = status.Counters()
    for c in (build, execute, stream):
        q += c

    n = max(1, tp.passes)
    spans = b.tracer.totals()
    top = b.tracer.totals(top_level_only=True)
    progress = [p for run_id, p in b.listener.progress if run_id in groups]
    state_peak: dict[str, int] = {}
    for run_id, p in b.listener.progress:
        if run_id in groups:
            rows = sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
            state_peak[run_id] = max(state_peak.get(run_id, 0), rows)
    replay_s = spans.get("streaming.run_to_completion", 0.0)
    in_rows = sum(p.get("numInputRows", 0) for p in progress)
    return {
        **b.layer,
        "session.executor_busy_frac": total.executor_run_s / (tp.wall_s * b.cores),
        "session.gc_s": tp.gc_s / n,
        "session.failed_tasks": total.failed_tasks,
        "sources.scan_bytes": total.input_bytes / n,
        "sources.scan_bytes_per_input_byte": total.input_bytes / n / b.input_bytes,
        "sources.write_s": sum(
            top.get(k, 0.0) for k in ("sources.write", "sources.merge_upsert", "sources.scd2_apply")
        ) / n,
        "sources.output_bytes": total.output_bytes / n,
        "sources.stored_bytes_per_input_byte": (
            statistics.median(tp.stored_bytes) / b.csv_bytes if tp.stored_bytes else 0.0
        ),
        "plans.run_pipeline_s": spans.get("plans.run_pipeline", 0.0) / n,
        "plans.guard_s": spans.get("plans.assert_scalable", 0.0) / n,
        "plans.write_star_s": spans.get("plans.write_star_schema", 0.0) / n,
        "plans.jobs": plans.jobs / n,
        "queries.build_s": spans.get("queries.build", 0.0) / n,
        "queries.execute_s": spans.get("queries.execute", 0.0) / n,
        "queries.build_jobs": (build.jobs + stream.jobs) / n,
        "queries.jobs_per_op": q.jobs / max(1, query_ops),
        "queries.tasks_per_op": q.tasks / max(1, query_ops),
        "operators.shuffle_write_bytes": q.shuffle_write_bytes / n,
        "operators.shuffle_read_bytes": q.shuffle_read_bytes / n,
        "operators.spill_bytes": q.spill_bytes / n,
        "operators.executor_cpu_s": q.executor_cpu_s / n,
        "operators.artifact_entries_built": tp.artifact_entries / n,
        "streaming.replay_s": replay_s / n,
        "streaming.micro_batches": len(progress) / n,
        "streaming.input_rows_per_s": in_rows / replay_s if replay_s else 0.0,
        "streaming.state_rows": sum(state_peak.values()) / n,
        "trace.overhead_frac": tracing_overhead_s(b, tp) / tp.wall_s,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    warnings.filterwarnings("ignore", category=FutureWarning)

    if not os.path.isfile(os.path.join(ROOT, "ecowatt_etl_spark", "session.py")):
        print(f"perfbench: no ecowatt_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    from workloads import WORKLOADS, Bench, process_age_s

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    contract = load_contract()
    # the clock of set-up time: zero at process start, read with perf_counter
    t_start = time.perf_counter() - process_age_s()
    # a terminated run still stops its session and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(ROOT, args.workload, args.seed, traced=bool(args.trace))
    if args.setup_only:
        try:
            bench.setup()
            WORKLOADS[args.workload](bench).prepare()
            print(repr(time.perf_counter() - t_start))
        finally:
            bench.close()
        return 0
    try:
        bench.setup()
        wl = WORKLOADS[args.workload](bench)
        t0 = time.perf_counter()
        wl.prepare()
        setup_samples = [time.perf_counter() - t_start]
        bench.layer["session.warmup_s"] = time.perf_counter() - t0
        bench.tracer.enabled = bool(args.trace)
        tp = wl.run_pass(args.seconds)
        bench.tracer.enabled = False
        if args.trace:
            layers = per_layer(bench, tp)
        wl.check()
        e2e = end_to_end(bench, tp, setup_samples[0])
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            spans_path = os.path.join(
                ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"
            )
            bench.tracer.dump(spans_path)
    finally:
        bench.close()
    if not args.trace:
        # set-up is one sample a run unless the workload sets up cheaply
        setup_samples += [setup_probe(args) for _ in range(wl.setup_runs - 1)]
        e2e["setup_s"] = statistics.median(setup_samples)

    for name, why in sorted(bench.problems.items()):
        print(f"FAILED {name}: {why}")
    by_op: dict[str, list[float]] = {}
    for o in tp.ops:
        by_op.setdefault(o.name, []).append(o.latency_s)
    for name, lat in by_op.items():
        print(f"  op {name:<31} {statistics.median(lat):>14.6g} s  (n={len(lat)})")
    print(f"workload {args.workload}  seed {args.seed}  ops {len(tp.ops)}  "
          f"passes {tp.passes}  timed {tp.wall_s:.1f} s  cpu steal {tp.steal_frac:.1%}")
    print("  set-ups " + " ".join(f"{v:.2f}" for v in setup_samples) + " s;  peak RSS "
          f"JVM {bench.peak_rss_parts[0]:.0f} + Python {bench.peak_rss_parts[1]:.0f} MB")
    for k, v in e2e.items():
        print(f"  {k:<34} {v:>14.6g} {UNITS[k]}")
    if args.trace:
        layer_units = {m["name"]: m["unit"] for m in contract["per_layer"]}
        for k, v in layers.items():
            print(f"  {k:<34} {v:>14.6g} {layer_units.get(k, '')}")
        self_s = bench.tracer.self_times()
        for k in sorted(self_s):
            print(f"  self {k:<29} {self_s[k]:>14.6g} s")
        print(f"  spans written to {spans_path}")
    wanted = contract["per_layer"] if args.trace else contract["end_to_end"]
    values = layers if args.trace else e2e
    correct = not bench.problems
    print(json.dumps({
        "correct": correct,
        "attempted": len(tp.ops),
        "failed": failed_ops(bench, tp),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
