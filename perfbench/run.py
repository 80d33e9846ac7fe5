"""Closed-loop, single-client benchmark of the catalog engine.

One request is one catalog entry call, ``REGISTRY[name].fn(spark, data)``,
followed by a noop-sink force; the next request starts only after the
previous one finished. Everything runs in this process on
``local[<cpus of the box>]`` over tables generated by ``datagen.py``.

    python3 perfbench/run.py --workload reads_and_joins --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all      # every metric of every workload
    python3 perfbench/run.py --write-spec        # regenerate BENCHMARK.json

A run: generate the tables, bring the session up, run the cold pass,
an untimed pass that checks every output against its oracle, a fixed
number of untimed warm-up passes, then whole steady passes, at least one,
until ``--seconds`` have passed. With ``--trace 1`` the steady phase is an
untraced, a traced and another untraced pass; the per-layer metrics come
from the traced one. The last stdout line is the JSON result.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import bench_stats  # noqa: E402
import spec  # noqa: E402
from spans import Span  # noqa: E402

DEADLINE_S = 170
# Untimed passes between the output check and the steady window. Passes
# keep getting faster while the JVM compiles the engine's hot paths. On a
# 4-vCPU box, passes after the fifth in a process (cold, check, then these
# two) gained a few percent each, while the third was up to 15 % slower
# than the fifth. A fixed count puts the window at the same point of that
# curve however fast the code is.
WARM_PASSES = 2


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", help=f"one of {sorted(spec.WORKLOADS)} or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-spec", action="store_true", help="write BENCHMARK.json and exit")
    return ap.parse_args(argv)


def pass_orders(entries: list[str], seed: int):
    """The entry order of each successive pass, drawn from the seed."""
    rng = random.Random(seed)
    while True:
        order = list(entries)
        rng.shuffle(order)
        yield order


def pass_s(latencies: list[tuple[str, float]]) -> float:
    return sum(lat for _, lat in latencies)


def metric(name: str, value: float) -> dict:
    return {name: {"value": value, "unit": spec.UNITS[name]}}


def run_workload(args: argparse.Namespace) -> tuple[dict, list[str]]:
    """One run of one workload; returns (result JSON, report lines)."""
    import datagen
    import harness

    age_at_main = harness.process_age_s()
    t_main = harness.clock()
    entries = spec.WORKLOADS[args.workload]["entries"]
    bench_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(bench_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    data_dir = os.path.join(work, "data")
    t0 = harness.clock()
    datagen.write_tables(data_dir, spec.SCALE_FACTOR, spec.DATA_SEED)
    datagen_s = harness.clock() - t0

    cpus, mem = harness.box_cpus(), harness.DRIVER_MEM
    conf = harness.prepare_environment(ROOT, work, cpus, mem)
    report = [f"workload {args.workload}: {len(entries)} entries, seed {args.seed}, "
              f"local[{cpus}], driver memory {mem}, sf {spec.SCALE_FACTOR}, one client"]
    session = None
    try:
        import markt_database_analyzer_spark.catalog  # noqa: F401 - engine import is part of setup

        harness.redirect_entry_scratch(work)
        session = harness.Session(conf)
        setup_s = age_at_main + (harness.clock() - t_main) - datagen_s
        spark = session.spark

        tally = bench_stats.Tally()
        check = harness.OracleCheck(data_dir)
        orders = pass_orders(entries, args.seed)
        loop = harness.Workload(spark, data_dir, entries, tally)
        t_cold = harness.clock()
        cold = loop.run_pass(next(orders))
        t_check = harness.clock()
        # Untimed: the output check, then the warm-up.
        loop.run_pass(next(orders), check=check)
        t_warm = harness.clock()
        warm = [pass_s(loop.run_pass(next(orders))) for _ in range(WARM_PASSES)]
        report.append("untimed warm-up passes: " + " ".join(f"{x:.3f}" for x in warm) + " s")
        t_steady = harness.clock()
        metrics: dict = {}
        if args.trace == 0:
            steady: list[float] = []
            passes = 0
            # Whole passes keep every entry equally represented.
            while passes == 0 or harness.clock() - t_steady < args.seconds:
                steady += [lat for _, lat in loop.run_pass(next(orders))]
                passes += 1
            metrics |= metric("setup_s", setup_s)
            metrics |= metric("cold_pass_s", pass_s(cold))
            metrics |= metric("queries_per_s", len(steady) / sum(steady))
            metrics |= metric("peak_rss_mb", harness.peak_rss_mb([os.getpid(), session.jvm_pid()]))
            report.append("steady requests: " + " ".join(f"{x:.3f}" for x in steady))
            tail = bench_stats.tail_latency(steady)
            report.append(f"steady passes: {len(steady)} requests in {sum(steady):.3f} s; "
                          f"query_p50_s = {statistics.median(steady):.4f} s; query_tail_s = "
                          + (f"{tail[0]:.4f} s at p{tail[1]} over {tail[2]} samples" if tail
                             else f"undefined ({len(steady)} samples, needs more than 10)"))
        else:
            # A traced pass between two untraced ones: a JVM that still
            # drifts at a steady rate weighs on both sides of the ratio alike.
            untraced = [pass_s(loop.run_pass(next(orders)))]
            traced_loop = harness.TracedWorkload(spark, data_dir, entries, tally)
            t_traced = harness.clock()
            traced = pass_s(traced_loop.run_pass(next(orders)))
            traced_wall = harness.clock() - t_traced
            read_s, read_jobs = traced_loop.read_tables_directly()
            traced_loop.detach()
            untraced.append(pass_s(loop.run_pass(next(orders))))
            report.append("untraced passes " + " ".join(f"{x:.3f}" for x in untraced)
                          + f" s, traced pass {traced:.3f} s (requests); traced pass wall "
                          f"with collection {traced_wall:.1f} s")
            metrics = layer_metrics(session, traced_loop, traced / statistics.mean(untraced),
                                    read_s, read_jobs, cpus)
            report += entry_report(traced_loop)
            os.makedirs(bench_dir, exist_ok=True)
            spans = traced_loop.entries
            root = Span("pass", spans[0].start, spans[-1].end, children=spans)
            with open(os.path.join(bench_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "pass": root.to_dict()}, f, indent=1)
        report.append("cold pass requests: " + ", ".join(f"{n} {lat:.2f} s" for n, lat in cold))
        report.append(f"wall: setup {setup_s:.1f} s, cold pass {t_check - t_cold:.1f} s, output check "
                      f"{t_warm - t_check:.1f} s, warm-up {t_steady - t_warm:.1f} s, "
                      f"rest {harness.clock() - t_steady:.1f} s")
        report.append(f"output check: {len(check.matched)}/{len(entries)} entries match "
                      f"their DuckDB oracle; failed_ratio = {tally.failed_ratio:.4f} "
                      f"({tally.failed}/{tally.attempted} requests)")
        for name, errors in sorted(tally.failures.items()):
            report.append(f"FAILED {name}: {len(errors)}x {errors[0]}")
    finally:
        if session is not None:
            session.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    result = {"correct": tally.failed == 0, "attempted": tally.attempted,
              "failed": tally.failed, "metrics": metrics}
    return result, report


def layer_metrics(session, traced_loop, overhead_ratio, read_s, read_jobs, cpus) -> dict:
    """Per-layer metrics: session bring-up, direct read_table calls and the
    traced pass summed over its entries."""
    tot: dict[str, float] = {}
    for e in traced_loop.entries:
        for k, v in e.counters.items():
            if isinstance(v, (int, float)):
                tot[k] = tot.get(k, 0) + v
    latency = tot.get("latency_s", 0.0)
    run_s = tot.get("run_ms", 0) / 1000.0
    cpu_s = tot.get("cpu_ns", 0) / 1e9
    values = {
        "session.start_s": session.start_s,
        "session.warmup_s": session.warmup_s,
        "sources.read_table_s": read_s,
        "sources.read_table_jobs": read_jobs,
        "sources.write_bytes": tot.get("output_bytes", 0),
        "catalog.build_s": tot.get("build_s", 0.0),
        "catalog.build_jobs": tot.get("build_jobs", 0),
        "catalog.build_job_s": tot.get("build_job_s", 0.0),
        "catalog.build_share": tot.get("build_s", 0.0) / latency if latency else 0.0,
        "catalog.pins_left": tot.get("pins_left", 0),
        "catalyst.plan_s": tot.get("plan_s", 0.0),
        "exec.force_s": tot.get("force_s", 0.0),
        "exec.jobs": tot.get("jobs", 0),
        "exec.stages": tot.get("stages", 0),
        "exec.tasks": tot.get("tasks", 0),
        "exec.run_s": run_s,
        "exec.cpu_s": cpu_s,
        "exec.gc_s": tot.get("gc_ms", 0) / 1000.0,
        "exec.shuffle_read_bytes": tot.get("shuffle_read_bytes", 0),
        "exec.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0),
        "exec.spill_bytes": tot.get("disk_spill_bytes", 0),
        "exec.input_rows": tot.get("input_rows", 0),
        "exec.output_rows": tot.get("output_rows", 0),
        "exec.failed_tasks": tot.get("failed_tasks", 0),
        "exec.core_util": run_s / (latency * cpus) if latency else 0.0,
        "exec.fixed_overhead_s": latency - run_s / cpus,
        "datapipe.worker_gap_s": run_s - cpu_s,
        "streaming.batches": tot.get("batches", 0),
        "streaming.batch_s": tot.get("batch_s", 0.0),
        "streaming.input_rows": tot.get("stream_input_rows", 0),
        "streaming.state_rows": tot.get("state_rows", 0),
        "streaming.sink_tables_left": tot.get("sink_tables_left", 0),
        "streaming.conf_drift": tot.get("conf_drift", 0),
        "trace_overhead_ratio": overhead_ratio,
    }
    out: dict = {}
    for name, _, _ in spec.PER_LAYER:
        out |= metric(name, values[name])
    return out


DETERMINISTIC = ("build_jobs", "jobs", "stages", "output_rows", "pins_left", "read_table_jobs",
                 "sink_tables_left")


def entry_report(traced_loop) -> list[str]:
    lines = []
    for e in sorted(traced_loop.entries, key=lambda e: e.counters["name"]):
        c = e.counters
        lines.append(f"entry {c['name']}: " + " ".join(f"{k}={int(c.get(k, 0))}" for k in DETERMINISTIC)
                     + " " + " ".join(f"{k}={c.get(k, 0):.3f}" for k in ("latency_s", "build_s", "plan_s", "force_s")))
    return lines


def run_all(args: argparse.Namespace) -> int:
    """Run every workload untraced and traced, each in a fresh process,
    and print every metric by name with its unit."""
    status = 0
    for workload in spec.WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{workload} trace={trace}: run failed with exit code {proc.returncode}")
                status = 1
                continue
            for line in lines[:-1]:
                print(f"  {line}")
            result = json.loads(lines[-1])
            print(f"{workload} trace={trace}: correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']}")
            for name, m in result["metrics"].items():
                print(f"  {workload:24s} {name:28s} {m['value']:>16.6g} {m['unit']}")
    return status


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if args.write_spec:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            json.dump(spec.benchmark_json(), f, indent=2)
            f.write("\n")
        return 0
    if args.workload == "all":
        return run_all(args)
    if args.workload not in spec.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(spec.WORKLOADS)}", file=sys.stderr)
        return 2

    def deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, deadline)
    # Terminated from outside: unwind through the cleanup that stops the JVM.
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(1))
    signal.alarm(DEADLINE_S)
    try:
        result, report = run_workload(args)
    except Exception:  # noqa: BLE001 - any failure ends the run without a result line
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
    for line in report:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
