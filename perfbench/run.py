"""Run one benchmark workload in this process and print its metrics.

    python3 perfbench/run.py --workload pipeline_1sym --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The process starts one Spark session at
``local[<cores>]``, generates the workload's inputs from ``--seed``,
warms up, then runs timed passes for ``--seconds``. Every pass, warm-up
included, is checked; a pass that raises or fails its check counts as
failed.

``--trace 0`` prints the end-to-end metrics listed in BENCHMARK.json;
``--trace 1`` alternates untraced and traced passes and prints the
per-layer metrics instead. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The line before it is
the full record (stamp, per-pass timings by position, spans), which
``--record FILE`` also appends to FILE.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

#: Driver JVM settings (NOTES.md has the measurements). A fixed 3 GiB
#: heap, resident from the start: left free to grow, the heap grew at a
#: different pass in each run and peak memory read 3.2 to 5.5 GB across
#: runs of one input size. The C1 JIT only: with C2, a fresh JVM kept recompiling for
#: ten passes and more (pass time fell 3x over them), longer than a run
#: can afford; with C1 alone, pass time is flat from the second pass on.
DRIVER_MEMORY = "3g"
JVM_OPTIONS = "-Xms3g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -XX:-UsePerfData"

#: Untimed passes before measuring: past the cold first pass.
WARMUP_PASSES = 1

#: Timed passes a run makes even when they outlast ``--seconds``. Three,
#: so that one pass slowed by the host does not move the run's median;
#: a fourth would not fit the run budget (NOTES.md).
MIN_TIMED_PASSES = 3

#: Which timed passes of a traced run are traced, repeating: untraced,
#: traced, traced, untraced, so a drift across the run cancels out of
#: ``trace.overhead_s``. A traced run makes at least these four passes.
TRACE_ORDER = (False, True, True, False)

#: Span layer (a package module) -> metric prefix.
PREFIX = {
    "sources": "sources",
    "features": "features",
    "ingestion": "ingestion",
    "ml.preparation": "ml.prepare",
    "ml.training": "ml.train",
    "ml.prediction": "ml.predict",
    "ml.evaluation": "ml.eval",
    "catalog": "curation",
    "textops.incremental": "store",
}


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _quartiles(values: list[float]) -> tuple[float, float]:
    if len(values) < 2:
        return (values[0], values[0]) if values else (0.0, 0.0)
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def _start_spark(work: Path):
    from marketdatapipeline_spark.session import get_spark

    return get_spark(
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.defaultJavaOptions": f"{JVM_OPTIONS} -Djava.io.tmpdir={work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        }
    )


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, then wait until every
    process this one started has ended."""
    from pyspark import SparkContext

    from perfbench import host

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while len(host.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _jvm_pid() -> int:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else -1


def _layer_values(spans, extras: dict) -> dict[str, float]:
    """Flat per-layer readings of one traced pass."""
    out = dict(extras)
    for span in spans:
        prefix = PREFIX[span.layer]
        for k, v in span.metrics.items():
            out[f"{prefix}.{k}"] = out.get(f"{prefix}.{k}", 0.0) + v
    return out


def run(args) -> dict:
    from perfbench import host
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    process_start = time.perf_counter() - host.process_age_s()
    cpu_at_start = host.cpu_times()
    load_at_start = host.load1()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(host.nproc())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )

    spark = None
    try:
        spark = _start_spark(work)
        session_s = time.perf_counter() - process_start
        jvm_pid = _jvm_pid()
        workload = WORKLOADS[args.workload](work, args.seed)
        workload.prepare(spark)
        plain = Tracer(spark, enabled=False)
        traced = Tracer(spark, enabled=True) if args.trace else plain

        passes = []  # one dict per pass, warm-up included, by position

        def one_pass(index: int, tracer) -> None:
            workload.reset(index)
            tracer.start_pass(index)
            sampler.reset()
            cpu0 = host.tree_cpu()
            t0 = time.perf_counter()
            outputs, extras, problems = None, {}, []
            try:
                outputs, extras = workload.run_pass(spark, tracer, index)
            except Exception:  # a pass that raises is a failed pass
                problems = [traceback.format_exc()]
            wall = time.perf_counter() - t0
            cpu1 = host.tree_cpu()
            by_pid = {p: c - cpu0.get(p, 0.0) for p, c in cpu1.items()}
            cpu = sum(by_pid.values())
            rec = {
                "index": index,
                "traced": tracer.enabled,
                "pass_s": wall,
                "cpu_s": cpu,
                # the driver's Python, the JVM, and the Python workers
                "cpu_driver_s": by_pid.get(os.getpid(), 0.0),
                "cpu_jvm_s": by_pid.get(jvm_pid, 0.0),
                "cpu_workers_s": cpu - by_pid.get(os.getpid(), 0.0) - by_pid.get(jvm_pid, 0.0),
                "peak_rss_mb": sampler.peak(),
            }
            if outputs is not None:
                problems = workload.check(outputs)
            if problems:
                print(f"pass {index} FAILED: {'; '.join(problems)}", file=sys.stderr)
            rec["failed"] = bool(problems)
            spans = tracer.collect()
            rec["span_s"] = {s.layer: s.wall_s for s in spans}
            if tracer.enabled:
                rec["layers"] = _layer_values(spans, extras)
                rec["spans"] = [
                    {"layer": s.layer, "parent": "pass", "start_s": s.start - spans[0].start,
                     "self_s": s.wall_s, **s.metrics}
                    for s in spans
                ]
                rec["layers"]["pass.self_s"] = wall - sum(s.wall_s for s in spans)
            passes.append(rec)
            print(
                f"pass {index:3d} {'traced ' if tracer.enabled else ''}"
                f"{wall:8.3f} s  cpu {cpu:8.3f} s (jvm {rec['cpu_jvm_s']:7.2f} py {rec['cpu_workers_s']:7.2f})  rss {rec['peak_rss_mb']:8.1f} MB"
                f"{'  FAILED' if problems else ''}  "
                + " ".join(f"{k}={v:.2f}" for k, v in rec["span_s"].items()),
                flush=True,
            )

        with host.RssSampler() as sampler:
            n_warm = WARMUP_PASSES
            for i in range(n_warm):
                one_pass(i, plain)
            setup_s = time.perf_counter() - process_start
            measure_start = time.perf_counter()
            min_passes = len(TRACE_ORDER) if args.trace else MIN_TIMED_PASSES
            k = 0
            while k < min_passes or time.perf_counter() - measure_start < args.seconds:
                one_pass(n_warm + k, traced if args.trace and TRACE_ORDER[k % 4] else plain)
                k += 1
        stamp = host.stamp(ROOT, spark)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not any((ROOT / ".perfbench_work").iterdir()):
            (ROOT / ".perfbench_work").rmdir()

    timed = [p for p in passes if p["index"] >= n_warm]
    plain_passes = [p for p in timed if not p["traced"]]
    summary = {
        "setup_s": setup_s,
        "pass_s": _median([p["pass_s"] for p in plain_passes]),
        "cpu_s": _median([p["cpu_s"] for p in plain_passes]),
        "peak_rss_mb": _median([p["peak_rss_mb"] for p in plain_passes]),
    }
    steal = host.steal_pct(cpu_at_start, host.cpu_times())
    layers: dict[str, float] = {}
    traced_passes = [p for p in timed if p["traced"]]
    if traced_passes:
        names = {k for p in traced_passes for k in p["layers"]}
        layers = {n: _median([p["layers"].get(n, 0.0) for p in traced_passes]) for n in sorted(names)}
        layers["trace.overhead_s"] = _median([p["pass_s"] for p in traced_passes]) - summary["pass_s"]
    layers["host.steal_pct"] = steal
    layers["host.load1"] = load_at_start

    failed = sum(p["failed"] for p in passes)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **stamp,
        "load1": load_at_start,
        "steal_pct": steal,
        "input_rows": workload.input_rows,
        "session_s": session_s,
        "warmup_passes": n_warm,
        "attempted": len(passes),
        "failed": failed,
        "fail_ratio": failed / len(passes),
        "end_to_end": summary,
        "units": {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]},
        "per_layer": layers,
        "passes": passes,
    }
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else summary
    record["result"] = {
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted},
    }
    return record


def report(record: dict) -> None:
    """Human-readable lines: each end-to-end metric with its unit and
    sample count, then the fail ratio."""
    timed = [p for p in record["passes"] if p["index"] >= record["warmup_passes"] and not p["traced"]]
    print(f"{record['workload']} seed={record['seed']} head={record['git_head'][:12]} "
          f"nproc={record['nproc']} load1={record['load1']:.2f} steal={record['steal_pct']:.2f}%")
    for name, value in record["end_to_end"].items():
        unit = record["units"][name]
        if name == "setup_s":
            print(f"  {name:12s} {value:10.3f} {unit:3s} (n=1)")
            continue
        lo, hi = _quartiles([p[name] for p in timed])
        print(f"  {name:12s} {value:10.3f} {unit:3s} median of n={len(timed)}  "
              f"quartiles {lo:.3f} .. {hi:.3f}")
    rows_per_s = record["input_rows"] / record["end_to_end"]["pass_s"] if timed else 0.0
    print(f"  {'rows_per_s':12s} {rows_per_s:10.0f} 1/s  ({record['input_rows']} input rows)")
    print(f"  {'fail_ratio':12s} {record['fail_ratio']:10.3f} 1   "
          f"({record['failed']} of {record['attempted']} passes)")
    for name, value in record["per_layer"].items():
        if record["trace"]:
            print(f"  {name:28s} {value:12.4f}")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--record", type=Path, help="append the full record to this JSONL file")
    args = parser.parse_args(argv)
    # a terminated run still stops Spark and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, str(ROOT))
    if not (ROOT / "marketdatapipeline_spark").is_dir():
        print(f"no marketdatapipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    record = run(args)
    report(record)
    line = json.dumps(record)
    if args.record:
        with open(args.record, "a") as f:
            f.write(line + "\n")
    print(line)
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
