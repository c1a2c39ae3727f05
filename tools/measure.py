"""One measurement tool: per-layer profiles, interleaved A/B runs of the
benchmark, and physical-plan capture.

    python tools/measure.py profile TARGET... [--sf DIR] [--reps N] [--warmups N]
    python tools/measure.py ab --parent DIR --change DIR --workload W \\
        --pairs N --seed S [--trace 0|1] --out PREFIX
    python tools/measure.py plans TAG SUFFIX QUERY... [--sf DIR] [--out DIR]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``.

``profile`` runs each target ``--warmups`` times untraced, then ``--reps``
times inside one ``perfbench.trace.Tracer`` span each, and prints one
JSON line per target: the median over the reps of every per-span field
the tracer reads (``wall_s``, ``driver_s``, jobs, stages, tasks, executor
run/CPU/GC, shuffle, spill, bytes to and from Python). A target is

* a catalog query name (gate or extended), materialized to the noop sink;
* ``headline`` or ``headline_1sym``: bench.py's 1M-row feature pipeline
  on multi- or single-symbol bars, timed by ``bench.run_feature_pipeline``
  (that time is ``headline_s``; the span also holds the plan-time size
  probe, which bench.py leaves out of its timing);
* a control on the same 1M multi-symbol bars: ``control_scan`` (scan and
  replication alone) or ``control_identity`` (an identity
  ``applyInPandas`` per symbol). Spark's Python-worker times include the
  wait for upstream input, so the feature kernel's Python boundary is
  read against these, not on its own.

``ab`` runs the BENCHMARK.json command (``python3 perfbench/run.py``) in
the parent and the change checkout, one process at a time, with seeds
S, S+1, ... and the side that goes first alternating per pair. It
appends every run's record to PREFIX.jsonl and rewrites
PREFIX_summary.json from all the records there, one entry per workload
(``<workload>_traced`` for traced runs).

``plans`` writes ``explain("formatted")`` of each catalog query to
``<out>/<tag>/<query>_<suffix>.txt`` (``<out>`` defaults to ``plans/``).

Every printed line and every A/B record is stamped by
``perfbench.host.stamp`` (git HEAD, nproc, load1, versions) and carries
the share of CPU time stolen by the hypervisor over its run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from bench import materialize, replicated_bars, run_feature_pipeline  # noqa: E402
from perfbench import host  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

HEADLINE_ROWS = 1_000_000

#: The local properties ``setJobGroup`` writes; ``profile`` restores them.
JOB_GROUP_PROPERTIES = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)

#: Profile targets besides the catalog queries (the module docstring).
BAR_TARGETS = ("headline", "headline_1sym", "control_scan", "control_identity")


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _catalog() -> dict:
    from __spark_entry__ import extended_queries, queries

    return {**queries(), **extended_queries()}


# -- profile -----------------------------------------------------------------


def _target(spark, name: str, sf: str, catalog: dict):
    """A callable running ``name`` once; it returns extra record fields."""
    from marketdatapipeline_spark.caching import release_caches

    if name in catalog:
        def run_query() -> dict:
            release_caches()
            materialize(catalog[name](spark, sf))
            return {}

        return run_query
    if name not in BAR_TARGETS:
        raise SystemExit(f"unknown target {name!r}: neither a catalog query nor one of {BAR_TARGETS}")
    n_events = spark.read.parquet(f"{sf}/events.parquet").count()
    copies = max(1, round(HEADLINE_ROWS / n_events))
    bars = replicated_bars(spark, sf, copies, multi_symbol=name != "headline_1sym")
    if name.startswith("headline"):
        return lambda: {"headline_s": run_feature_pipeline(spark, bars)}
    if name == "control_identity":
        bars = bars.groupBy("symbol").applyInPandas(lambda pdf: pdf, schema=bars.schema)

    def run_control() -> dict:
        materialize(bars)
        return {}

    return run_control


def profile(spark, names: list[str], sf: str, reps: int = 3, warmups: int = 1) -> list[dict]:
    """Profile each target; prints and returns one record per target."""
    sc = spark.sparkContext
    saved = {key: sc.getLocalProperty(key) for key in JOB_GROUP_PROPERTIES}
    tracer = Tracer(spark, enabled=True)
    catalog = _catalog()
    records = []
    try:
        for name in names:
            run = _target(spark, name, sf, catalog)
            for _ in range(warmups):
                run()
            stamp = host.stamp(ROOT, spark)
            cpu_before = host.cpu_times()
            measured = []
            for _ in range(reps):
                # a pass number no earlier profile in this session used,
                # so the span's job group holds this rep's jobs only
                tracer.start_pass(time.monotonic_ns())
                with tracer.span(name):
                    extra = run()
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                (span,) = tracer.collect()
                measured.append({**span.metrics, **extra})
            record = {
                **stamp,
                "steal_pct": host.steal_pct(cpu_before, host.cpu_times()),
                "target": name,
                "sf": sf,
                "reps": reps,
                "warmups": warmups,
                "runs_s": [m["wall_s"] for m in measured],
                **{k: statistics.median(m[k] for m in measured) for k in measured[0]},
            }
            print(json.dumps(record), flush=True)
            records.append(record)
    finally:
        for key, value in saved.items():
            sc.setLocalProperty(key, value)
    return records


# -- ab ----------------------------------------------------------------------


def run_benchmark(checkout: Path, workload: str, seed: int, trace: int) -> dict:
    """One benchmark run in ``checkout``, as long as BENCHMARK.json says;
    returns the full record the run prints on its second-to-last line."""
    spec = _spec()
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(lines[-2])


def ab(parent: Path, change: Path, workload: str, pairs: int, seed: int, trace: int,
       out: str, run=run_benchmark) -> dict:
    """Interleaved A/B; appends to ``out``.jsonl and returns (and writes)
    the summary of every record in it."""
    checkouts = {"parent": parent, "change": change}
    label = f"{workload}_traced" if trace else workload
    records_path = Path(f"{out}.jsonl")
    for pair in range(pairs):
        order = ("parent", "change") if pair % 2 == 0 else ("change", "parent")
        for side in order:
            try:
                record = run(checkouts[side], workload, seed + pair, trace)
            except Exception as e:  # a run that dies is reported, not retried
                record = {"workload": workload, "seed": seed + pair, "trace": trace, "error": str(e)}
            record.update(ab=label, side=side, pair=pair, ran_first=side == order[0])
            with records_path.open("a") as f:
                f.write(json.dumps(record) + "\n")
            print(f"{label} pair {pair} {side}: "
                  + json.dumps(record.get("end_to_end", record.get("error"))), file=sys.stderr, flush=True)
    records = [json.loads(line) for line in records_path.read_text().splitlines()]
    summary = summarize(records, _spec())
    Path(f"{out}_summary.json").write_text(json.dumps(summary, indent=1) + "\n")
    return summary


def _iqr(values: list[float]) -> float:
    """Distance between the quartiles; the range below four values."""
    if len(values) < 4:
        return max(values) - min(values)
    q = statistics.quantiles(values, n=4)
    return q[2] - q[0]


def _values(record: dict) -> dict[str, float]:
    if not record["trace"]:
        return record["end_to_end"]
    return {**{f"e2e.{k}": v for k, v in record["end_to_end"].items()}, **record["per_layer"]}


def summarize(records: list[dict], spec: dict) -> dict:
    """Per A/B label and metric: medians, parent IQR, pair win counts and,
    for the end-to-end metrics, whether the change is within its bound."""
    end_to_end = {m["name"]: m for m in spec["end_to_end"]}
    summary = {
        "about": "Interleaved parent/change A/B (tools/measure.py ab): each run is "
                 "one fresh benchmark process in its own checkout, the side that "
                 "runs first alternating per pair; pairs share a seed. Medians are "
                 "over pairs; parent_iqr is the distance between the quartiles of "
                 "the parent runs (the range, below four pairs); within_bound "
                 "compares the change median with the parent median and the "
                 "metric's BENCHMARK.json bound.",
    }
    by_label = defaultdict(list)
    for record in records:
        by_label[record["ab"]].append(record)
    for label, recs in by_label.items():
        done = [r for r in recs if "error" not in r]
        by_seed = defaultdict(dict)
        for r in done:
            by_seed[r["seed"]][r["side"]] = r
        pairs = [sides for _, sides in sorted(by_seed.items()) if len(sides) == 2]
        names = list(dict.fromkeys(k for p in pairs for side in p.values() for k in _values(side)))
        metrics = {}
        for name in names:
            par = [_values(p["parent"]).get(name, 0.0) for p in pairs]
            chg = [_values(p["change"]).get(name, 0.0) for p in pairs]
            pm, cm = statistics.median(par), statistics.median(chg)
            entry = {
                "parent_median": round(pm, 4),
                "change_median": round(cm, 4),
                "change_pct": round(100 * (cm - pm) / pm, 1) if pm else None,
                "pairs": len(pairs),
                "change_lower_pairs": sum(c < p for p, c in zip(par, chg)),
                "change_higher_pairs": sum(c > p for p, c in zip(par, chg)),
                "parent_iqr": round(_iqr(par), 4),
                "parent_runs": [round(v, 3) for v in par],
                "change_runs": [round(v, 3) for v in chg],
            }
            metric = end_to_end.get(name.removeprefix("e2e."))
            if metric is not None:
                bound = entry["bound"] = metric["bound"]
                lower = metric["better"] == "lower"
                entry["within_bound"] = cm <= pm * (1 + bound) if lower else cm >= pm * (1 - bound)
            metrics[name] = entry
        summary[label] = {
            "metrics": metrics,
            "errors": [{k: r[k] for k in ("side", "seed", "error")} for r in recs if "error" in r],
            "heads": {s: sorted({r["git_head"] for r in done if r["side"] == s}) for s in ("parent", "change")},
            "failed_passes": {s: sum(r["failed"] for r in done if r["side"] == s) for s in ("parent", "change")},
            "attempted_passes": {s: sum(r["attempted"] for r in done if r["side"] == s) for s in ("parent", "change")},
            "seeds": sorted({r["seed"] for r in recs}),
            "first_side": [r["side"] for r in recs if r["ran_first"]],
            "host": {
                "nproc": sorted({r["nproc"] for r in done}),
                "load1_range": [min(r["load1"] for r in done), max(r["load1"] for r in done)] if done else [],
                "steal_pct_range": [min(r["steal_pct"] for r in done), max(r["steal_pct"] for r in done)] if done else [],
            },
        }
    return summary


# -- plans -------------------------------------------------------------------


def plans(spark, tag: str, suffix: str, names: list[str], sf: str, out: Path) -> list[Path]:
    """Write each query's formatted physical plan; returns the paths."""
    from marketdatapipeline_spark.caching import release_caches

    catalog = _catalog()
    directory = Path(out) / tag
    directory.mkdir(parents=True, exist_ok=True)
    stamp = host.stamp(ROOT, spark)
    cpu_before = host.cpu_times()
    paths = []
    for name in names:
        release_caches()
        df = catalog[name](spark, sf)
        plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = directory / f"{name}_{suffix}.txt"
        path.write_text(plan)
        print(json.dumps({**stamp, "steal_pct": host.steal_pct(cpu_before, host.cpu_times()),
                          "query": name, "path": str(path),
                          "exchange_refs": plan.count("Exchange")}), flush=True)
        paths.append(path)
    release_caches()
    return paths


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__,
                                     formatter_class=argparse.RawDescriptionHelpFormatter)
    commands = parser.add_subparsers(dest="command", required=True)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")

    p = commands.add_parser("profile", help="per-layer profile of targets")
    p.add_argument("targets", nargs="+")
    p.add_argument("--sf", default=sf)
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--warmups", type=int, default=1)

    a = commands.add_parser("ab", help="interleaved parent/change benchmark runs")
    a.add_argument("--parent", type=Path, required=True)
    a.add_argument("--change", type=Path, required=True)
    a.add_argument("--workload", required=True)
    a.add_argument("--pairs", type=int, required=True)
    a.add_argument("--seed", type=int, required=True)
    a.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a.add_argument("--out", required=True, help="writes OUT.jsonl and OUT_summary.json")

    q = commands.add_parser("plans", help="formatted physical plans of catalog queries")
    q.add_argument("tag")
    q.add_argument("suffix")
    q.add_argument("queries", nargs="+")
    q.add_argument("--sf", default=sf)
    q.add_argument("--out", type=Path, default=ROOT / "plans")

    args = parser.parse_args(argv)
    if args.command == "ab":
        ab(args.parent, args.change, args.workload, args.pairs, args.seed, args.trace, args.out)
        return 0
    if not args.sf:
        parser.error("pass --sf DIR or set SPARK_GRAFT_SF_DIR")
    from marketdatapipeline_spark.session import get_spark

    spark = get_spark(app_name=f"measure_{args.command}")
    if args.command == "profile":
        profile(spark, args.targets, args.sf, args.reps, args.warmups)
    else:
        plans(spark, args.tag, args.suffix, args.queries, args.sf, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
