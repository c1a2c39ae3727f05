"""tools/measure.py: profile records, the A/B summary, plan capture, and
that every script under tools/ still imports."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

from tests.test_entry import SF_DIR

TOOLS = Path(__file__).resolve().parents[1] / "tools"


def _load(path: Path):
    spec = importlib.util.spec_from_file_location(f"tools_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture(scope="module")
def measure():
    return _load(TOOLS / "measure.py")


@pytest.mark.parametrize("path", sorted(TOOLS.glob("*.py")), ids=lambda p: p.name)
def test_tool_imports(path):
    _load(path)


def test_profile_record_fields_and_job_group(spark, measure):
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller description")
    try:
        (record,) = measure.profile(spark, ["bollinger_bands"], SF_DIR, reps=1, warmups=0)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        sc._jsc.clearJobGroup()
    for key in ("git_head", "nproc", "load1", "steal_pct", "wall_s", "driver_s",
                "jobs", "stages", "tasks", "exec_cpu_s", "py_in_mb", "shuffle_mb"):
        assert key in record, key
    assert record["target"] == "bollinger_bands"
    assert record["jobs"] >= 1 and record["tasks"] >= record["stages"] >= 1
    assert 0 <= record["driver_s"] <= record["wall_s"]


def test_plans_writes_one_file_per_query(spark, measure, tmp_path):
    (path,) = measure.plans(spark, "tag", "sfx", ["bollinger_bands"], SF_DIR, tmp_path)
    assert path == tmp_path / "tag" / "bollinger_bands_sfx.txt"
    assert "Physical Plan" in path.read_text()


def _fake_record(side, seed, trace, e2e, per_layer=None):
    return {
        "workload": "pipeline_1sym", "seed": seed, "trace": trace, "git_head": side,
        "nproc": 4, "load1": 1.0 + seed % 3, "steal_pct": 0.5, "attempted": 4,
        "failed": 0, "end_to_end": e2e, "per_layer": per_layer or {},
    }


def test_ab_alternates_and_summarizes(measure, tmp_path):
    # per pair: (parent, change) pass_s; peak_rss_mb is 4% higher on the change
    pass_s = [(10.0, 11.0), (11.0, 10.0), (12.0, 12.5), (13.0, 14.0)]
    calls = []

    def run(checkout, workload, seed, trace):
        calls.append((checkout.name, seed))
        pair = seed - 100
        if pair == len(pass_s):
            raise RuntimeError("worker died")
        side = checkout.name
        e2e = {
            "setup_s": 30.0,
            "pass_s": pass_s[pair][side == "change"],
            "cpu_s": 15.0 if side == "parent" else 20.0,
            "peak_rss_mb": 1000.0 if side == "parent" else 1040.0,
        }
        return _fake_record(side, seed, trace, e2e, {"ingestion.jobs": 5.0 if side == "parent" else 4.0})

    out = str(tmp_path / "AB")
    summary = measure.ab(Path("parent"), Path("change"), "pipeline_1sym", 5, 100, 0, out, run=run)
    sides = [side for side, _ in calls]
    assert sides == ["parent", "change", "change", "parent", "parent", "change",
                     "change", "parent", "parent", "change"]
    assert [seed for _, seed in calls] == [100, 100, 101, 101, 102, 102, 103, 103, 104, 104]

    group = summary["pipeline_1sym"]
    assert group["first_side"] == ["parent", "change", "parent", "change", "parent"]
    assert group["seeds"] == [100, 101, 102, 103, 104]
    assert group["errors"] == [{"side": "parent", "seed": 104, "error": "worker died"},
                               {"side": "change", "seed": 104, "error": "worker died"}]
    assert group["failed_passes"] == {"parent": 0, "change": 0}
    assert group["heads"] == {"parent": ["parent"], "change": ["change"]}
    p = group["metrics"]["pass_s"]
    assert (p["pairs"], p["parent_median"], p["change_median"]) == (4, 11.5, 11.75)
    assert (p["change_lower_pairs"], p["change_higher_pairs"]) == (1, 3)
    assert p["parent_iqr"] == 2.5  # statistics.quantiles: 10.25 .. 12.75
    assert p["bound"] == 0.25 and p["within_bound"]
    assert group["metrics"]["cpu_s"]["within_bound"] is False  # +33% against 0.25
    assert group["metrics"]["peak_rss_mb"]["within_bound"] is False  # +4% against 0.03
    assert group["metrics"]["setup_s"]["change_pct"] == 0.0

    # a traced run joins the same files under its own label
    measure.ab(Path("parent"), Path("change"), "pipeline_1sym", 1, 100, 1, out, run=run)
    lines = Path(out + ".jsonl").read_text().splitlines()
    assert len(lines) == 12
    summary = json.loads(Path(out + "_summary.json").read_text())
    traced = summary["pipeline_1sym_traced"]["metrics"]
    assert traced["ingestion.jobs"]["parent_median"] == 5.0
    assert traced["ingestion.jobs"]["change_median"] == 4.0
    assert "bound" not in traced["ingestion.jobs"]
    assert traced["e2e.pass_s"]["within_bound"]
    assert summary["pipeline_1sym"]["metrics"]["pass_s"]["pairs"] == 4


def test_only_the_tracer_reads_the_status_stores():
    root = TOOLS.parent
    sources = [*root.glob("marketdatapipeline_spark/**/*.py"), *root.glob("perfbench/*.py"),
               *TOOLS.glob("*.py"), root / "bench.py", root / "__spark_entry__.py"]
    readers = [p.relative_to(root).as_posix() for p in sources if "AppStatusStore" in p.read_text()]
    assert readers == ["perfbench/trace.py"]
