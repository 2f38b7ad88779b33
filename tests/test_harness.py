"""The measurement harness shared by bench.py, ab_bench.py and
bench_scaling.py: its estimator, its job-group and stage readers, its
noop run of a stream, and the ab_bench probe preamble that runs it
against an arm's own engine."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import harness

REPO = Path(__file__).resolve().parent.parent


def test_timed_runs_warmups_then_reports_median_iqr_and_min(monkeypatch):
    # timed runs of 1, 3, 2, 5 and 4 seconds
    readings = iter([0.0, 1.0, 10.0, 13.0, 20.0, 22.0, 30.0, 35.0, 40.0, 44.0])
    monkeypatch.setattr(harness, "perf_counter", lambda: next(readings))
    calls = []
    m = harness.timed(lambda: calls.append(None), warmups=2, runs=5)
    assert len(calls) == 7
    # statistics.quantiles' default method puts q1 at 1.5 and q3 at 4.5
    assert m == {"sec": 3.0, "iqr": 3.0, "best": 1.0, "spread": 4.0, "raw": [1.0, 3.0, 2.0, 5.0, 4.0]}
    # under 4 runs the IQR falls back to the spread
    assert harness.summarize([2.0, 7.0, 3.0])["iqr"] == 5.0


def test_in_group_returns_the_actions_jobs_and_restores_the_enclosing_group(spark):
    sc = spark.sparkContext
    rdd = sc.parallelize(range(8), 2)
    before = sc.getLocalProperty("spark.jobGroup.id")
    seen = {}

    def enclosing():
        seen["group"] = sc.getLocalProperty("spark.jobGroup.id")
        rdd.count()
        seen["inner"] = harness.in_group(spark, lambda: (rdd.count(), rdd.sum()))
        seen["restored"] = sc.getLocalProperty("spark.jobGroup.id")
        rdd.count()

    outer = harness.in_group(spark, enclosing)
    inner = seen["inner"]
    assert len(inner) == 2 and len(outer) == 2
    assert outer[0] < inner[0] < inner[1] < outer[1]
    assert seen["restored"] == seen["group"] is not None
    assert sc.getLocalProperty("spark.jobGroup.id") == before


def test_stages_reads_each_stage_of_the_jobs(spark):
    sc = spark.sparkContext
    pairs = sc.parallelize(range(100), 4).map(lambda i: (i % 5, 1))
    jobs = harness.in_group(spark, lambda: pairs.reduceByKey(lambda a, b: a + b, 3).collect())
    records = harness.stages(spark, jobs)
    assert sorted(r["tasks"] for r in records) == [3, 4]


def test_noop_runs_a_stream_to_the_end(spark, tmp_path):
    src = tmp_path / "src"
    spark.range(50).write.parquet(str(src))
    stream = spark.readStream.schema("id long").parquet(str(src))
    harness.noop(stream, str(tmp_path / "ckpt"))
    assert (tmp_path / "ckpt" / "commits" / "0").exists()


def test_ab_probe_runs_against_the_arms_engine(tmp_path):
    """The probe preamble imports the engine from the arm's tree even
    though this checkout's engine is importable too, and the probe's
    record names the engine file it imported."""
    arm = tmp_path / "arm"
    pkg = arm / "astarte_data_updater_plant_spark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("def get_spark(app_name):\n    return app_name\n")
    code = "\n".join([
        "import importlib.util",
        f"spec = importlib.util.spec_from_file_location('ab_bench', {str(REPO / 'ab_bench.py')!r})",
        "ab = importlib.util.module_from_spec(spec)",
        "spec.loader.exec_module(ab)",
        "ab.PROBES['stub'] = (lambda spark: {'session': spark}, ())",
        f"ab.run_probe({str(arm)!r}, 'stub')",
    ])
    # run from this checkout, so its own engine is importable as well
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        timeout=120, check=True,
    )
    (line,) = [l for l in r.stdout.splitlines() if l.startswith("PROBE_JSON ")]
    record = json.loads(line[len("PROBE_JSON "):])
    assert record == {
        "tree": str(arm),
        "engine": str(pkg / "__init__.py"),
        "session": "ab_probe_stub",
    }
