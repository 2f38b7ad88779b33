#!/usr/bin/env python
"""Same-session interleaved A/B attribution harness (VERDICT r7, ask #1).

Why this exists: the box drifts +-20%/hour, so two bench numbers pinned
hours (or rounds) apart cannot attribute a delta to CODE. Round 7 left
two such deltas unattributed: batch ingest (BENCH_r06 91,938 msgs/s ->
BENCH_r07 71,479 — while the SAME round's 40-min-warm scaling session
measured 113,662) and q170_zipf_fit (1.318s -> 1.622s median). This
harness runs both trees' code through IDENTICAL fresh-subprocess probes,
strictly interleaved (A,B,A,B,...) within ONE session on one box, so
box drift hits both trees equally and any residual delta is code.

Each probe is a fresh JVM (matching bench.py's isolated-family
methodology) that measures, from the tree under test:
  - batch ingest: events_as_messages(sf0.1) -> run_batch -> noop sink,
    1 warm-up + 5 timed runs (bench.py's exact estimator), and
  - q170_zipf_fit: 1 warm-up + 5 timed runs, noop sink.

It also re-measures ingest a SECOND time inside the same (now warm)
probe process, to quantify how much of the bench.py-vs-bench_scaling
gap is JVM/python-worker warmth rather than code (bench_scaling's
ingest points run ~40 min into a session; bench.py's family runs
~90 s into a fresh one).

Round 9 adds a ``corpus`` probe (VERDICT r8 lead item): BENCH_r07's
2,021 docs/s slipped to BENCH_r08's 1,625 (best-of 2.02s -> 2.83s,
+40%, outside the documented drift envelope) with no same-session
attribution. The probe reproduces bench.py's corpus family EXACTLY —
fresh JVM, queries_map, docs count, then warm-up + 5 timed runs of
q47_dedup_keep_best with clear_memos() before each — so an
interleaved A/B on the two trees isolates code from box drift.

The ``ingest_cycle`` probe times the production ingest path one step
at a time (fold, sink, maintenance) over sf0.1's events: one cold
cycle, the first run of that code in the JVM, then warm ones, with the
Spark jobs of each step and the parquet files the sink and maintenance
wrote. A sink or storage layout change is A/B'd with it as two trees.

The ``cold_start`` probe is one cold set-up per fresh process, timed
from process start to a session and a loaded registry, the way
perfbench's ``setup_s`` is, and records whether the driver JVM started
from a class-data-sharing archive. An arm whose engine builds that
archive at exit builds it in its first probe; its later probes map it.

The probes run ``harness.py``'s family code (batch ingest, the corpus
q47 run, the cold or warm per-query run), loaded by path from this
file's directory, against the arm's engine: each probe process puts
the arm's tree first on sys.path before the engine is imported, so an
arm that predates ``harness.py`` is measured with the same methodology
as the current one. Each probe's record names the engine ``__file__``
it imported.

An arm is a source tree, so a switch that used to be an env knob is
A/B'd as a tree: to re-run the AB_VERIFY_R30_r14.json comparison (q199
with and without its verify pin), check out a copy whose
``_verify_pin`` returns None and pass it as one arm.

Usage:
  python ab_bench.py <labelA>=<treeA> <labelB>=<treeB> [reps] [out.json] [probes]
    probes: comma list from {main, corpus, heavy, rank, ingest_cycle,
    cold_start}; default main
  python ab_bench.py --probe <tree> [kind]   # internal, one subprocess
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The methodology comes from this file's directory and the engine from
# the arm's tree: load the harness by path, never through ``import``,
# which would resolve against whichever tree is first on sys.path.
_spec = importlib.util.spec_from_file_location(
    "harness", os.path.join(os.path.dirname(os.path.abspath(__file__)), "harness.py")
)
harness = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(harness)


def _engine(tree: str):
    """The engine package of ``tree``, imported with ``tree`` first on
    sys.path, before anything else in this process imports it."""
    sys.path.insert(0, tree)
    import astarte_data_updater_plant_spark

    return astarte_data_updater_plant_spark


def probe(spark) -> dict:
    ingest, ingest_warm = harness.batch_ingest(spark, SF_DIR, blocks=2)
    return {
        "ingest_msgs": ingest["msgs"],
        "ingest": ingest,
        # second block in the SAME process: quantifies pure warmth uplift
        "ingest_warm": ingest_warm,
        "q170": harness.timed(harness.query_run(spark, SF_DIR, "q170_zipf_fit")),
    }


def probe_corpus(spark) -> dict:
    """bench.py's corpus family: q47 with every plan-time memo cleared
    before every run."""
    return {"corpus": harness.corpus(spark, SF_DIR)}


def probe_heavy(spark) -> dict:
    """bench.py's HEAVY methodology for the two borderline r11 entries
    (q47 +6.0%, q204 +5.8% preview-to-preview, both code-unchanged):
    every plan-time memo cleared before every run, matching the series
    the heavy best-of bar is defined over (BASELINE.md r11
    declaration). Folded into the corpus adjudication session per
    VERDICT r11 ask #1."""
    return {
        key: harness.timed(harness.query_run(spark, SF_DIR, name, cold=True))
        for name, key in (
            ("q47_dedup_keep_best", "heavy_q47"),
            ("q204_containment_pairs", "heavy_q204"),
        )
    }


def probe_rank(spark) -> dict:
    """bench.py's HEADLINE methodology for the two-phase-rank consumers
    the r13 histogram-rank rewrite touches (q170 zipf fit, q145 ROC
    AUC): warm fragments (the headline set times these shapes
    warm-fragment), 1 warm-up + 5 timed noop runs each."""
    return {
        key: harness.timed(harness.query_run(spark, SF_DIR, name))
        for name, key in (
            ("q170_zipf_fit", "rank_q170"),
            ("q145_roc_auc", "rank_q145"),
        )
    }


def probe_ingest_cycle(spark) -> dict:
    """One ingest cycle as the production path runs it, cold and then
    warm: run_batch over events_as_messages(sf0.1), the fold
    materialised with cache()+count(), write_outputs_batch and
    run_maintenance, each cycle into a fresh tree. Reports each step's
    seconds and Spark jobs (one job group per step) and the parquet
    files the sink and maintenance wrote, so a sink or maintenance
    change is A/B'd as two trees."""
    from pyspark.sql import functions as F

    from astarte_data_updater_plant_spark.sources.stream import (
        events_as_messages,
        telemetry_interface,
    )
    from astarte_data_updater_plant_spark.storage.jobs import run_maintenance
    from astarte_data_updater_plant_spark.streaming.pipeline import run_batch
    from astarte_data_updater_plant_spark.streaming.sinks import write_outputs_batch

    msgs = events_as_messages(spark, SF_DIR).persist()
    n = msgs.count()
    now = F.lit("2020-01-01").cast("timestamp")

    def files(path: str) -> int:
        return sum(
            name.endswith(".parquet") for _r, _d, names in os.walk(path) for name in names
        )

    def step(rec: dict, name: str, action) -> None:
        t0 = time.perf_counter()
        jobs = harness.in_group(spark, action)
        rec[f"{name}_s"] = round(time.perf_counter() - t0, 3)
        rec[f"{name}_jobs"] = len(jobs)

    def cycle() -> dict:
        base = tempfile.mkdtemp(prefix="ab_ingest_cycle_")
        rec: dict = {}
        try:
            outputs = run_batch(msgs, interfaces=(telemetry_interface(),)).cache()
            step(rec, "fold", outputs.count)
            step(rec, "sink", lambda: write_outputs_batch(outputs, base))
            rec["sink_files"] = files(base)
            outputs.unpersist()
            step(rec, "maintenance", lambda: run_maintenance(spark, base, now))
            rec["maintenance_files"] = files(base) - rec["sink_files"]
        finally:
            shutil.rmtree(base, ignore_errors=True)
        return rec

    cold = cycle()
    warm = [cycle() for _ in range(harness.RUNS)]
    msgs.unpersist()
    return {
        "ingest_cycle_msgs": n,
        "cycle_cold": cold,
        "cycle_warm": {k: statistics.median(r[k] for r in warm) for k in cold},
        "cycle_warm_raw": warm,
    }


def probe_cold_start(spark) -> dict:
    """One cold set-up as perfbench's ``setup_s`` times it: from this
    process's start, through engine import and ``get_spark`` (run just
    before this), to a loaded registry (``queries_map``); with whether
    the driver JVM started from a start-up archive. ``reps`` fresh
    processes per arm, alternating arms, give the A/B without
    perfbench."""
    from astarte_data_updater_plant_spark.plans.registry import queries_map

    start_s = time.perf_counter() - PROCESS_START
    t = time.perf_counter()
    queries_map()
    load_s = time.perf_counter() - t
    return {
        "cold_start": {
            "setup_s": round(start_s + load_s, 3),
            "session_start_s": round(start_s, 3),
            "registry_load_s": round(load_s, 3),
            "archive_mapped": int(harness.startup_archive(spark) is not None),
        }
    }


def run_probe(tree: str, kind: str) -> None:
    """One probe in this process: ``tree``'s engine and session, this
    file's harness; prints the probe's record as a PROBE_JSON line."""
    engine = _engine(tree)
    spark = engine.get_spark(f"ab_probe_{kind}")
    out = {"tree": tree, "engine": engine.__file__, **PROBES[kind][0](spark)}
    print("PROBE_JSON " + json.dumps(out))


#: THE probe-kind registry: kind -> (probe entrypoint, summary specs
#: as (summary_key, family, value_key) triples). main() validates
#: requested kinds against it and the --probe dispatcher resolves
#: through it — an unknown kind is a hard error, not a silent
#: fall-through to the main probe mislabeled under the unknown name
#: (ADVICE r9). Summary aggregation keys are driven from the same
#: triples so adding a probe kind is one entry here.
PROBES = {
    "main": (
        probe,
        (
            ("ingest_msgs_per_sec", "ingest", "msgs_per_sec"),
            ("ingest_warm_msgs_per_sec", "ingest_warm", "msgs_per_sec"),
            ("q170_sec", "q170", "sec"),
        ),
    ),
    "corpus": (
        probe_corpus,
        (
            ("corpus_sec", "corpus", "sec"),
            ("corpus_sec_best", "corpus", "best"),
            ("corpus_docs_per_sec", "corpus", "docs_per_sec"),
        ),
    ),
    "heavy": (
        probe_heavy,
        (
            ("heavy_q47_sec", "heavy_q47", "sec"),
            ("heavy_q47_sec_best", "heavy_q47", "best"),
            ("heavy_q204_sec", "heavy_q204", "sec"),
            ("heavy_q204_sec_best", "heavy_q204", "best"),
        ),
    ),
    "ingest_cycle": (
        probe_ingest_cycle,
        tuple(
            (f"{fam}_{key}", fam, key)
            for fam in ("cycle_cold", "cycle_warm")
            for key in (
                "fold_s", "sink_s", "maintenance_s",
                "sink_jobs", "maintenance_jobs", "sink_files", "maintenance_files",
            )
        ),
    ),
    "cold_start": (
        probe_cold_start,
        (
            ("cold_setup_s", "cold_start", "setup_s"),
            ("cold_session_start_s", "cold_start", "session_start_s"),
            ("cold_archive_mapped", "cold_start", "archive_mapped"),
        ),
    ),
    "rank": (
        probe_rank,
        (
            ("rank_q170_sec", "rank_q170", "sec"),
            ("rank_q170_sec_best", "rank_q170", "best"),
            ("rank_q145_sec", "rank_q145", "sec"),
            ("rank_q145_sec_best", "rank_q145", "best"),
        ),
    ),
}


def main() -> None:
    specs = [a.split("=", 1) for a in sys.argv[1:3]]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    # round-neutral default (ADVICE r9: the old r08-stamped default
    # would mislabel later rounds' artifacts)
    out_path = sys.argv[4] if len(sys.argv) > 4 else "AB_ATTRIBUTION.json"
    probes = (sys.argv[5] if len(sys.argv) > 5 else "main").split(",")
    unknown = [k for k in probes if k not in PROBES]
    if unknown:
        raise SystemExit(
            f"unknown probe kind(s) {unknown}; known: {sorted(PROBES)}"
        )
    results: dict[str, list[dict]] = {label: [] for label, _ in specs}
    order: list[str] = []
    for rep in range(reps):
        for kind in probes:
            for label, tree in specs:
                r = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--probe", tree, kind],
                    capture_output=True, text=True, timeout=1800, check=True,
                    cwd=tree,
                )
                line = [l for l in r.stdout.splitlines() if l.startswith("PROBE_JSON ")][-1]
                d = json.loads(line[len("PROBE_JSON "):])
                d["rep"] = rep
                d["kind"] = kind
                d["wall_clock"] = time.strftime("%Y-%m-%dT%H:%M:%S")
                results[label].append(d)
                order.append(f"{label}:{kind}")
                brief = {
                    fam: d[fam]
                    for fam in {f for _, f, _v in PROBES[kind][1]}
                    if fam in d
                }
                print(label, kind, "rep", rep, json.dumps(brief), flush=True)

    def agg(label: str, fam: str, key: str) -> dict | None:
        vals = [r[fam][key] for r in results[label] if fam in r]
        if not vals:
            return None
        return {
            "median": round(statistics.median(vals), 3),
            "raw": vals,
            "spread": round(max(vals) - min(vals), 3),
        }

    summary = {}
    for label, _ in specs:
        summary[label] = {}
        for kind in probes:
            for key, fam, vk in PROBES[kind][1]:
                v = agg(label, fam, vk)
                if v is not None:
                    summary[label][key] = v
    (la, _), (lb, _) = specs
    summary["ratio_B_over_A"] = {
        k: round(summary[lb][k]["median"] / summary[la][k]["median"], 3)
        for k in summary[la]
        if k in summary[lb] and summary[la][k]["median"]
    }
    artifact = {
        "metric": "ab_attribution",
        "sf_dir": SF_DIR,
        "probes_run": probes,
        "interleave_order": order,
        "trees": {label: tree for label, tree in specs},
        "summary": summary,
        "probes": results,
    }
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--probe":
        kind = sys.argv[3] if len(sys.argv) > 3 else "main"
        if kind not in PROBES:
            raise SystemExit(
                f"unknown probe kind {kind!r}; known: {sorted(PROBES)}"
            )
        run_probe(sys.argv[2], kind)
    else:
        main()
