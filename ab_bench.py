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
ingest_point runs ~40 min into a session; bench.py's family runs
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

An arm is a source tree, so a switch that used to be an env knob is
A/B'd as a tree: to re-run the AB_VERIFY_R30_r14.json comparison (q199
with and without its verify pin), check out a copy whose
``_verify_pin`` returns None and pass it as one arm.

Usage:
  python ab_bench.py <labelA>=<treeA> <labelB>=<treeB> [reps] [out.json] [probes]
    probes: comma list from {main, corpus, heavy, rank, ingest_cycle};
    default main
  python ab_bench.py --probe <tree> [kind]   # internal, one subprocess
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = 5


def _measure(run, warmups: int = 1, runs: int = RUNS) -> dict:
    for _ in range(warmups):
        run()
    raw = []
    for _ in range(runs):
        t0 = time.perf_counter()
        run()
        raw.append(time.perf_counter() - t0)
    return {
        "sec": round(statistics.median(raw), 3),
        "best": round(min(raw), 3),
        "raw": [round(t, 3) for t in raw],
    }


def probe(tree: str) -> None:
    sys.path.insert(0, tree)
    from astarte_data_updater_plant_spark.plans.registry import queries_map
    from astarte_data_updater_plant_spark.session import get_spark
    from astarte_data_updater_plant_spark.sources.stream import (
        events_as_messages,
        telemetry_interface,
    )
    from astarte_data_updater_plant_spark.streaming.pipeline import run_batch

    spark = get_spark("ab_probe")
    qmap = queries_map()
    out: dict = {"tree": tree}

    msgs = events_as_messages(spark, SF_DIR).persist()
    n = msgs.count()

    def ingest():
        run_batch(msgs, interfaces=(telemetry_interface(),)).write.format(
            "noop"
        ).mode("overwrite").save()

    m = _measure(ingest)
    out["ingest_msgs"] = n
    out["ingest"] = {**m, "msgs_per_sec": round(n / m["sec"])}
    # second block in the SAME process: quantifies pure warmth uplift
    m2 = _measure(ingest, warmups=0)
    out["ingest_warm"] = {**m2, "msgs_per_sec": round(n / m2["sec"])}
    msgs.unpersist()

    def q170():
        qmap["q170_zipf_fit"](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()

    out["q170"] = _measure(q170)
    print("PROBE_JSON " + json.dumps(out))


def probe_corpus(tree: str) -> None:
    """bench.py's corpus family, byte-for-byte methodology: q47 with
    every plan-time memo cleared before every run."""
    sys.path.insert(0, tree)
    from astarte_data_updater_plant_spark.plans.fragments import clear_memos
    from astarte_data_updater_plant_spark.plans.registry import queries_map
    from astarte_data_updater_plant_spark.session import get_spark
    from astarte_data_updater_plant_spark.sources.tables import load_table

    spark = get_spark("ab_probe_corpus")
    qmap = queries_map()
    n_docs = load_table(spark, SF_DIR, "documents").count()

    def one():
        clear_memos()
        qmap["q47_dedup_keep_best"](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()

    m = _measure(one)
    out = {
        "tree": tree,
        "corpus": {
            **m,
            "docs": n_docs,
            "docs_per_sec": round(n_docs / m["sec"]),
            "docs_per_sec_best": round(n_docs / m["best"]),
        },
    }
    print("PROBE_JSON " + json.dumps(out))


def probe_heavy(tree: str) -> None:
    """bench.py's HEAVY methodology for the two borderline r11 entries
    (q47 +6.0%, q204 +5.8% preview-to-preview, both code-unchanged):
    every plan-time memo cleared before every run, matching the series
    the heavy best-of bar is defined over (BASELINE.md r11
    declaration). Folded into the corpus adjudication session per
    VERDICT r11 ask #1."""
    sys.path.insert(0, tree)
    from astarte_data_updater_plant_spark.plans.fragments import clear_memos
    from astarte_data_updater_plant_spark.plans.registry import queries_map
    from astarte_data_updater_plant_spark.session import get_spark

    spark = get_spark("ab_probe_heavy")
    qmap = queries_map()
    out: dict = {"tree": tree}
    for name, key in (
        ("q47_dedup_keep_best", "heavy_q47"),
        ("q204_containment_pairs", "heavy_q204"),
    ):
        def one(q=qmap[name]):
            clear_memos()
            q(spark, SF_DIR).write.format("noop").mode("overwrite").save()

        out[key] = _measure(one)
    print("PROBE_JSON " + json.dumps(out))


def probe_rank(tree: str) -> None:
    """bench.py's HEADLINE methodology for the two-phase-rank consumers
    the r13 histogram-rank rewrite touches (q170 zipf fit, q145 ROC
    AUC): warm fragments (the headline set times these shapes
    warm-fragment), 1 warm-up + 5 timed noop runs each."""
    sys.path.insert(0, tree)
    from astarte_data_updater_plant_spark.plans.registry import queries_map
    from astarte_data_updater_plant_spark.session import get_spark

    spark = get_spark("ab_probe_rank")
    qmap = queries_map()
    out: dict = {"tree": tree}
    for name, key in (
        ("q170_zipf_fit", "rank_q170"),
        ("q145_roc_auc", "rank_q145"),
    ):
        def one(q=qmap[name]):
            q(spark, SF_DIR).write.format("noop").mode("overwrite").save()

        out[key] = _measure(one)
    print("PROBE_JSON " + json.dumps(out))


def probe_ingest_cycle(tree: str) -> None:
    """One ingest cycle as the production path runs it, cold and then
    warm: run_batch over events_as_messages(sf0.1), the fold
    materialised with cache()+count(), write_outputs_batch and
    run_maintenance, each cycle into a fresh tree. Reports each step's
    seconds and Spark jobs (one job group per step) and the parquet
    files the sink and maintenance wrote, so a sink or maintenance
    change is A/B'd as two trees."""
    sys.path.insert(0, tree)
    from pyspark.sql import functions as F

    from astarte_data_updater_plant_spark.session import get_spark
    from astarte_data_updater_plant_spark.sources.stream import (
        events_as_messages,
        telemetry_interface,
    )
    from astarte_data_updater_plant_spark.storage.jobs import run_maintenance
    from astarte_data_updater_plant_spark.streaming.pipeline import run_batch
    from astarte_data_updater_plant_spark.streaming.sinks import write_outputs_batch

    spark = get_spark("ab_probe_ingest_cycle")
    sc = spark.sparkContext
    msgs = events_as_messages(spark, SF_DIR).persist()
    n = msgs.count()
    now = F.lit("2020-01-01").cast("timestamp")

    def files(path: str) -> int:
        return sum(
            name.endswith(".parquet") for _r, _d, names in os.walk(path) for name in names
        )

    groups = itertools.count()

    def step(rec: dict, name: str, action) -> None:
        group = f"ab-{name}-{next(groups)}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            action()
        finally:
            sc.setJobGroup("other", "")
        rec[f"{name}_s"] = round(time.perf_counter() - t0, 3)
        rec[f"{name}_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))

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
    warm = [cycle() for _ in range(RUNS)]
    out = {
        "tree": tree,
        "ingest_cycle_msgs": n,
        "cycle_cold": cold,
        "cycle_warm": {k: statistics.median(r[k] for r in warm) for k in cold},
        "cycle_warm_raw": warm,
    }
    msgs.unpersist()
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
        PROBES[kind][0](sys.argv[2])
    else:
        main()
