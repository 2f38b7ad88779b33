"""Measurement primitives shared by bench.py, ab_bench.py and bench_scaling.py.

- ``timed``: the one timed loop and its estimator (median, IQR, min);
- ``noop``: the one run of a frame into Spark's noop sink;
- ``in_group``: the jobs one action ran, read through a fresh job group;
- ``stages``: per-stage records of those jobs from the core status store;
- ``startup_archive``: the class-data-sharing archive the driver JVM
  started from, if any;
- the family bodies the scripts time: ``batch_ingest`` (events ->
  messages -> ``run_batch``), ``corpus`` (q47's cold election over the
  documents table) and ``query_run`` (one declared query, cold or warm).

This module imports no engine code at module level. ``ab_bench.py``
loads it by path from its own directory and calls it from a probe
process that has already put the arm's source tree first on
``sys.path``, so the family bodies, which import the engine when
called, measure that tree's engine with this file's methodology.
"""

from __future__ import annotations

import gc
import itertools
import statistics
from time import perf_counter

#: timed executions per measured block; the median of 5 is reported
#: (best-of-N understated steady state and could not be compared
#: across rounds) and the IQR rides along so a drift can be told apart
#: from dispersion
RUNS = 5

#: the local properties ``SparkContext.setJobGroup`` sets
_GROUP_PROPERTIES = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)

_GROUPS = itertools.count()


def summarize(raw: list[float]) -> dict:
    """The estimator over ``raw`` seconds: ``sec`` (median, the
    reported figure), ``iqr``, ``best`` (min, the only figure
    comparable to the best-of-N history), ``spread`` (max - min) and
    ``raw`` itself in run order, each rounded to milliseconds."""
    ts = sorted(raw)
    if len(ts) >= 4:
        q1, _q2, q3 = statistics.quantiles(ts, n=4)
        iqr = q3 - q1
    else:
        iqr = ts[-1] - ts[0]
    return {
        "sec": round(statistics.median(ts), 3),
        "iqr": round(iqr, 3),
        "best": round(ts[0], 3),
        "spread": round(ts[-1] - ts[0], 3),
        "raw": [round(t, 3) for t in raw],
    }


def timed(run, *, warmups: int = 1, runs: int = RUNS) -> dict:
    """``summarize`` over ``runs`` timed calls of ``run()``.

    Each measured block is isolated: driver and JVM garbage is
    collected first, so one block's heap pressure is not billed to the
    next, then ``warmups`` untimed calls absorb codegen and class
    loading before the timed loop."""
    from pyspark.sql import SparkSession

    gc.collect()
    active = SparkSession.getActiveSession()
    if active is not None:
        active.sparkContext._jvm.System.gc()
    for _ in range(warmups):
        run()
    raw = []
    for _ in range(runs):
        t0 = perf_counter()
        run()
        raw.append(perf_counter() - t0)
    return summarize(raw)


def noop(df, checkpoint: str | None = None) -> None:
    """Run ``df`` to the end into Spark's noop sink: the whole plan
    executes and nothing is collected to the driver, the way a cluster
    job is measured. A streaming ``df`` runs as an availableNow query
    checkpointed in ``checkpoint``; it is awaited with a checked
    timeout, so a hung query raises instead of overlapping the next
    timed run."""
    if not df.isStreaming:
        df.write.format("noop").mode("overwrite").save()
        return
    from astarte_data_updater_plant_spark.operators.ingest import _await_stream

    _await_stream(
        df.writeStream.outputMode("append")
        .format("noop")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def in_group(spark, action) -> list[int]:
    """Run ``action()`` under a fresh job group and return the ids of
    the jobs it ran. The caller's own job group, if any, is restored
    afterwards, also when ``action`` raises. Jobs run on threads built
    with ``pyspark.util.inheritable_thread_target`` inherit the group
    and are counted too."""
    sc = spark.sparkContext
    group = f"harness-{next(_GROUPS)}"
    saved = [(key, sc.getLocalProperty(key)) for key in _GROUP_PROPERTIES]
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        for key, value in saved:
            sc.setLocalProperty(key, value)
    # the status store learns of jobs from the listener bus, which lags
    # the action: drain it, or the last jobs can be missing
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def stages(spark, job_ids: list[int]) -> list[dict]:
    """One record per stage of ``job_ids`` that ran tasks, largest
    spill first, then most shuffle records written.

    The records come from the core app status store (the store behind
    the UI, which Spark keeps with the UI off; not the SQL store of
    ``sharedState().statusStore()``, which has no stage metrics).
    Stages evicted past ``spark.ui.retainedStages`` are missing, so a
    sum over the records can only understate, never invent, a spill."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    wanted: set[int] = set()
    for job in job_ids:
        info = tracker.getJobInfo(job)
        if info is not None:
            wanted.update(info.stageIds)
    gw = sc._gateway
    # Spark 4 removed stageList's default arguments: pass them all
    listed = sc._jsc.sc().statusStore().stageList(
        gw.jvm.java.util.ArrayList(), False, False,
        gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
    )
    out = []
    it = listed.iterator()
    while it.hasNext():
        s = it.next()
        if int(s.stageId()) not in wanted or int(s.numCompleteTasks()) == 0:
            continue
        out.append({
            "tasks": int(s.numCompleteTasks()),
            "spill_bytes": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            "shuf_write_gb": round(int(s.shuffleWriteBytes()) / 1e9, 2),
            "write_recs_m": round(int(s.shuffleWriteRecords()) / 1e6, 1),
            "read_recs_m": round(int(s.shuffleReadRecords()) / 1e6, 1),
        })
    out.sort(key=lambda v: (-v["spill_bytes"], -v["write_recs_m"]))
    return out


def startup_archive(spark) -> str | None:
    """The class-data-sharing archive the driver JVM started from, read
    from its ``/proc/<pid>/maps``; None when it mapped only the JDK's
    own base archive."""
    jvm = spark._jvm.java.lang
    java_home = jvm.System.getProperty("java.home")
    with open(f"/proc/{jvm.ProcessHandle.current().pid()}/maps") as fh:
        paths = {line.split()[-1] for line in fh if line.rstrip().endswith(".jsa")}
    return next((p for p in sorted(paths) if not p.startswith(java_home + "/")), None)


def query_run(spark, sf_dir: str, name: str, *, cold: bool = False):
    """A callable that builds the declared query ``name`` over
    ``sf_dir`` and runs it into the noop sink, plan build included.
    ``cold`` clears every plan-time memo first, so each call rebuilds
    the pinned fragments too (the heavy and scaling methodology);
    otherwise fragments stay warm (the headline one)."""
    from astarte_data_updater_plant_spark.plans.fragments import clear_memos
    from astarte_data_updater_plant_spark.plans.registry import queries_map

    build = queries_map()[name]

    def run() -> None:
        if cold:
            clear_memos()
        noop(build(spark, sf_dir))

    return run


def batch_ingest(spark, sf_dir: str, *, runs: int = RUNS, blocks: int = 1) -> list[dict]:
    """Full state-machine ingest (BSON decode -> per-device fold ->
    output rows) over the events table, one ``timed`` record per block
    with ``msgs``, ``msgs_per_sec`` and ``msgs_per_sec_best`` added.

    The synthesized message stream is cached and counted first, so the
    timed runs measure the engine, not the fixture's message encoding.
    The first block gets one warm-up; each later block re-measures the
    now-warm process without one, which shows how much of a number is
    JVM and Python-worker warmth rather than code."""
    from astarte_data_updater_plant_spark.sources.stream import (
        events_as_messages,
        telemetry_interface,
    )
    from astarte_data_updater_plant_spark.streaming.pipeline import run_batch

    msgs = events_as_messages(spark, sf_dir).persist()
    try:
        n = msgs.count()

        def run() -> None:
            noop(run_batch(msgs, interfaces=(telemetry_interface(),)))

        out = []
        for block in range(blocks):
            m = timed(run, warmups=1 if block == 0 else 0, runs=runs)
            out.append({
                **m,
                "msgs": n,
                "msgs_per_sec": round(n / m["sec"]),
                "msgs_per_sec_best": round(n / m["best"]),
            })
        return out
    finally:
        msgs.unpersist()


def corpus(spark, sf_dir: str) -> dict:
    """The dedup ladder end to end: q47's canonical-document election
    (shingles -> MinHash -> LSH bands -> verified pairs -> connected
    components -> per-component election) over the documents table,
    cold, as a ``timed`` record with ``docs``, ``docs_per_sec`` and
    ``docs_per_sec_best`` added."""
    from astarte_data_updater_plant_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").count()
    m = timed(query_run(spark, sf_dir, "q47_dedup_keep_best", cold=True))
    return {
        **m,
        "docs": docs,
        "docs_per_sec": round(docs / m["sec"]),
        "docs_per_sec_best": round(docs / m["best"]),
    }
