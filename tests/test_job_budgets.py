"""Spark job budgets of the ingest write path.

At small scale every Spark job costs about the same fixed overhead
whatever it reads, so the job count of a sink batch or a maintenance
cycle bounds its latency the way exchange counts bound a query's
(``test_plans.PLAN_BUDGETS``). Each budget is counted under its own job
group; the concurrent writes inherit the caller's group, so their jobs
are counted too.
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from astarte_data_updater_plant_spark.storage.jobs import (
    compact_property_log,
    run_maintenance,
    vacuum_datastreams,
)
from astarte_data_updater_plant_spark.streaming.pipeline import run_batch
from astarte_data_updater_plant_spark.streaming.sinks import write_outputs_batch

from .fixtures_flow import messages_frame

JOB_BUDGETS = {
    # one job per table write, two for the shuffled events_log, plus
    # the one action that materialises the input: the device logs are
    # appended without a shuffle
    "write_outputs_batch": 8,
    # two rewrites of one shuffle each, two jobs apiece; the logs are
    # read with declared schemas and partitioned by realm only, so no
    # footer-inference or parallel-listing job runs, and the row counts
    # are observed during the writes, not read back
    "run_maintenance": 4,
}

_GROUPS = itertools.count()


def _group_jobs(spark, action) -> list[int]:
    """Ids of the jobs ``action`` runs, under a fresh job group."""
    sc = spark.sparkContext
    group = f"job_budget_{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup("other", "")
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _fold_stages(spark, job_ids: list[int]) -> tuple[list, list]:
    """The completed stages of ``job_ids`` that ran the grouped-map fold,
    and the others that read its cached output. A stage reading the
    cache carries the fold in its RDD lineage too, but only a stage
    that really ran the fold read the fold's bucket shuffle."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    folds, readers = [], []
    for sid in {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}:
        info = tracker.getStageInfo(sid)
        if info is None or info.numCompletedTasks == 0:
            continue
        names, todo = set(), [store.operationGraphForStage(sid).rootCluster()]
        while todo:
            cluster = todo.pop()
            names.add(cluster.name())
            children = cluster.childClusters().iterator()
            while children.hasNext():
                todo.append(children.next())
        stage = store.lastStageAttempt(sid)
        if "FlatMapGroupsInPandas" in names and stage.shuffleReadRecords() > 0:
            folds.append(stage)
        elif "InMemoryTableScan" in names:
            readers.append(stage)
    return folds, readers


def test_sink_and_maintenance_job_budgets(spark, tmp_path):
    base = str(tmp_path / "tables")
    # the fold's own jobs are not the sink's: run it outside the group
    outputs = run_batch(messages_frame(spark)).cache()
    outputs.count()
    sink_jobs = _group_jobs(spark, lambda: write_outputs_batch(outputs, base))
    assert len(sink_jobs) <= JOB_BUDGETS["write_outputs_batch"], sink_jobs
    maint_jobs = _group_jobs(
        spark, lambda: run_maintenance(spark, base, F.lit("2020-01-01").cast("timestamp"))
    )
    assert len(maint_jobs) <= JOB_BUDGETS["run_maintenance"], maint_jobs


def test_sink_runs_the_fold_once(spark, tmp_path):
    """Given an unmaterialised run_batch output, the fold runs exactly
    once, and it has finished before any of the six concurrent writes
    starts: they read its cached output rather than race to build it."""
    outputs = run_batch(messages_frame(spark))
    jobs = _group_jobs(spark, lambda: write_outputs_batch(outputs, str(tmp_path / "tables")))
    folds, readers = _fold_stages(spark, jobs)
    assert len(folds) == 1
    fold_done = folds[0].completionTime().get().getTime()
    assert readers and all(r.submissionTime().get().getTime() >= fold_done for r in readers)


def _plan_nodes(spark, action) -> list[list[str]]:
    """The executed plan of each SQL execution ``action`` runs, as the
    names of its nodes (AQE's final plan, query stages included)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def ids() -> set[int]:
        execs = store.executionsList().iterator()
        out = set()
        while execs.hasNext():
            out.add(execs.next().executionId())
        return out

    before = ids()
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    plans = []
    for eid in sorted(ids() - before):
        nodes = store.planGraph(eid).allNodes()
        plans.append([nodes.apply(i).name() for i in range(nodes.size())])
    return plans


def test_maintenance_rewrites_shuffle_once(spark, tmp_path):
    """Compaction and vacuum each run as one plan with exactly one
    Exchange: the LWW window and the (realm, bucket) layout share the
    compaction's, and the vacuum's scan feeds the layout's directly."""
    base = str(tmp_path / "tables")
    write_outputs_batch(run_batch(messages_frame(spark)), base)
    for rewrite in (
        lambda: compact_property_log(
            spark, f"{base}/property_log", f"{base}/individual_properties"
        ),
        lambda: vacuum_datastreams(
            spark,
            f"{base}/individual_datastreams",
            F.lit("2020-01-01").cast("timestamp"),
            f"{base}/individual_datastreams_vacuumed",
        ),
    ):
        (plan,) = _plan_nodes(spark, rewrite)
        assert plan.count("Exchange") == 1, plan
