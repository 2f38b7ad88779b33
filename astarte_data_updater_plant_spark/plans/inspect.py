"""Physical-plan introspection: snapshot and assert on what Catalyst
actually chose.

Correctness parity says nothing about whether a query would survive a
100x scale-up — that is a property of the PHYSICAL plan: did the
filter reach the parquet scan (`PushedFilters`), did the scan read
only the projected columns (`ReadSchema`), did the small side
broadcast (`BroadcastHashJoin`), how many shuffles (`Exchange`) does
one pass cost. This module makes those properties test-assertable and
dumps per-query plan snapshots so regressions in plan shape are as
visible as regressions in results.

Usage:
    python -m astarte_data_updater_plant_spark.plans.inspect q06_forecast_revenue
    python -m astarte_data_updater_plant_spark.plans.inspect --all PLANS.md
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The string ``df.explain(mode)`` would print, captured."""
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def pushed_filters(plan: str) -> list[str]:
    """Every predicate that reached a parquet scan."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            # split on top-level commas only (filters like In(a, [1,2]) nest)
            depth, start = 0, 0
            for i, ch in enumerate(body + ","):
                if ch in "([":
                    depth += 1
                elif ch in ")]":
                    depth -= 1
                elif ch == "," and depth == 0:
                    out.append(body[start:i].strip())
                    start = i + 1
    return out


def read_schemas(plan: str) -> list[str]:
    """The column set each parquet scan actually reads."""
    return [m.group(1) for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", plan)]


def count_op(plan: str, op: str) -> int:
    """Number of distinct physical operator NODES (formatted mode
    prints each node twice — once in the tree, once as a numbered
    '(N) Op' detail header — so count only the detail headers)."""
    n = len(re.findall(rf"\(\d+\) {re.escape(op)}\b", plan))
    if n == 0 and re.search(rf"\b{re.escape(op)}\b", plan):
        # plan string not in formatted mode (e.g. 'simple'): raw count
        return len(re.findall(rf"\b{re.escape(op)}\b", plan))
    return n


def codegen_stages(spark, build) -> int:
    """Distinct whole-stage-codegen spans of ``build()``'s plan.

    AQE keeps the pre-execution plan opaque (no codegen annotations
    until runtime), so re-plan the same query with AQE off — codegen
    span boundaries are decided by the deterministic physical planner,
    not by AQE, so the count is the one the adaptive run compiles."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = formatted_plan(build())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    return len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))


def scan_columns(plan: str) -> list[set[str]]:
    """Per-scan set of column names read from parquet."""
    cols = []
    for schema in read_schemas(plan):
        cols.append(set(re.findall(r"[<,](\w+):", schema)))
    return cols


def _walk_plan(node):
    yield node
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        # AQE wraps the query; exchanges live under initialPlan
        yield from _walk_plan(node.initialPlan())
    for i in range(node.children().size()):
        yield from _walk_plan(node.children().apply(i))


def empty_partition_windows(df: DataFrame) -> list[str]:
    """Window nodes with an EMPTY partition spec in the optimized plan.

    ``Window.orderBy(...)`` with no ``partitionBy`` compiles to WindowExec
    on ONE partition — Spark logs "Moving all data to a single partition"
    and serializes the whole input through one task. Such a node is a
    100 TB scale-killer wherever the input is table-sized; this walker
    makes it a testable plan property (see ``functions/ranks.py`` for
    the parallel replacement).
    """
    out: list[str] = []
    for node in _walk_plan(df._jdf.queryExecution().optimizedPlan()):
        name = node.getClass().getSimpleName()
        if name in ("Window", "WindowGroupLimit") and node.partitionSpec().size() == 0:
            out.append(node.simpleString(120))
    return out


def distinct_exchanges(df: DataFrame) -> int:
    """Distinct shuffle computations in one pass of the plan.

    The pre-AQE physical plan PRINTS an identical exchange subtree once
    per consumer branch, but at runtime AQE materializes each distinct
    shuffle stage once and wires ReusedExchange into every other branch
    (verified on the two-phase rank plans: the range shuffle executes
    once, its two re-reads are ReusedExchange).  Counting printed
    Exchange nodes therefore overstates the work a multi-branch plan
    does; counting DISTINCT canonicalized exchanges matches what
    executes.
    """
    seen = set()
    for node in _walk_plan(df._jdf.queryExecution().executedPlan()):
        if node.getClass().getSimpleName() == "ShuffleExchangeExec":
            seen.add(node.canonicalized().hashCode())
    return len(seen)


def plan_summary(df: DataFrame) -> dict:
    """One-line scale profile of a query's physical plan."""
    plan = formatted_plan(df)
    return {
        "exchanges": distinct_exchanges(df),
        "broadcast_joins": count_op(plan, "BroadcastHashJoin"),
        "shuffle_joins": count_op(plan, "SortMergeJoin")
        + count_op(plan, "ShuffledHashJoin"),
        "nested_loop_joins": count_op(plan, "BroadcastNestedLoopJoin"),
        "pushed_filters": len(pushed_filters(plan)),
        "parquet_scans": len(read_schemas(plan)),
        "python_stages": count_op(plan, "MapInPandas")
        + count_op(plan, "ArrowEvalPython")
        + count_op(plan, "FlatMapGroupsInPandas"),
    }


#: the parallelism ``PLANS.md`` is generated under, whatever the box:
#: shuffle widths follow ``SPARK_GRAFT_CPUS``, and a snapshot taken on a
#: box with another core count would differ in every exchange
SNAPSHOT_CPUS = "4"


def _main(argv: list[str]) -> None:
    from ..session import get_spark
    from .registry import queries_map

    if argv and argv[0] == "--all":
        os.environ["SPARK_GRAFT_CPUS"] = SNAPSHOT_CPUS
    spark = get_spark()
    sf_dir = "/root/testdata/sf0.001"
    qs = queries_map()
    if argv and argv[0] == "--catalog":
        _write_catalog(argv[1] if len(argv) > 1 else "OPERATORS.md")
        return
    if argv and argv[0] == "--all":
        out_path = argv[1] if len(argv) > 1 else "PLANS.md"
        import bench

        lines = [
            "# Physical plan snapshots (sf0.001 inputs)\n\n",
            "Per-query scale profile — shuffle count, join strategy, "
            "pushdown reach, Python stages — then full formatted plans "
            "for the benchmark headline set. Regenerate with\n"
            "`python -m astarte_data_updater_plant_spark.plans.inspect --all`, "
            f"which plans at {SNAPSHOT_CPUS} cores on any box and drops expression "
            "and exchange ids, so a regeneration diffs only where a plan changed.\n\n",
            "| query | exchanges | bcast joins | shuffle joins | nl joins "
            "| pushed filters | scans | python stages |\n|---|---|---|---|---|---|---|---|\n",
        ]
        dfs = {}
        for name, fn in sorted(qs.items()):
            if name.startswith("s"):  # streaming entries need a stream, skip
                continue
            dfs[name] = fn(spark, sf_dir)
            s = plan_summary(dfs[name])
            lines.append(
                f"| {name} | {s['exchanges']} | {s['broadcast_joins']} | "
                f"{s['shuffle_joins']} | {s['nested_loop_joins']} | "
                f"{s['pushed_filters']} | {s['parquet_scans']} | "
                f"{s['python_stages']} |\n"
            )
        for name in bench.HEADLINE:
            lines.append(f"\n## {name}\n")
            # expression ids (``col#123``) and exchange ids
            # (``[plan_id=45]``) count up across everything the session
            # planned before, so they say nothing about a plan
            plan = re.sub(r"#\d+", "#", formatted_plan(dfs[name]))
            plan = re.sub(r"plan_id=\d+", "plan_id", plan)
            lines.append("```\n" + plan + "\n```\n")
        with open(out_path, "w") as f:
            f.writelines(lines)
        print(f"wrote {out_path}")
    else:
        for name in argv:
            df = qs[name](spark, sf_dir)
            print(f"== {name} ==\n{plan_summary(df)}\n{formatted_plan(df)}")


def _write_catalog(out_path: str = "OPERATORS.md") -> None:
    """Generate the user-facing operator catalog from the registry:
    every declared query with its implementing module, oracle status,
    and scale-design doc. The registry is the single source of truth,
    so this file can never drift from the code."""
    from .registry import QUERIES, _load_all

    _load_all()
    lines = [
        "# Operator catalog\n\n",
        "Auto-generated from `plans/registry.py` "
        "(`python -m astarte_data_updater_plant_spark.plans.inspect --catalog`). "
        f"{len(QUERIES)} declared queries, every one driver-runnable via "
        "`__spark_entry__.queries()`; entries marked `oracle` are "
        "hash-checked against DuckDB per round.\n",
    ]
    by_module: dict[str, list] = {}
    for name, spec in sorted(QUERIES.items()):
        mod = spec.fn.__module__.rsplit(".", 1)[-1]
        by_module.setdefault(mod, []).append((name, spec))
    for mod in sorted(by_module):
        lines.append(f"\n## operators/{mod}.py\n\n")
        for name, spec in by_module[mod]:
            oracle = "oracle" if spec.oracle else "rows-only"
            doc = " ".join((spec.doc or "").split())
            lines.append(f"### `{name}` ({oracle})\n\n{doc}\n\n")
    with open(out_path, "w") as f:
        f.writelines(lines)
    print(f"wrote {out_path} ({len(QUERIES)} entries)")


if __name__ == "__main__":
    import sys

    _main(sys.argv[1:])
