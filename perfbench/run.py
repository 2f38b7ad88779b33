"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prints a detail line, then as the last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones). Exits non-zero when any operation fails or any output
differs from its expected value.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_backfill", "iot_queries")
#: cold set-ups per run: this process's own and SETUPS - 1 in fresh
#: processes after it; setup_s is their median (a cold set-up takes
#: 8-12 s on 4 vCPUs, so a third would not fit the run budget)
SETUPS = 2

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_latency_p50_s": "s",
    "throughput_per_s": "1/s",
}

#: one cold set-up in a fresh interpreter, timed from its first line
COLD_SET_UP = """
import time
origin = time.perf_counter()
import json
from perfbench.run import cold_set_up, shut_down
spark, layers = cold_set_up(origin)
print(json.dumps(layers), flush=True)
shut_down(spark)
"""


def cold_set_up(origin: float) -> tuple[object, dict]:
    """Start the engine cold: from process start (``origin``), engine
    import and JVM launch included, to a session and a loaded registry.
    Returns the session and the set-up's times."""
    from astarte_data_updater_plant_spark.plans.registry import queries_map
    from astarte_data_updater_plant_spark.session import get_spark

    spark = get_spark("perfbench")
    start_s = time.perf_counter() - origin
    t = time.perf_counter()
    queries_map()
    load_s = time.perf_counter() - t
    return spark, {"setup_s": start_s + load_s, "session.start_s": start_s, "registry.load_s": load_s}


def cold_set_up_in_child() -> dict:
    """The times of one cold set-up in a fresh process, which stops its
    JVM and waits for it before it exits."""
    child = subprocess.Popen(
        [sys.executable, "-c", COLD_SET_UP], env=dict(os.environ, PYTHONPATH=CHECKOUT),
        stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        out, _ = child.communicate(timeout=120)
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        raise
    if child.returncode != 0:
        raise RuntimeError(f"cold set-up exited with {child.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def shut_down(spark) -> None:
    """Stop the application and the JVM, and wait until every process
    this run started has ended."""
    from pyspark import SparkContext

    from perfbench.measure import descendants

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while (left := descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, CHECKOUT)
    try:
        import astarte_data_updater_plant_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {CHECKOUT}: {exc}", file=sys.stderr)
        return 2
    from perfbench.measure import Tracer

    # one scratch root per run, inside the checkout: sources, output
    # trees, Spark local dirs and temp files all live here, and only
    # this root is deleted at the end
    base = os.path.join(CHECKOUT, ".perfbench")
    root = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(root, "data"))
    os.makedirs(os.path.join(root, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    # the JVM's temp dir, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    free_gb = shutil.disk_usage(root).free / 1e9
    os.chdir(root)

    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with tracer.span("setup", request="setup-0"):
            spark, setup = cold_set_up(PROCESS_START)
        setups = [setup]
        from perfbench import workloads

        run = workloads.Run(spark, root, args.seed, args.seconds, tracer, PROCESS_START)
        run.mark("setup")
        result = getattr(workloads, args.workload)(run)
        shut_down(spark)
        spark = None
        run.mark("shutdown")
        for i in range(1, SETUPS):
            with tracer.span("setup", request=f"setup-{i}"):
                setups.append(cold_set_up_in_child())
        run.mark("setups")
    finally:
        if spark is not None:
            shut_down(spark)
        os.chdir(CHECKOUT)
        shutil.rmtree(root, ignore_errors=True)

    def setup_median(key: str) -> float:
        return statistics.median(s[key] for s in setups)

    e2e = dict(result["e2e"], setup_s=setup_median("setup_s"))
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "free_disk_gb_at_start": round(free_gb, 2),
        "setups": setups,
        "timeline_s": run.timeline,
        "end_to_end": e2e,
        **result["detail"],
        "mismatches": run.mismatches,
    }
    if tracer.enabled:
        layers = dict(result["layers"])
        layers.update({k: setup_median(k) for k in ("session.start_s", "registry.load_s")})
        ops = max(1, run.attempted)
        layers["trace.overhead_ms_per_op"] = tracer.overhead_s / ops * 1e3
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in sorted(layers.items())}
        trace_file = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
        with open(trace_file, "w") as fh:
            json.dump({"detail": detail, "spans": tracer.dump(PROCESS_START)}, fh)
        detail["trace_file"] = os.path.relpath(trace_file, CHECKOUT)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    correct = not run.mismatches
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if correct and run.failed == 0 else 1


def _layer_unit(name: str) -> str:
    for suffix, unit in (
        ("_s", "s"), ("_ms_per_op", "ms"), ("_us_per_msg", "us"), ("_bytes", "B"), ("_mb", "MB"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
