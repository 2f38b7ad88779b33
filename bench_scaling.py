#!/usr/bin/env python
"""Two-point scaling bench: measures how every scale-sensitive operator
family's runtime grows from R=1 to R=10 (~sf0.1 -> ~sf1.0) and writes
``BENCH_SCALING_r{N}.json``.

Why this exists (r5 verdict, item 1): every 100 TB claim in the
operator docstrings rested on PLAN SHAPE (keyed shuffles, no
single-partition windows, broadcast small sides). A two-point curve is
the cheapest empirical check of those claims: a family whose plan is
truly shuffle-linear should cost ~R x (plus fixed overhead) at R x the
data; a superlinear ratio names a design bug no plan inspection caught
(e.g. an accidental O(n^2) candidate stage or a driver-side collect
that grows with the input).

Methodology
-----------
- The R=10 dataset is built BY replication of sf0.1 with key shifts, so
  join fan-outs, group cardinalities per key, and dup-structure stay
  constant while volume grows 10x (what a bigger crawl actually looks
  like):
  * fact keys (orderkey/custkey/partkey/suppkey/doc_id/vec_id/
    event_id/user_id) shift by copy * (max_key+1) — referential
    integrity holds within each copy, per-key group sizes unchanged;
  * region/nation stay fixed (bounded by geography, as in TPC-H);
  * document text is interleaved with a per-copy tag token (" c<k> ")
    so cross-copy shingle overlap is ZERO — near-dup structure is
    preserved within a copy and not artificially inflated across
    copies (a naive 10x copy would turn every doc into a 10-clique and
    square the pair count);
  * embeddings get a deterministic per-copy, per-dimension jitter
    (hash-derived, +-0.05) so ANN top-k neighborhoods differ per copy
    while the geometry stays realistic.
  BOTH scale points (R=1 and R=10) pass through the same transform, so
  the ratio compares identical per-row work at 10x volume.
- Every timed run is COLD: every plan-time memo is
  cleared first, so the ratio covers the full pipeline including
  signature/band materialization, and timing includes plan build (the
  two-phase rank helpers do their bounded boundary-sample action at
  build time).
- Per query and scale: one untimed warm-up (codegen/class-load, paid
  once on a long-lived cluster) then ``RUNS`` timed runs; the median is
  reported with the spread.
- ``ratio`` = r10_sec / r1_sec. Near-linear families land well under
  ~12x (10x data + fixed overhead amortization); anything above
  flags superlinearity.

Adversarial hot-bucket corpus (r5 verdict, item 6): a variant of the
R=10 documents table where ~2.4% of docs collapse onto one boilerplate
template (5 near-identical variants — the crawl-dup pathology LSH
banding is worst at: one band bucket holding ~1200 docs, far past
SELF_PAIR_BUCKET_CAP=256, ~0.6M candidate pairs). q42 is timed on it so
``guarded_self_pairs``' salted split is MEASURED under real skew, not
just semantics-checked at n=1000 (tests/test_skew.py).

Usage:  python bench_scaling.py [round_number]
        python bench_scaling.py --decade3-fresh [round_number]
            the whole heavy family + ingest at R=10/30/100, ONE FRESH
            SUBPROCESS PER QUERY (zero in-session pollution); merges
            'decade3_fresh' into the round artifact; each query's block
            lands in the artifact as it completes, and a crashed
            child's finished legs are salvaged
Env:    SPARK_GRAFT_SCALE_SRC (default /root/testdata/sf0.1)
        SPARK_GRAFT_SCALE_DIR (default /tmp/scaledata)
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

# One long session processes 30x-replicated shuffles, thousands of
# stages, and accumulated broadcasts: the r4-era 12g default (sized for
# sf0.1 benches) OOMed the r8 run at the q199-variance block. The box
# has 128 GiB for 32 cores; give the scaling harness a scale-matched
# heap unless the caller overrides.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")

from astarte_data_updater_plant_spark.plans.fragments import clear_memos
from astarte_data_updater_plant_spark.plans.registry import queries_map
from astarte_data_updater_plant_spark.session import get_spark

RUNS = 2

#: VERDICT r10 ask #3: the dedup candidate family's cold wall clocks
#: disperse +-30% under memory pressure (q47_variance, r10), so a
#: median of 2 moves with GC interleaving; every dedup-family point
#: gets 4 timed runs at every scale so decade ratios ride 4 raw times
DISPERSION_RUNS = 4
DISPERSION_QUERIES = frozenset((
    "q40_exact_dedup",
    "q41_minhash_signatures",
    "q42_lsh_near_dup_pairs",
    "q43_simhash",
    "q44_ngram_jaccard_pairs",
    "q45_near_dup_components",
    "q47_dedup_keep_best",
    "q199_prefix_filter_jaccard",
    "q204_containment_pairs",
))

#: the scale-sensitive families named by the r5 verdict: dedup ladder,
#: two-phase global ranks, LSH/IVF ANN, one TPC-H star join
SCALE_QUERIES = (
    "q05_local_supplier_volume",
    "q40_exact_dedup",
    "q41_minhash_signatures",
    "q42_lsh_near_dup_pairs",
    "q43_simhash",
    "q44_ngram_jaccard_pairs",
    "q45_near_dup_components",
    "q47_dedup_keep_best",
    "q53_lsh_ann_topk",
    "q105_ivf_trained_topk",
    "q199_prefix_filter_jaccard",
    "q200_sq8_adc_topk",
    "q204_containment_pairs",
    "q126_curriculum_tiers",
    "q145_roc_auc",
    "q170_zipf_fit",
    # r6 additions: keyed-window fold (CUSUM) and the heaviest
    # two-phase-global-order consumer (64x-row explode + rank)
    "q207_cusum_changepoint",
    "q210_quantile_normalize",
)

#: second-decade subset (r6 verdict item 4): the dedup candidate family
#: is the steepest on the board at r10 (5.3-7.7x for 10x data); a third
#: scale point pins whether those ratios FLATTEN (fixed costs
#: amortizing -> the family is shuffle-linear with a constant) or
#: COMPOUND (candidate-pair growth -> a real superlinearity). R2
#: defaults to 30 (~sf3: 18M lineitem rows, 150k docs) so the point is
#: runnable per-round; override with SPARK_GRAFT_SCALE_R2.
DECADE2_QUERIES = (
    "q42_lsh_near_dup_pairs",
    "q45_near_dup_components",
    "q47_dedup_keep_best",
    "q199_prefix_filter_jaccard",
    "q204_containment_pairs",
)

#: key-shift columns per table (offset = per-copy stride = max+1 of the
#: source column, computed once)
KEY_SHIFTS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
#: offsets must be consistent across tables sharing a key domain
SHARED_DOMAINS = {
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
}
FIXED_DIMS = ("region", "nation")

BOILERPLATE = (
    "subscribe to our newsletter accept all cookies to continue reading "
    "this content is available to registered members only please sign in "
    "or create a free account to view the full article terms of service "
    "privacy policy all rights reserved copyright twenty twenty four site "
    "map contact us about careers advertise help center frequently asked "
    "questions returns shipping policies gift cards store locator deals"
)


def _offsets(src: str) -> dict[str, int]:
    import duckdb

    offs: dict[str, int] = {}
    for tbl, cols in KEY_SHIFTS.items():
        for c in cols:
            if c in SHARED_DOMAINS:
                continue
            (mx,) = duckdb.sql(
                f"SELECT MAX({c}) FROM '{src}/{tbl}.parquet'"
            ).fetchone()
            offs[c] = int(mx) + 1
    for c, (_t, base) in SHARED_DOMAINS.items():
        offs[c] = offs[base]
    return offs


def build_scaled(spark, src: str, out: str, r: int) -> None:
    """Deterministic R-fold replication of ``src`` into ``out``."""
    marker = os.path.join(out, "_BUILT")
    if os.path.exists(marker):
        return
    os.makedirs(out, exist_ok=True)
    offs = _offsets(src)
    for tbl in FIXED_DIMS:
        spark.read.parquet(f"{src}/{tbl}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{tbl}.parquet")
    for tbl, cols in KEY_SHIFTS.items():
        base = spark.read.parquet(f"{src}/{tbl}.parquet")
        types = dict(base.dtypes)
        copies = []
        for k in range(r):
            d = base
            for c in cols:
                d = d.withColumn(
                    c, (F.col(c) + F.lit(k * offs[c])).cast(types[c])
                )
            if tbl == "documents":
                # per-copy tag between every pair of tokens: within-copy
                # dup structure preserved, cross-copy shingle overlap 0
                d = d.withColumn(
                    "text", F.regexp_replace("text", " ", f" c{k} ")
                ).withColumn("n_chars", F.length("text").cast("long"))
            if tbl == "embeddings":
                # per-copy, per-dimension hash jitter in [-0.05, 0.05]
                def _jitter(copy):
                    def f(x, i):
                        h = F.pmod(
                            F.xxhash64(F.col("vec_id"), F.lit(copy), i),
                            F.lit(1001),
                        )
                        return x + (h - 500).cast("double") / 10000.0

                    return f

                d = d.withColumn(
                    "embedding",
                    F.transform("embedding", _jitter(k)).cast("array<float>"),
                )
            copies.append(d)
        full = copies[0]
        for d in copies[1:]:
            full = full.unionByName(d)
        full.write.mode("overwrite").parquet(f"{out}/{tbl}.parquet")
    with open(marker, "w") as fh:
        fh.write(f"r={r} src={src}\n")


def build_hot_corpus(spark, scaled10: str, out: str) -> dict:
    """Adversarial variant of the R=10 documents: one boilerplate
    template (5 near-identical variants) replaces ~2.4% of texts."""
    marker = os.path.join(out, "_BUILT")
    if not os.path.exists(marker):
        os.makedirs(out, exist_ok=True)
        docs = spark.read.parquet(f"{scaled10}/documents.parquet")
        hot_text = F.concat(
            F.lit(BOILERPLATE),
            F.lit(" variant "),
            (F.col("doc_id") % 5).cast("string"),
        )
        docs.withColumn(
            "text",
            F.when(F.col("doc_id") % 42 == 0, hot_text).otherwise(
                F.col("text")
            ),
        ).withColumn("n_chars", F.length("text").cast("long")).write.mode(
            "overwrite"
        ).parquet(f"{out}/documents.parquet")
        with open(marker, "w") as fh:
            fh.write("hot\n")
    import duckdb

    (n_hot,) = duckdb.sql(
        f"SELECT COUNT(*) FROM '{out}/documents.parquet/*.parquet' "
        "WHERE doc_id % 42 = 0"
    ).fetchone()
    return {"n_hot_docs": int(n_hot)}


def _stage_stats(spark) -> dict[int, dict] | None:
    """Per-stage shuffle/spill snapshot from the app status store,
    keyed by stageId, or None if the py4j surface moved. Diffing two
    snapshots around one run isolates that run's stages
    (``_fresh_stages``); stage eviction (spark.ui.retainedStages) can
    only UNDERSTATE a run's spill, never fake it, so a multi-GB reading
    is trustworthy evidence of spill."""
    try:
        # core AppStatusStore (NOT sharedState().statusStore(), which is
        # the SQL-plan store and has no stage metrics); Spark 4 removed
        # the default args from stageList, so pass the full signature
        gw = spark.sparkContext._gateway
        store = spark.sparkContext._jsc.sc().statusStore()
        sl = store.stageList(
            gw.jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
        )
        it = sl.iterator()
        out: dict[int, dict] = {}
        while it.hasNext():
            s = it.next()
            out[int(s.stageId())] = {
                "tasks": int(s.numCompleteTasks()),
                "spill_bytes": int(s.memoryBytesSpilled())
                + int(s.diskBytesSpilled()),
                "shuf_write_gb": round(int(s.shuffleWriteBytes()) / 1e9, 2),
                "write_recs_m": round(int(s.shuffleWriteRecords()) / 1e6, 1),
                "read_recs_m": round(int(s.shuffleReadRecords()) / 1e6, 1),
            }
        return out
    except Exception:
        return None


def _fresh_stages(pre: dict | None, post: dict | None) -> list[dict] | None:
    """The stages in ``post`` that ``pre`` did not hold, largest spill
    first (then most written records), or None if either snapshot
    failed."""
    if pre is None or post is None:
        return None
    fresh = [v for k, v in post.items() if k not in pre]
    fresh.sort(key=lambda v: (-v["spill_bytes"], -v["write_recs_m"]))
    return fresh


def timed_runs(run, *, warmups: int = 1, runs: int = RUNS) -> dict:
    for _ in range(warmups):
        clear_memos()
        run()
    ts = []
    for _ in range(runs):
        clear_memos()
        t0 = time.perf_counter()
        run()
        ts.append(time.perf_counter() - t0)
    return {
        "sec": round(statistics.median(ts), 3),
        "spread": round(max(ts) - min(ts), 3),
        "raw": [round(t, 3) for t in ts],
    }


def ingest_point(spark, sf_dir: str) -> dict:
    from astarte_data_updater_plant_spark.sources.stream import (
        events_as_messages,
        telemetry_interface,
    )
    from astarte_data_updater_plant_spark.streaming.pipeline import run_batch

    msgs = events_as_messages(spark, sf_dir).persist()
    try:
        n = msgs.count()

        def one():
            run_batch(msgs, interfaces=(telemetry_interface(),)).write.format(
                "noop"
            ).mode("overwrite").save()

        m = timed_runs(one)
    finally:
        msgs.unpersist()
    return {"msgs": n, **m, "msgs_per_sec": round(n / m["sec"])}


def _round_artifact_path(rnd: str) -> str:
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"BENCH_SCALING_r{int(rnd):02d}.json"
        if rnd.isdigit()
        else "BENCH_SCALING.json",
    )


def _merge_round_artifact(rnd: str, key: str, value) -> None:
    """Fold one experiment block into the round's BENCH_SCALING
    artifact, creating it if the full sweep hasn't run this round —
    ``--decade3-fresh`` lands under its own key so the round artifact
    is assembled incrementally instead of requiring one multi-hour
    sitting."""
    path = _round_artifact_path(rnd)
    data: dict = {}
    if os.path.isfile(path):
        with open(path) as fh:
            data = json.load(fh)
    else:
        data = {
            "metric": "scaling_experiments",
            "unit": "mixed",
            "note": (
                "assembled from targeted single-experiment sittings; "
                "the r1/r10 sweep context is BENCH_SCALING_r11.json"
            ),
        }
    data[key] = value
    with open(path, "w") as fh:
        json.dump(data, fh, indent=1)


#: fresh-process decade sweep set (VERDICT r11 ask #2): the full heavy
#: dedup family + ingest, each measured in its OWN subprocess at
#: R=10/30/100 so the per-x ratios carry zero in-session pollution
#: (the r11 q41 recheck measured ~4x pollution from a 2h session tail)
DECADE3_FRESH_QUERIES = (
    "q40_exact_dedup",
    "q41_minhash_signatures",
    "q42_lsh_near_dup_pairs",
    "q45_near_dup_components",
    "q47_dedup_keep_best",
    "q199_prefix_filter_jaccard",
    "q204_containment_pairs",
    "ingest",
)


def decade3_point(name: str, scales: str) -> None:
    """Child mode: ONE query (or 'ingest'), each scale cold, in this
    fresh process. Prints a cumulative PROBE_JSON line after EVERY
    scale point (ADVICE r12: a crash at a later leg — q204's R=100
    disk exhaustion — must not discard the already-measured earlier
    legs; the parent takes the last line it finds)."""
    src = os.environ.get("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    root = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/scaledata")
    spark = get_spark(f"decade3_{name}")
    qmap = queries_map()
    out: dict = {"name": name, "scales": {}}
    for r in (int(x) for x in scales.split(",")):
        r_dir = f"{root}/r{r}"
        build_scaled(spark, src, r_dir, r)
        if name == "ingest":
            out["scales"][f"r{r}"] = ingest_point(spark, r_dir)
        else:
            def one(q=qmap[name], d=r_dir):
                q(spark, d).write.format("noop").mode("overwrite").save()

            # warmups=0 matches the in-session decade3 methodology;
            # a fresh process IS the cold condition under test
            m = timed_runs(one, warmups=0, runs=RUNS)
            # VERDICT r12 ask #3 estimator fix: sub-5s points are
            # first-touch dominated (q40's r10 raws [7.695, 1.121] in
            # r12), so cheap points get a third raw run — the median
            # of 3 demotes the one-off first-touch outlier instead of
            # averaging it into a 2-run median
            if min(m["raw"]) < 5.0:
                extra = timed_runs(one, warmups=0, runs=1)
                raw = m["raw"] + extra["raw"]
                m = {
                    "sec": round(statistics.median(raw), 3),
                    "spread": round(max(raw) - min(raw), 3),
                    "raw": raw,
                }
            out["scales"][f"r{r}"] = m
        print(f"{name} r{r}: {out['scales'][f'r{r}']}", flush=True)
        print("PROBE_JSON " + json.dumps(out), flush=True)


def _decade3_methodology(scales: str) -> str:
    return (
        "one fresh subprocess per query; every point cold (every "
        "plan-time memo cleared, warmups=0, "
        f"{RUNS} timed runs, a 3rd raw added when a point reads "
        "sub-5s so first-touch outliers are demoted by the median — "
        "VERDICT r12 ask #3); per-x ratios computed within each "
        "process's own points, so zero in-session pollution (VERDICT "
        f"r11 ask #2); scales={scales}; partial legs of a crashed "
        "child are salvaged from its last cumulative PROBE_JSON line "
        "and the artifact is merged incrementally per query (ADVICE "
        "r12)"
    )


def decade3_fresh(rnd: str) -> None:
    """Parent mode: one subprocess per query (the q41_r100_recheck
    methodology that refuted r11's false 3.9 per-x), R=10/30/100 each,
    per-x ratios computed WITHIN each fresh process's own scale
    points. Each query's block is merged into the round artifact AS IT
    COMPLETES (ADVICE r12: one bad child must not lose the multi-hour
    sweep), and a crashed child's completed legs are salvaged from its
    last cumulative PROBE_JSON line."""
    scales = os.environ.get("SPARK_GRAFT_DECADE_SCALES", "10,30,100")
    rs = [int(x) for x in scales.split(",")]
    # SPARK_GRAFT_DECADE_QUERIES reorders/subsets the sweep (comma
    # list): with incremental per-query merging, running in priority
    # order lets a clock-bounded round keep the legs that matter most
    names = [
        n
        for n in os.environ.get(
            "SPARK_GRAFT_DECADE_QUERIES", ",".join(DECADE3_FRESH_QUERIES)
        ).split(",")
        if n
    ]
    result: dict[str, dict] = {}
    scratch_root = tempfile.mkdtemp(prefix="bench_scaling_local_")
    try:
        for name in names:
            result[name] = _decade3_child(name, scales, rs, scratch_root)
            # incremental merge: the artifact is valid after every
            # query, not only after the full multi-hour sweep (ADVICE r12)
            _merge_round_artifact(
                rnd,
                "decade3_fresh",
                {
                    "methodology": _decade3_methodology(scales),
                    "scales": scales,
                    "queries": dict(result),
                },
            )
    finally:
        shutil.rmtree(scratch_root, ignore_errors=True)
    print(json.dumps(result))


def run_child(
    cmd: list[str], scratch_root: str, name: str, **kwargs
) -> subprocess.CompletedProcess:
    """``subprocess.run(cmd)`` with the child's SPARK_LOCAL_DIRS set to
    a fresh directory under ``scratch_root``, deleted when the child
    exits. A crashed child JVM leaves its shuffle scratch behind (r13:
    q204's failed R=100 leg stranded a 39 GB blockmgr dir that halved
    the disk for every later child); deleting only directories this
    parent created never touches a concurrent session's scratch."""
    local = tempfile.mkdtemp(prefix=f"{name}-", dir=scratch_root)
    try:
        return subprocess.run(
            cmd, env={**os.environ, "SPARK_LOCAL_DIRS": local}, **kwargs
        )
    finally:
        shutil.rmtree(local, ignore_errors=True)


def _decade3_child(name: str, scales: str, rs: list[int], scratch_root: str) -> dict:
    """One query's fresh-subprocess decade sweep, with a failed child's
    completed legs salvaged from its last cumulative PROBE_JSON line."""

    def _last_probe(stdout: str) -> dict:
        lines = [
            l for l in (stdout or "").splitlines()
            if l.startswith("PROBE_JSON ")
        ]
        if not lines:
            return {}
        return json.loads(lines[-1][len("PROBE_JSON "):]).get("scales", {})

    t0 = time.perf_counter()
    block: dict = {}
    try:
        r = run_child(
            [sys.executable, os.path.abspath(__file__),
             "--decade3-point", name, scales],
            scratch_root, name,
            capture_output=True, text=True, timeout=5400, check=True,
        )
        d = _last_probe(r.stdout)
        if not d:
            raise IndexError("no PROBE_JSON line in child stdout")
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired,
            IndexError, json.JSONDecodeError) as e:
        # an R=100 point that exceeds the local pool/disk is a
        # finding, not a silent hole — record it honestly, and
        # salvage whatever legs the child DID finish (its
        # cumulative PROBE_JSON lines)
        err_txt = getattr(e, "stderr", "") or ""
        block["err"] = type(e).__name__
        block["stderr_tail"] = err_txt[-800:]
        # the named root exception is what makes a failed leg a
        # finding instead of a mystery (r12's q204 record carried
        # 'No space left on device' only because it was re-probed
        # by hand): keep every distinct exception line
        named = sorted(
            {
                ln.strip()[:200]
                for ln in err_txt.splitlines()
                if ("Exception" in ln or "Error" in ln)
                and "at " != ln.strip()[:3]
            }
        )
        if named:
            block["named_exceptions"] = named[:8]
        try:
            d = _last_probe(getattr(e, "stdout", "") or "")
        except json.JSONDecodeError:
            d = {}
        print(name, "FAILED", type(e).__name__,
              f"(salvaged legs: {sorted(d)})", flush=True)
    block.update(d)
    for lo, hi in zip(rs, rs[1:]):
        klo, khi = f"r{lo}", f"r{hi}"
        if klo in d and khi in d:
            block[f"ratio_{khi}_over_{klo}_per_x"] = round(
                d[khi]["sec"] / d[klo]["sec"] / (hi / lo), 3
            )
    block["subprocess_wall_sec"] = round(time.perf_counter() - t0, 1)
    print(name, json.dumps(block), flush=True)
    return block


def main() -> None:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "0"
    if rnd == "--decade3-fresh":
        decade3_fresh(sys.argv[2] if len(sys.argv) > 2 else "0")
        return
    if rnd == "--decade3-point":
        decade3_point(sys.argv[2], sys.argv[3])
        return
    if rnd.startswith("--"):
        # a mistyped or retired option must not start the multi-hour
        # sweep under a round label like "--q199ab"
        raise SystemExit(
            f"unknown option {rnd}\n"
            "usage: python bench_scaling.py [round_number | --decade3-fresh [round_number]]"
        )
    src = os.environ.get("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    root = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/scaledata")
    r1_dir, r10_dir = f"{root}/r1", f"{root}/r10"
    hot_dir = f"{root}/hot10"

    spark = get_spark("bench_scaling")
    t0 = time.perf_counter()
    build_scaled(spark, src, r1_dir, 1)
    build_scaled(spark, src, r10_dir, 10)
    hot_meta = build_hot_corpus(spark, r10_dir, hot_dir)
    build_sec = round(time.perf_counter() - t0, 3)

    qmap = queries_map()
    queries: dict[str, dict] = {}
    for name in SCALE_QUERIES:
        row: dict = {}
        for label, d in (("r1", r1_dir), ("r10", r10_dir)):
            # dedup-family dispersion: 4 runs at every scale (r10 ask
            # #3); everything else keeps 2 — their spreads are tight
            n_runs = DISPERSION_RUNS if name in DISPERSION_QUERIES else RUNS

            def one(q=qmap[name], d=d):
                q(spark, d).write.format("noop").mode("overwrite").save()

            m = timed_runs(one, runs=n_runs)
            row[f"{label}_sec"] = m["sec"]
            row[f"{label}_spread"] = m["spread"]
            row[f"{label}_raw"] = m["raw"]
        row["ratio"] = round(row["r10_sec"] / row["r1_sec"], 2)
        queries[name] = row
        print(name, row, flush=True)

    # --- second decade: R2 (default 30) on the dedup family only ---
    r2 = int(os.environ.get("SPARK_GRAFT_SCALE_R2", "30"))
    r2_dir = f"{root}/r{r2}"
    t0 = time.perf_counter()
    build_scaled(spark, src, r2_dir, r2)
    build2_sec = round(time.perf_counter() - t0, 3)
    decade2: dict[str, dict] = {}
    for name in DECADE2_QUERIES:

        def one2(q=qmap[name]):
            q(spark, r2_dir).write.format("noop").mode("overwrite").save()

        # warmups=0: codegen/class-load for these exact plans is already
        # paid by the r1/r10 passes above; every timed run is still cold
        # (every plan-time memo cleared). The whole decade2 set is
        # dedup-family, so every point gets the 4-run dispersion
        # methodology (r10 ask #3).
        n2 = DISPERSION_RUNS if name in DISPERSION_QUERIES else RUNS
        m = timed_runs(one2, warmups=0, runs=n2)
        d2 = {
            f"r{r2}_sec": m["sec"],
            f"r{r2}_spread": m["spread"],
            f"r{r2}_raw": m["raw"],
            # per-decade ratio normalized to the data growth factor:
            # 1.0 = perfectly linear in rows, < 1 = fixed costs still
            # amortizing, > 1 = superlinear
            "ratio_r10_over_r1_per_x": round(
                queries[name]["ratio"] / 10.0, 3
            ),
            f"ratio_r{r2}_over_r10": round(
                m["sec"] / queries[name]["r10_sec"], 2
            ),
            f"ratio_r{r2}_over_r10_per_x": round(
                m["sec"] / queries[name]["r10_sec"] / (r2 / 10.0), 3
            ),
        }
        decade2[name] = d2
        print("decade2", name, d2, flush=True)

    # --- q204 R=30 variance/growth attribution (VERDICT r10 ask #2):
    # q204 is the only operator whose third-decade per-x exceeded 1 in
    # r10 (1.17). Five fresh cold runs with per-run spill deltas split
    # dispersion from real candidate growth: the q47 pattern (stable
    # spill, +-30% wall swings, slow runs clustered at the block
    # start) means memory-pressure dispersion; monotonically elevated
    # spill or tight-but-slow runs would mean real growth in the
    # candidate/verify volume. Candidate and output row counts at both
    # decades are recorded alongside so the growth hypothesis is
    # checkable directly: candidate volume scaling ~3x for 3x data is
    # linear generation, ~9x is the quadratic pathology.
    q204_raw, q204_spill = [], []
    for _ in range(5):
        clear_memos()
        pre = _stage_stats(spark)
        t0 = time.perf_counter()
        qmap["q204_containment_pairs"](spark, r2_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        q204_raw.append(round(time.perf_counter() - t0, 3))
        fresh = _fresh_stages(pre, _stage_stats(spark))
        q204_spill.append(
            None if fresh is None else sum(v["spill_bytes"] for v in fresh)
        )
    # per-stage probe (one extra untimed cold run per decade): the
    # candidate stage's shuffle-write RECORD count is the quantity
    # that would grow superlinearly if the containment prefix filter
    # were degrading — candidate rows ~3x for 3x data is linear
    # generation, ~9x is the quadratic pathology. Top stages by spill
    # and by written records are both kept.
    q204_stages = {}
    for lbl, dd in (("r10", r10_dir), (f"r{r2}", r2_dir)):
        clear_memos()
        pre = _stage_stats(spark)
        qmap["q204_containment_pairs"](spark, dd).write.format("noop").mode(
            "overwrite"
        ).save()
        fresh = _fresh_stages(pre, _stage_stats(spark))
        q204_stages[lbl] = None if fresh is None else fresh[:6]
    q204_var = {
        "r": r2,
        "r30_raw": q204_raw,
        "r30_median": round(statistics.median(q204_raw), 3),
        "r30_spread": round(max(q204_raw) - min(q204_raw), 3),
        "r30_spill_bytes_per_run": q204_spill,
        "top_stages_by_decade": q204_stages,
        "r30_decade2_context": decade2["q204_containment_pairs"],
    }
    print("q204_variance", q204_var, flush=True)


    # --- adversarial hot-bucket q42 at the SECOND decade (ask #6):
    # the salting guard's "bounded, never quadratic" claim measured
    # where the data is 30x, not just 10x ---
    hot2_dir = f"{root}/hot{r2}"
    hot2_meta = build_hot_corpus(spark, r2_dir, hot2_dir)

    def q42_hot2(d=hot2_dir):
        qmap["q42_lsh_near_dup_pairs"](spark, d).write.format("noop").mode(
            "overwrite"
        ).save()

    hot2 = timed_runs(q42_hot2, warmups=0, runs=RUNS)
    adversarial2 = {
        **hot2_meta,
        f"q42_hot_r{r2}_sec": hot2["sec"],
        f"q42_hot_r{r2}_spread": hot2["spread"],
        f"q42_hot_r{r2}_raw": hot2["raw"],
        f"q42_clean_r{r2}_sec": decade2["q42_lsh_near_dup_pairs"][f"r{r2}_sec"],
        "hot_overhead_x": round(
            hot2["sec"] / decade2["q42_lsh_near_dup_pairs"][f"r{r2}_sec"], 2
        ),
    }
    print("adversarial_decade2", adversarial2, flush=True)

    ing = {
        "r1": ingest_point(spark, r1_dir),
        "r10": ingest_point(spark, r10_dir),
    }
    ing["ratio"] = round(ing["r10"]["sec"] / ing["r1"]["sec"], 2)
    print("ingest", ing, flush=True)

    # --- third decade (VERDICT r10 ask #5): one cold R=100 point
    # (60M-row lineitem equivalent, 500k docs) for the cheap half of
    # the dedup family — q199/q204 at R=100 would spill past the local
    # pool by construction — plus ingest. Three consecutive rounds of
    # R=1/10/30 are in hand; R=100 anchors the 100 TB extrapolation a
    # decade further out.
    r3 = int(os.environ.get("SPARK_GRAFT_SCALE_R3", "100"))
    r3_dir = f"{root}/r{r3}"
    t0 = time.perf_counter()
    build_scaled(spark, src, r3_dir, r3)
    build3_sec = round(time.perf_counter() - t0, 3)
    decade3: dict[str, dict] = {}
    for name in ("q40_exact_dedup", "q41_minhash_signatures",
                 "q42_lsh_near_dup_pairs", "q45_near_dup_components"):

        def one3(q=qmap[name]):
            q(spark, r3_dir).write.format("noop").mode("overwrite").save()

        m = timed_runs(one3, warmups=0, runs=RUNS)
        d3 = {
            f"r{r3}_sec": m["sec"],
            f"r{r3}_spread": m["spread"],
            f"r{r3}_raw": m["raw"],
            f"ratio_r{r3}_over_r10": round(
                m["sec"] / queries[name]["r10_sec"], 2
            ),
            f"ratio_r{r3}_over_r10_per_x": round(
                m["sec"] / queries[name]["r10_sec"] / (r3 / 10.0), 3
            ),
        }
        if name in decade2:
            d3[f"ratio_r{r3}_over_r{r2}_per_x"] = round(
                m["sec"] / decade2[name][f"r{r2}_sec"] / (r3 / r2), 3
            )
        decade3[name] = d3
        print("decade3", name, d3, flush=True)
    ing3 = ingest_point(spark, r3_dir)
    ing3["ratio_over_r10_per_x"] = round(
        ing3["sec"] / ing["r10"]["sec"] / (r3 / 10.0), 3
    )
    decade3["ingest"] = ing3
    print("decade3 ingest", ing3, flush=True)

    def q42_hot(d=hot_dir):
        qmap["q42_lsh_near_dup_pairs"](spark, d).write.format("noop").mode(
            "overwrite"
        ).save()

    hot = timed_runs(q42_hot)
    adversarial = {
        **hot_meta,
        "q42_hot_sec": hot["sec"],
        "q42_hot_spread": hot["spread"],
        "q42_clean_r10_sec": queries["q42_lsh_near_dup_pairs"]["r10_sec"],
        "hot_overhead_x": round(
            hot["sec"] / queries["q42_lsh_near_dup_pairs"]["r10_sec"], 2
        ),
    }
    print("adversarial", adversarial, flush=True)

    # --- adversarial hot-bucket q199/q204 at R=10 (VERDICT r8 ask #6):
    # both share guarded_self_pairs with q42, but their candidate
    # generators slice the PREFIX of each shingle set — the boilerplate
    # template's shingles are the corpus's most FREQUENT, so the
    # rarest-first order pushes them out of most prefixes; the guard
    # and the in-join filters must keep the hot corpus bounded anyway.
    adversarial_pp: dict[str, dict] = {}
    for qname, short in (
        ("q199_prefix_filter_jaccard", "q199"),
        ("q204_containment_pairs", "q204"),
    ):
        def one_hot(q=qmap[qname]):
            q(spark, hot_dir).write.format("noop").mode("overwrite").save()

        h = timed_runs(one_hot, warmups=0)
        adversarial_pp[f"adversarial_{short}"] = {
            **hot_meta,
            f"{short}_hot_sec": h["sec"],
            f"{short}_hot_spread": h["spread"],
            f"{short}_hot_raw": h["raw"],
            f"{short}_clean_r10_sec": queries[qname]["r10_sec"],
            "hot_overhead_x": round(h["sec"] / queries[qname]["r10_sec"], 2),
        }
        print(f"adversarial_{short}", adversarial_pp[f"adversarial_{short}"], flush=True)

    out = {
        "metric": "scaling_ratio_r10_over_r1",
        "unit": "ratio",
        "src": src,
        "runs_per_point": RUNS,
        "estimator": "median_cold",
        "build_sec": build_sec,
        "queries": queries,
        "max_ratio": max(q["ratio"] for q in queries.values()),
        "decade2_r": r2,
        "decade2_build_sec": build2_sec,
        "decade2": decade2,
        "q204_variance": q204_var,
        "adversarial_q42_decade2": adversarial2,
        "ingest": ing,
        "decade3_r": r3,
        "decade3_build_sec": build3_sec,
        "decade3": decade3,
        "adversarial_q42": adversarial,
        **adversarial_pp,
    }
    path = _round_artifact_path(rnd)
    # carry over blocks merged in an earlier sitting (--decade3-fresh):
    # the full sweep must extend the round artifact, not clobber it
    if os.path.isfile(path):
        with open(path) as fh:
            prior = json.load(fh)
        for k, v in prior.items():
            out.setdefault(k, v)
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
