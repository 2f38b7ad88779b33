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
        python bench_scaling.py --q199-ab [reps] [round_number]
            standalone interleaved A/B of the r11 q199 candidate/verify
            arms at R=SPARK_GRAFT_SCALE_R2; writes
            Q199_CANDGEN_AB_r{N}.json, which the main run merges into
            BENCH_SCALING_r{N}.json if present (so the long arm
            adjudication and the decade sweep can run as two sittings)
        python bench_scaling.py --q45-ab [reps] [round_number]
            r12: q45/q47 per-stage + per-iteration attribution at R=30,
            then strict legacy/int interleave of the Q42_INT_VERIFY arm
            on q47; writes Q45_COMPONENTS_AB_r{N}.json and merges into
            the round artifact
        python bench_scaling.py --q199-index-ab [reps] [round_number]
            r12: the last q199 arm (array-free verify) vs the shipped
            default, interleaved at R=SPARK_GRAFT_Q199_PROBE_R
            (default 10); writes Q199_INDEX_AB_r{N}.json + merge
        python bench_scaling.py --decade3-fresh [round_number]
            r12: the whole heavy family + ingest at R=10/30/100, ONE
            FRESH SUBPROCESS PER QUERY (zero in-session pollution);
            merges 'decade3_fresh' into the round artifact; r13: each
            query's block lands in the artifact as it completes, and a
            crashed child's finished legs are salvaged
        python bench_scaling.py --q204-ab [reps] [round_number]
            r13: per-stage attribution of q204 at R=30 vs
            R=SPARK_GRAFT_Q204_R (default 60) for the legacy and INT
            arms, then legacy/int/int+probe strict interleave; writes
            Q204_ATTRIB_AB_r{N}.json + merge (VERDICT r12 ask #1)
        python bench_scaling.py --q199-r100-attrib [round_number]
            r13: instrumented q199 run at R=30 then R=100 with the
            per-stage spill table, so the superlinearity is measured
            where it matters (VERDICT r12 ask #2); run as its own
            sitting
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


def _spill_bytes(spark) -> int | None:
    """Cumulative (memory+disk) shuffle/sort spill across all stages the
    app status store currently retains, or None if the py4j surface
    moved. Deltas around a run isolate that run's spill; stage eviction
    (spark.ui.retainedStages) can only UNDERSTATE a delta, never fake
    one, so a multi-GB reading is trustworthy evidence of spill."""
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
        tot = 0
        while it.hasNext():
            s = it.next()
            tot += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
        return tot
    except Exception:
        return None


def _stage_stats(spark) -> dict[int, dict]:
    """Per-stage shuffle/spill snapshot from the app status store,
    keyed by stageId — diffing snapshots around one run isolates that
    run's stages. Returns {} if the py4j surface moved."""
    try:
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
                "spill_gb": round(
                    (int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()))
                    / 1e9,
                    2,
                ),
                "shuf_write_gb": round(int(s.shuffleWriteBytes()) / 1e9, 2),
                "write_recs_m": round(int(s.shuffleWriteRecords()) / 1e6, 1),
                "read_recs_m": round(int(s.shuffleReadRecords()) / 1e6, 1),
            }
        return out
    except Exception:
        return {}


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


#: the r11 q199 candidate/verify arms (operators/dedup.py toggles):
#: each arm isolated against the pre-r11 plan, plus the composed
#: candidate default. Flag order matches (ASYM, INT, HASH2).
Q199_ARMS = (
    ("legacy", (False, False, False)),
    ("asym", (True, False, False)),
    ("int", (False, True, False)),
    ("hash2", (False, False, True)),
    ("combo", (True, True, True)),
    # the SHIPPED default (ASYM + INT, HASH2 off) — present so the
    # adjudicated configuration is reproducible from this committed
    # tuple, not only from the ad-hoc confirmation session that
    # produced Q199_CANDGEN_AB_r11's 'adopted' arm (ADVICE r11)
    ("adopted", (True, True, False)),
)


def q199_ab(reps: int, rnd: str) -> None:
    """Interleaved same-session A/B of the r11 q199 arms at R=r2.

    Strict Q199_ARMS-order x reps interleave in ONE
    session so box drift hits every arm equally; per-run wall clock
    AND spill delta (app status store) recorded. Parity of every arm
    is pinned by tests/test_new_ops.py::test_q199_r11_arm_matrix — this
    block adjudicates adopt-or-refute on wall + spill only, exactly
    like r10's two (refuted) verify-side arms."""
    from astarte_data_updater_plant_spark.operators import dedup as _dedup

    src = os.environ.get("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    root = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/scaledata")
    r2 = int(os.environ.get("SPARK_GRAFT_SCALE_R2", "30"))
    r2_dir = f"{root}/r{r2}"
    spark = get_spark("q199_candgen_ab")
    build_scaled(spark, src, r2_dir, r2)
    qmap = queries_map()
    flags = ("Q199_ASYM_PREFIX", "Q199_INT_VERIFY", "Q199_HASH2_VERIFY")
    saved = {k: getattr(_dedup, k) for k in flags}
    res: dict[str, dict] = {
        arm: {"raw": [], "spill": []} for arm, _ in Q199_ARMS
    }
    try:
        for rep in range(reps):
            for arm, vals in Q199_ARMS:
                for k, v in zip(flags, vals):
                    setattr(_dedup, k, v)
                clear_memos()
                s0 = _spill_bytes(spark)
                t0 = time.perf_counter()
                qmap["q199_prefix_filter_jaccard"](spark, r2_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
                res[arm]["raw"].append(round(time.perf_counter() - t0, 3))
                s1 = _spill_bytes(spark)
                res[arm]["spill"].append(
                    None if s0 is None or s1 is None else s1 - s0
                )
                print(
                    f"rep {rep} {arm}: {res[arm]['raw'][-1]}s "
                    f"spill {res[arm]['spill'][-1]}",
                    flush=True,
                )
    finally:
        for k, v in saved.items():
            setattr(_dedup, k, v)
    out: dict = {
        "r": r2,
        "reps": reps,
        "interleave": ",".join(a for a, _ in Q199_ARMS) + f" x{reps}",
        "arms": {},
    }
    for arm, _ in Q199_ARMS:
        raw, spill = res[arm]["raw"], res[arm]["spill"]
        out["arms"][arm] = {
            "raw": raw,
            "median": round(statistics.median(raw), 3),
            "best": min(raw),
            "spill_per_run": spill,
            "spill_median": (
                None if None in spill else int(statistics.median(spill))
            ),
        }
    base = out["arms"]["legacy"]
    for arm, _ in Q199_ARMS[1:]:
        out["arms"][arm]["ratio_vs_legacy"] = round(
            out["arms"][arm]["median"] / base["median"], 3
        )
        if base["spill_median"] and out["arms"][arm]["spill_median"] is not None:
            out["arms"][arm]["spill_ratio_vs_legacy"] = round(
                out["arms"][arm]["spill_median"] / base["spill_median"], 3
            )
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"Q199_CANDGEN_AB_r{int(rnd):02d}.json"
        if rnd.isdigit()
        else "Q199_CANDGEN_AB.json",
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


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
    the targeted r12 modes (q45 arm A/B, q199 index probe, fresh
    decade3) each land under their own key so the round artifact is
    assembled incrementally instead of requiring one multi-hour
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


#: the r12 q45/q47 arm (operators/dedup.py Q42_INT_VERIFY): ride the
#: q199 INT bijection through q42's verify joins, attacking the
#: components/election family's dominant shared stage
Q45_ARMS = (("legacy", False), ("int", True))


def q45_ab(reps: int, rnd: str) -> None:
    """VERDICT r11 ask #3: per-stage attribution of q45/q47 at R=30,
    then ONE named arm (Q42_INT_VERIFY) adjudicated by a strict
    interleaved same-session A/B on q47 end-to-end.

    Attribution pass: one cold run each of q45 and q47 with (a) the
    per-stage shuffle/spill diff from the app status store and (b)
    dedup.Q45_ITER_STATS — the driver-side per-round log of the label
    propagation loop ("pairs_and_seed" = the whole q42 pair pipeline +
    edge/seed materialization, then one row per propagate+jump round;
    the "changed" field is the round's total label-sum decrease since
    r13's monotone-sum convergence probe, zero iff the round was a
    no-op) — so the spill-vs-compute and which-iteration questions are
    answered by measurement, not plan reading.

    A/B pass: legacy/int x reps strict interleave, q47 cold per run,
    wall + spill delta per run — the same adjudication protocol as the
    r11 q199 arms. Parity of both settings is pinned by
    tests/test_new_ops.py::test_q42_q45_q47_int_arm_matrix."""
    from astarte_data_updater_plant_spark.operators import dedup as _dedup

    src = os.environ.get("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    root = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/scaledata")
    r2 = int(os.environ.get("SPARK_GRAFT_SCALE_R2", "30"))
    r2_dir = f"{root}/r{r2}"
    spark = get_spark("q45_components_ab")
    build_scaled(spark, src, r2_dir, r2)
    qmap = queries_map()

    attribution: dict[str, dict] = {}
    for lbl, qname in (
        ("q45", "q45_near_dup_components"),
        ("q47", "q47_dedup_keep_best"),
    ):
        clear_memos()
        pre = _stage_stats(spark)
        s0 = _spill_bytes(spark)
        t0 = time.perf_counter()
        qmap[qname](spark, r2_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        sec = round(time.perf_counter() - t0, 3)
        s1 = _spill_bytes(spark)
        post = _stage_stats(spark)
        fresh = [v for k, v in post.items() if k not in pre]
        fresh.sort(key=lambda v: (-v["spill_gb"], -v["write_recs_m"]))
        attribution[lbl] = {
            "sec": sec,
            "spill_bytes": None if s0 is None or s1 is None else s1 - s0,
            "iter_stats": [
                {"stage": s, "sec": t, "changed": c}
                for s, t, c in _dedup.Q45_ITER_STATS
            ],
            "top_stages": fresh[:8],
        }
        print("attribution", lbl, json.dumps(attribution[lbl]), flush=True)

    res: dict[str, dict] = {a: {"raw": [], "spill": []} for a, _ in Q45_ARMS}
    saved = _dedup.Q42_INT_VERIFY
    try:
        for rep in range(reps):
            for arm, val in Q45_ARMS:
                _dedup.Q42_INT_VERIFY = val
                clear_memos()
                s0 = _spill_bytes(spark)
                t0 = time.perf_counter()
                qmap["q47_dedup_keep_best"](spark, r2_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
                res[arm]["raw"].append(round(time.perf_counter() - t0, 3))
                s1 = _spill_bytes(spark)
                res[arm]["spill"].append(
                    None if s0 is None or s1 is None else s1 - s0
                )
                print(
                    f"rep {rep} {arm}: {res[arm]['raw'][-1]}s "
                    f"spill {res[arm]['spill'][-1]}",
                    flush=True,
                )
    finally:
        _dedup.Q42_INT_VERIFY = saved
    out: dict = {
        "r": r2,
        "reps": reps,
        "measured_query": "q47_dedup_keep_best",
        "interleave": ",".join(a for a, _ in Q45_ARMS) + f" x{reps}",
        "attribution": attribution,
        "arms": {},
    }
    for arm, _ in Q45_ARMS:
        raw, spill = res[arm]["raw"], res[arm]["spill"]
        out["arms"][arm] = {
            "raw": raw,
            "median": round(statistics.median(raw), 3),
            "best": min(raw),
            "spill_per_run": spill,
            "spill_median": (
                None if None in spill else int(statistics.median(spill))
            ),
        }
    base = out["arms"]["legacy"]
    for arm, _ in Q45_ARMS[1:]:
        out["arms"][arm]["ratio_vs_legacy"] = round(
            out["arms"][arm]["median"] / base["median"], 3
        )
        if base["spill_median"] and out["arms"][arm]["spill_median"] is not None:
            out["arms"][arm]["spill_ratio_vs_legacy"] = round(
                out["arms"][arm]["spill_median"] / base["spill_median"], 3
            )
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"Q45_COMPONENTS_AB_r{int(rnd):02d}.json"
        if rnd.isdigit()
        else "Q45_COMPONENTS_AB.json",
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    _merge_round_artifact(rnd, "q45_components_experiment", out)
    print(json.dumps(out))


def q199_index_ab(reps: int, rnd: str) -> None:
    """VERDICT r11 ask #5, the last q199 arm: array-free verify
    (Q199_INDEX_VERIFY) vs the shipped adopted default, strict
    interleave in one session at R=SPARK_GRAFT_Q199_PROBE_R (default
    10 — a deliberate small-scale probe first, because the row
    arithmetic predicts candidate_pairs x avg|doc| exploded rows; the
    R=30 protocol is only worth its ~2h if the probe is competitive).
    Wall + spill per run; parity pinned by
    tests/test_new_ops.py::test_q199_index_verify_matches_oracle."""
    from astarte_data_updater_plant_spark.operators import dedup as _dedup

    src = os.environ.get("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    root = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/scaledata")
    r = int(os.environ.get("SPARK_GRAFT_Q199_PROBE_R", "10"))
    r_dir = f"{root}/r{r}"
    spark = get_spark("q199_index_ab")
    build_scaled(spark, src, r_dir, r)
    qmap = queries_map()
    arms = (("adopted", False), ("index", True))
    res: dict[str, dict] = {a: {"raw": [], "spill": []} for a, _ in arms}
    saved = _dedup.Q199_INDEX_VERIFY
    try:
        for rep in range(reps):
            for arm, val in arms:
                _dedup.Q199_INDEX_VERIFY = val
                clear_memos()
                s0 = _spill_bytes(spark)
                t0 = time.perf_counter()
                qmap["q199_prefix_filter_jaccard"](spark, r_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
                res[arm]["raw"].append(round(time.perf_counter() - t0, 3))
                s1 = _spill_bytes(spark)
                res[arm]["spill"].append(
                    None if s0 is None or s1 is None else s1 - s0
                )
                print(
                    f"rep {rep} {arm}: {res[arm]['raw'][-1]}s "
                    f"spill {res[arm]['spill'][-1]}",
                    flush=True,
                )
    finally:
        _dedup.Q199_INDEX_VERIFY = saved
    out: dict = {
        "r": r,
        "reps": reps,
        "interleave": ",".join(a for a, _ in arms) + f" x{reps}",
        "arms": {},
    }
    for arm, _ in arms:
        raw, spill = res[arm]["raw"], res[arm]["spill"]
        out["arms"][arm] = {
            "raw": raw,
            "median": round(statistics.median(raw), 3),
            "best": min(raw),
            "spill_per_run": spill,
            "spill_median": (
                None if None in spill else int(statistics.median(spill))
            ),
        }
    base = out["arms"]["adopted"]
    out["arms"]["index"]["ratio_vs_adopted"] = round(
        out["arms"]["index"]["median"] / base["median"], 3
    )
    if base["spill_median"] and out["arms"]["index"]["spill_median"] is not None:
        out["arms"]["index"]["spill_ratio_vs_adopted"] = round(
            out["arms"]["index"]["spill_median"] / base["spill_median"], 3
        )
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"Q199_INDEX_AB_r{int(rnd):02d}.json"
        if rnd.isdigit()
        else "Q199_INDEX_AB.json",
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    _merge_round_artifact(rnd, "q199_index_probe", out)
    print(json.dumps(out))


def _cold_stage_run(spark, qfn, d: str) -> dict:
    """One cold run with the per-stage shuffle/spill diff captured:
    wall, total spill delta, and the fresh stages sorted by spill then
    by written records (top 8)."""
    clear_memos()
    pre = _stage_stats(spark)
    s0 = _spill_bytes(spark)
    t0 = time.perf_counter()
    qfn(spark, d).write.format("noop").mode("overwrite").save()
    sec = round(time.perf_counter() - t0, 3)
    s1 = _spill_bytes(spark)
    post = _stage_stats(spark)
    fresh = [v for k, v in post.items() if k not in pre]
    fresh.sort(key=lambda v: (-v["spill_gb"], -v["write_recs_m"]))
    return {
        "sec": sec,
        "spill_bytes": None if s0 is None or s1 is None else s1 - s0,
        "top_stages": fresh[:8],
        "write_recs_m_total": round(sum(v["write_recs_m"] for v in fresh), 1),
    }


#: the r13 q204 arms (operators/dedup.py toggles): verify-array INT
#: narrowing (the proven q42/q199 bijection) and the companion
#: candidate-join-key narrowing. Flag order: (VERIFY, PROBE).
Q204_ARMS = (
    ("legacy", (False, False)),
    ("int", (True, False)),
    ("int+probe", (True, True)),
)


def q204_ab(reps: int, rnd: str) -> None:
    """VERDICT r12 ask #1: adjudicate q204's INT arms and attribute
    the R=30 -> R=100 spill discontinuity at an intermediate scale.

    Attribution pass: one cold run per (arm in legacy/int, scale in
    R=30/R=INTER) with the per-stage shuffle/spill diff, so two
    questions get measured answers: (a) does the candidate stage's
    shuffle-record count grow linearly with data (pool-threshold
    crossing) or superlinearly (prefix-filter degradation)? (b) which
    stages hold the spill, and does the INT narrowing drain exactly
    the array-carrying verify stages as it did for q42/q47?

    A/B pass: legacy/int/int+probe x reps strict interleave at
    R=INTER (default 60), q204 cold per run, wall + spill per run —
    the family's standard adjudication protocol. Parity of all arm
    settings is pinned by tests/test_new_ops.py::
    test_q204_int_arm_matrix."""
    from astarte_data_updater_plant_spark.operators import dedup as _dedup

    src = os.environ.get("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    root = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/scaledata")
    r_inter = int(os.environ.get("SPARK_GRAFT_Q204_R", "60"))
    spark = get_spark("q204_attrib_ab")
    build_scaled(spark, src, f"{root}/r30", 30)
    build_scaled(spark, src, f"{root}/r{r_inter}", r_inter)
    qmap = queries_map()
    qfn = qmap["q204_containment_pairs"]
    flags = ("Q204_INT_VERIFY", "Q204_INT_PROBE")
    saved = {k: getattr(_dedup, k) for k in flags}

    attribution: dict[str, dict] = {}
    try:
        for arm, vals in (("legacy", (False, False)), ("int", (True, False))):
            for k, v in zip(flags, vals):
                setattr(_dedup, k, v)
            for r in (30, r_inter):
                key = f"{arm}_r{r}"
                try:
                    attribution[key] = _cold_stage_run(
                        spark, qfn, f"{root}/r{r}"
                    )
                except Exception as e:  # noqa: BLE001 — a disk-exhausted
                    # leg is a finding; keep the other arms/scales
                    attribution[key] = {
                        "err": type(e).__name__, "msg": str(e)[-600:]
                    }
                print("attribution", key,
                      json.dumps(attribution[key]), flush=True)
        # record-growth per-x for the candidate pipeline: total written
        # records should scale ~linearly with R if the prefix filter
        # holds; the per-stage tables let the reader see which stage
        # deviates
        for arm in ("legacy", "int"):
            lo = attribution[f"{arm}_r30"].get("write_recs_m_total")
            hi = attribution[f"{arm}_r{r_inter}"].get("write_recs_m_total")
            if lo and hi is not None:
                attribution[f"{arm}_records_growth_per_x"] = round(
                    hi / lo / (r_inter / 30.0), 3
                )

        res: dict[str, dict] = {
            a: {"raw": [], "spill": []} for a, _ in Q204_ARMS
        }
        for rep in range(reps):
            for arm, vals in Q204_ARMS:
                for k, v in zip(flags, vals):
                    setattr(_dedup, k, v)
                clear_memos()
                s0 = _spill_bytes(spark)
                t0 = time.perf_counter()
                try:
                    qfn(spark, f"{root}/r{r_inter}").write.format(
                        "noop"
                    ).mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 — keep the
                    # interleave going; an erred rep is recorded, not
                    # fatal (disk-exhaustion class)
                    res[arm].setdefault("errs", []).append(
                        f"rep {rep}: {type(e).__name__}"
                    )
                    print(f"rep {rep} {arm}: ERR {type(e).__name__}",
                          flush=True)
                    continue
                res[arm]["raw"].append(round(time.perf_counter() - t0, 3))
                s1 = _spill_bytes(spark)
                res[arm]["spill"].append(
                    None if s0 is None or s1 is None else s1 - s0
                )
                print(
                    f"rep {rep} {arm}: {res[arm]['raw'][-1]}s "
                    f"spill {res[arm]['spill'][-1]}",
                    flush=True,
                )
    finally:
        for k, v in saved.items():
            setattr(_dedup, k, v)
    out: dict = {
        "r": r_inter,
        "reps": reps,
        "measured_query": "q204_containment_pairs",
        "interleave": ",".join(a for a, _ in Q204_ARMS) + f" x{reps}",
        "attribution": attribution,
        "arms": {},
    }
    for arm, _ in Q204_ARMS:
        raw, spill = res[arm]["raw"], res[arm]["spill"]
        out["arms"][arm] = {
            "raw": raw,
            "median": round(statistics.median(raw), 3) if raw else None,
            "best": min(raw) if raw else None,
            "spill_per_run": spill,
            "spill_median": (
                None
                if not spill or None in spill
                else int(statistics.median(spill))
            ),
        }
        if res[arm].get("errs"):
            out["arms"][arm]["errs"] = res[arm]["errs"]
    base = out["arms"]["legacy"]
    for arm, _ in Q204_ARMS[1:]:
        if base["median"] and out["arms"][arm]["median"] is not None:
            out["arms"][arm]["ratio_vs_legacy"] = round(
                out["arms"][arm]["median"] / base["median"], 3
            )
        if base["spill_median"] and out["arms"][arm]["spill_median"] is not None:
            out["arms"][arm]["spill_ratio_vs_legacy"] = round(
                out["arms"][arm]["spill_median"] / base["spill_median"], 3
            )
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"Q204_ATTRIB_AB_r{int(rnd):02d}.json"
        if rnd.isdigit()
        else "Q204_ATTRIB_AB.json",
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    _merge_round_artifact(rnd, "q204_attrib_ab", out)
    print(json.dumps(out))


def q199_r100_attrib(rnd: str) -> None:
    """VERDICT r12 ask #2: measure (not extrapolate) q199's R=100
    superlinearity. One fresh-process instrumented run at R=30 then
    R=100 with the per-stage shuffle/spill diff, so the per-stage
    growth ratios name WHICH stage's spill grows faster than data.
    Run this as its own sitting (fresh interpreter = the cold
    condition); disk free is recorded around the R=100 leg because
    the box's spill headroom is the known failure mode."""
    import shutil as _shutil

    src = os.environ.get("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    root = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/scaledata")
    spark = get_spark("q199_r100_attrib")
    qmap = queries_map()
    qfn = qmap["q199_prefix_filter_jaccard"]
    out: dict = {"measured_query": "q199_prefix_filter_jaccard"}
    for r in (30, 100):
        d = f"{root}/r{r}"
        build_scaled(spark, src, d, r)
        out[f"disk_free_gb_before_r{r}"] = round(
            _shutil.disk_usage("/tmp").free / 1e9, 1
        )
        try:
            out[f"r{r}"] = _cold_stage_run(spark, qfn, d)
        except Exception as e:  # noqa: BLE001 — record the failure mode
            out[f"r{r}"] = {"err": type(e).__name__, "msg": str(e)[-600:]}
            print(f"r{r} FAILED", type(e).__name__, flush=True)
            break
        print(f"r{r}", json.dumps(out[f"r{r}"]), flush=True)
    if "sec" in out.get("r30", {}) and "sec" in out.get("r100", {}):
        out["wall_per_x"] = round(
            out["r100"]["sec"] / out["r30"]["sec"] / (100 / 30), 3
        )
        lo, hi = out["r30"], out["r100"]
        if lo.get("spill_bytes") and hi.get("spill_bytes") is not None:
            out["spill_per_x"] = round(
                hi["spill_bytes"] / lo["spill_bytes"] / (100 / 30), 3
            )
        if lo.get("write_recs_m_total"):
            out["records_per_x"] = round(
                hi["write_recs_m_total"]
                / lo["write_recs_m_total"]
                / (100 / 30),
                3,
            )
    _merge_round_artifact(rnd, "q199_r100_attribution", out)
    print(json.dumps(out))


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
    if len(sys.argv) > 1 and sys.argv[1] == "--q45-ab":
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
        q45_ab(reps, sys.argv[3] if len(sys.argv) > 3 else "0")
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--q199-index-ab":
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        q199_index_ab(reps, sys.argv[3] if len(sys.argv) > 3 else "0")
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--q204-ab":
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        q204_ab(reps, sys.argv[3] if len(sys.argv) > 3 else "0")
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--q199-r100-attrib":
        q199_r100_attrib(sys.argv[2] if len(sys.argv) > 2 else "0")
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--decade3-fresh":
        decade3_fresh(sys.argv[2] if len(sys.argv) > 2 else "0")
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--decade3-point":
        decade3_point(sys.argv[2], sys.argv[3])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--q199-ab":
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        q199_ab(reps, sys.argv[3] if len(sys.argv) > 3 else "0")
        return
    rnd = sys.argv[1] if len(sys.argv) > 1 else "0"
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
        s0 = _spill_bytes(spark)
        t0 = time.perf_counter()
        qmap["q204_containment_pairs"](spark, r2_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        q204_raw.append(round(time.perf_counter() - t0, 3))
        s1 = _spill_bytes(spark)
        q204_spill.append(None if s0 is None or s1 is None else s1 - s0)
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
        post = _stage_stats(spark)
        fresh = [v for k, v in post.items() if k not in pre]
        fresh.sort(key=lambda v: (-v["spill_gb"], -v["write_recs_m"]))
        q204_stages[lbl] = fresh[:6]
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
    # merge the standalone q199 arm adjudication if it ran this round.
    # isfile (not exists): with a non-digit round label the join above
    # would name the repo directory itself, os.path.exists would pass,
    # and json.load(open(dir)) would raise IsADirectoryError AFTER the
    # whole multi-hour run but BEFORE the results were written
    # (ADVICE r11)
    if rnd.isdigit():
        ab_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            f"Q199_CANDGEN_AB_r{int(rnd):02d}.json",
        )
        if os.path.isfile(ab_path):
            with open(ab_path) as fh:
                out["q199_candgen_experiment"] = json.load(fh)
    path = _round_artifact_path(rnd)
    # carry over experiment blocks merged by the targeted modes in an
    # earlier sitting (q45 arm A/B, q199 index probe, fresh decade3) —
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
