"""Adversarial-shape pins for the round-6 additions (q199-q206, s97).

The shared-corpus parity gate runs these queries on the synthetic
corpus, which never exercises their edge branches: degenerate
documents (empty / one-token / two-token texts produce EMPTY shingle
sets), full-containment pairs, and KMV groups SMALLER than the sketch
(k < K -> the estimate must equal k exactly, not the (k-1)*D/h_k
formula). Each test builds a corpus where the branch must fire and
pins it the same way the driver does: oracle parity, plus a direct
assertion that the interesting row actually exists (so a filter bug
that drops the edge case on BOTH engines can't hide behind parity).
"""

from __future__ import annotations

import pytest

from astarte_data_updater_plant_spark.plans.registry import QUERIES, queries_map

queries_map()  # QUERIES fills lazily on operator-module import

from .oracle_utils import compare
from .test_zero_class import _docs_table, _mkdir_with


@pytest.fixture(scope="module")
def degen_docs_dir(tmp_path_factory):
    """Empty/one-token/two-token docs (empty shingle sets), an exact
    duplicate pair, and a full-containment pair."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    a = (base * 3).strip()
    rows = [
        (1, "", "en", "web"),
        (2, "one", "en", "web"),
        (3, "two words", "en", "web"),
        (4, a, "en", "web"),
        (5, a, "en", "crawl"),
        (6, a + " extra tail tokens appended here now", "en", "web"),
        (7, ("ships harbors docks sailors ropes anchors tides " * 4).strip(),
         "en", "web"),
    ]
    return _mkdir_with(
        str(tmp_path_factory.mktemp("degen")), {"documents": _docs_table(rows)}
    )


@pytest.mark.parametrize(
    "name",
    [
        "q199_prefix_filter_jaccard",
        "q204_containment_pairs",
        "q205_leakage_safe_split",
        # corpus diversity on empty/one-token docs: the n=2/3 gram
        # builders must yield empty arrays, not crash or emit "" grams
        "q214_ngram_diversity",
        # the LSH ladder itself: <3-token docs have NULL minhashes, and
        # the band-key build must null-propagate (concat, not
        # concat_ws) or every degenerate doc pairs with every other
        # via the "" key and the Jaccard verify divides by zero
        "q41_minhash_signatures",
        "q42_lsh_near_dup_pairs",
        "q45_near_dup_components",
        "q47_dedup_keep_best",
    ],
)
def test_dedup_additions_degenerate_parity(spark, name, degen_docs_dir):
    spec = QUERIES[name]
    ok, msg = compare(spec.fn(spark, degen_docs_dir), spec.oracle, degen_docs_dir)
    assert ok, f"{name}: {msg}"


def test_q224_incremental_equals_full_recompute(spark, degen_docs_dir):
    """The r13 operator (VERDICT r12 ask #4): merging a new batch's
    near-dup pairs into the existing q45 label table by propagating
    only through touched components must equal the full global
    recompute EXACTLY. Pinned three ways: (1) the registry oracle (the
    full-recompute transitive closure) on the shared corpus AND the
    degenerate corpus — the latter has an empty new batch, so the
    empty-reduced-graph path is exercised too; (2) direct row-for-row
    equality with q45's own Spark output; (3) non-degeneracy: at
    sf0.001 the batch split must leave BOTH edge sets non-empty and
    at least one final component must mix batch and non-batch docs,
    so the merge path provably fired (a filter bug silencing the
    incremental path on both engines can't hide behind parity)."""
    from pyspark.sql import functions as F

    from astarte_data_updater_plant_spark.operators import dedup

    spec = QUERIES["q224_incremental_components"]
    for d in ("/root/testdata/sf0.001", degen_docs_dir):
        ok, msg = compare(spec.fn(spark, d), spec.oracle, d)
        assert ok, f"q224 @ {d}: {msg}"

    d = "/root/testdata/sf0.001"
    pairs = dedup.q42_lsh_near_dup_pairs(spark, d).select("doc_a", "doc_b")
    new_a = F.col("doc_a") % dedup.INCR_BATCH_MOD == 0
    new_b = F.col("doc_b") % dedup.INCR_BATCH_MOD == 0
    assert pairs.filter(~new_a & ~new_b).count() > 0, "old-old edges empty"
    assert pairs.filter(new_a | new_b).count() > 0, "batch edges empty"

    incr = sorted(
        map(tuple, spec.fn(spark, d).collect())
    )
    full = sorted(
        map(tuple, QUERIES["q45_near_dup_components"].fn(spark, d).collect())
    )
    assert incr == full, "incremental labels diverge from full recompute"
    comp_kinds = {}
    for doc_id, comp, _size in incr:
        comp_kinds.setdefault(comp, set()).add(
            doc_id % dedup.INCR_BATCH_MOD == 0
        )
    assert any(kinds == {True, False} for kinds in comp_kinds.values()), (
        "no component mixes batch and non-batch docs — the merge path "
        "never fired"
    )


def test_q199_exact_dup_survives_prefix_filter(spark, degen_docs_dir):
    rows = queries_map()["q199_prefix_filter_jaccard"](
        spark, degen_docs_dir
    ).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    # the exact duplicate is the one pair the lossless filter may
    # never miss; the degenerate docs must produce nothing
    assert pairs[(4, 5)] == 1.0
    flat = {d for p in pairs for d in p}
    assert flat.isdisjoint({1, 2, 3})


def test_q204_full_containment_both_roles(spark, degen_docs_dir):
    rows = queries_map()["q204_containment_pairs"](
        spark, degen_docs_dir
    ).collect()
    d = {(r["contained_doc"], r["container_doc"]): r["containment"] for r in rows}
    # doc 4's shingles are all inside its superset doc 6 -> 1.0 in
    # exactly that direction; the reverse direction is partial and
    # must NOT appear at the 0.8 cut
    assert d[(4, 6)] == 1.0
    assert (6, 4) not in d


def test_q205_component_split_never_leaks(spark, degen_docs_dir):
    rows = {
        r["scheme"]: r
        for r in queries_map()["q205_leakage_safe_split"](
            spark, degen_docs_dir
        ).collect()
    }
    assert rows["component"]["n_leaky_components"] == 0
    comp = rows["component"]
    assert comp["n_train"] + comp["n_val"] + comp["n_test"] == comp["n_docs"]


def _events_table(rows):
    import pyarrow as pa

    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([float(r[4]) for r in rows], pa.float64()),
            "props": pa.array(["{}" for _ in rows], pa.string()),
        }
    )


@pytest.fixture(scope="module")
def kmv_events_dir(tmp_path_factory):
    """One event type with 5 distinct users (k < K: the sketch must
    report exactly k), one with 200 (k == K: the estimator formula
    path), spread over 5 epoch-days so q203 has a train/test split."""
    rows = []
    eid = 0
    day_us = 86_400_000_000
    for i in range(40):
        eid += 1
        rows.append((eid, (i % 5) * day_us + i * 3_600_000_000 % day_us,
                     i % 5, "rare", 1.0 + i))
    for i in range(400):
        eid += 1
        rows.append((eid, (i % 5) * day_us + i * 1_800_000_000 % day_us,
                     1000 + i % 200, "big", 2.0 + i))
    return _mkdir_with(
        str(tmp_path_factory.mktemp("kmv")), {"events": _events_table(rows)}
    )


@pytest.mark.parametrize(
    "name",
    [
        "q202_kmv_distinct_sketch",
        "q203_seasonal_backtest",
        "s97_stream_kmv_distinct",
    ],
)
def test_sketch_and_backtest_small_group_parity(spark, name, kmv_events_dir):
    spec = QUERIES[name]
    ok, msg = compare(spec.fn(spark, kmv_events_dir), spec.oracle, kmv_events_dir)
    assert ok, f"{name}: {msg}"


def test_q202_small_group_is_exact(spark, kmv_events_dir):
    rows = {
        r["event_type"]: r
        for r in queries_map()["q202_kmv_distinct_sketch"](
            spark, kmv_events_dir
        ).collect()
    }
    rare, big = rows["rare"], rows["big"]
    # below the sketch size the estimate IS the count of distinct
    # hashes — exact unless two of 5 user ids collide in 32 bits
    assert rare["k"] < 64
    assert rare["est_distinct"] == rare["k"] == rare["exact_distinct"]
    # at k == K the formula path engages and lands within the KMV
    # error envelope (rsd ~ 1/sqrt(K-2) ~ 13%; assert a loose 3x)
    assert big["k"] == 64
    assert big["rel_err"] < 0.4


# -- q211/q212: agreement + Good-Turing edge classes --------------------------


@pytest.fixture(scope="module")
def agreement_docs_dir(tmp_path_factory):
    """One source where BOTH annotators are constant (identical
    ultra-short docs: Gopher fails min-words, the classifier sees the
    same sign everywhere) -> kappa's chance-correction denominator is
    zero and the output must be NULL, not a crash or a 0/0 artifact.
    One source of all-unique tokens (every term a singleton: f1 =
    vocab = N, unseen mass 1.0) and one with every term repeated
    (f1 = 0 -> r1* is NULL)."""
    uniq = " ".join(f"tok{i:03d}" for i in range(60))
    rep = " ".join(f"rep{i:02d} rep{i:02d}" for i in range(30))
    rows = [
        (1, "same tiny", "en", "const"),
        (2, "same tiny", "en", "const"),
        (3, "same tiny", "en", "const"),
        (4, uniq, "en", "uniq"),
        (5, rep, "en", "rep"),
    ]
    return _mkdir_with(
        str(tmp_path_factory.mktemp("agree")), {"documents": _docs_table(rows)}
    )


@pytest.mark.parametrize("name", ["q211_annotator_kappa", "q212_good_turing"])
def test_agreement_edge_parity(spark, name, agreement_docs_dir):
    spec = QUERIES[name]
    ok, msg = compare(spec.fn(spark, agreement_docs_dir), spec.oracle,
                      agreement_docs_dir)
    assert ok, f"{name}: {msg}"


def test_q211_constant_annotators_yield_null_kappa(spark, agreement_docs_dir):
    rows = {
        r["source"]: r
        for r in queries_map()["q211_annotator_kappa"](
            spark, agreement_docs_dir
        ).collect()
    }
    const = rows["const"]
    # both annotators constant over the source: agreement is total or
    # zero by construction and chance-corrected agreement is undefined
    assert const["kappa"] is None
    assert const["agree_frac"] in (0.0, 1.0)


def test_q212_saturation_extremes(spark, agreement_docs_dir):
    rows = {
        r["source"]: r
        for r in queries_map()["q212_good_turing"](
            spark, agreement_docs_dir
        ).collect()
    }
    uniq, rep = rows["uniq"], rows["rep"]
    assert uniq["f1"] == uniq["vocab"] == uniq["n_tokens"]
    assert uniq["p_unseen"] == 1.0
    assert rep["f1"] == 0 and rep["p_unseen"] == 0.0
    assert rep["r1_star"] is None


# -- q213: theta-sketch set ops below the sketch size --------------------------


@pytest.fixture(scope="module")
def overlap_docs_dir(tmp_path_factory):
    """Three small sources (every shingle set smaller than KMV_K=64, so
    each sketch IS its full set and the estimates are checkable against
    ground truth): a/b share a known half, c is disjoint from both."""
    shared = "alpha beta gamma delta epsilon zeta eta theta "
    only_a = "apple banana cherry damson elder fig grape "
    only_b = "iron copper nickel zinc cobalt silver gold "
    only_c = "ships harbors docks sailors ropes anchors tides quays "
    rows = [
        (1, (shared + only_a).strip(), "en", "a"),
        (2, (shared + only_b).strip(), "en", "b"),
        (3, (only_c * 2).strip(), "en", "c"),
    ]
    return _mkdir_with(
        str(tmp_path_factory.mktemp("overlap")), {"documents": _docs_table(rows)}
    )


def test_q213_small_sketch_parity_and_zero_row(spark, overlap_docs_dir):
    spec = QUERIES["q213_theta_sketch_overlap"]
    ok, msg = compare(spec.fn(spark, overlap_docs_dir), spec.oracle,
                      overlap_docs_dir)
    assert ok, f"q213: {msg}"
    rows = {
        (r["source_a"], r["source_b"]): r
        for r in spec.fn(spark, overlap_docs_dir).collect()
    }
    ab = rows[("a", "b")]
    # both sketches are complete sets, so below theta the counts are
    # ground truth: a and b genuinely share shingles
    assert ab["k_a"] < 64 and ab["k_b"] < 64
    assert ab["n_common"] > 0
    # a disjoint pair must still emit its row, with explicit zeros
    for p in (("a", "c"), ("b", "c")):
        assert rows[p]["n_common"] == 0
        assert rows[p]["jaccard_est"] == 0.0
        assert rows[p]["est_intersection"] == 0.0


# -- s99: Misra-Gries guarantee on an adversarial stream ----------------------


@pytest.fixture(scope="module")
def mg_events_dir(tmp_path_factory):
    """'tiny' has fewer distinct users than MG_M (no decrement may ever
    fire: exact counts, zero error bound); 'hot' has one user at ~50%
    of a 40-user stream (the summary must keep it and the deficit
    guarantee must hold at every emission)."""
    rows = []
    eid = 0
    # tiny spans the whole global time range (the stream slices by a
    # global NTILE over ts), so it receives data in every micro-batch
    for i in range(30):
        eid += 1
        rows.append((eid, i * 7_000_000, i % 3, "tiny", 1.0))
    for i in range(200):
        eid += 1
        uid = 7 if i % 2 == 0 else 100 + (i % 20)
        rows.append((eid, i * 1_000_000, uid, "hot", 2.0))
    return _mkdir_with(
        str(tmp_path_factory.mktemp("mg")), {"events": _events_table(rows)}
    )


def test_s99_mg_parity_and_guarantees(spark, mg_events_dir):
    spec = QUERIES["s99_stream_mg_heavy_hitters"]
    ok, msg = compare(spec.fn(spark, mg_events_dir), spec.oracle, mg_events_dir)
    assert ok, f"s99: {msg}"
    rows = spec.fn(spark, mg_events_dir).collect()
    tiny = [r for r in rows if r["event_type"] == "tiny"]
    assert tiny and all(r["err_bound"] == 0 for r in tiny)
    # exact counts when no decrement ever fired: per-user totals at the
    # final seq equal true frequencies
    final_seq = max(r["seq"] for r in tiny)
    finals = {r["user_id"]: r["mg_count"] for r in tiny if r["seq"] == final_seq}
    assert finals == {0: 10, 1: 10, 2: 10}
    # the hot user survives every emission with the deficit bound
    hot = [r for r in rows if r["event_type"] == "hot"]
    hot_final = max(r["seq"] for r in hot)
    hot_rows = {r["user_id"]: r for r in hot if r["seq"] == hot_final}
    assert 7 in hot_rows
    r7 = hot_rows[7]
    true_7 = 100  # 200 events, every even index
    assert r7["mg_count"] <= true_7 <= r7["mg_count"] + r7["err_bound"]


def test_s100_bloom_gate_low_occupancy(spark, mg_events_dir):
    spec = QUERIES["s100_stream_bloom_gate"]
    ok, msg = compare(spec.fn(spark, mg_events_dir), spec.oracle, mg_events_dir)
    assert ok, f"s100: {msg}"
    rows = spec.fn(spark, mg_events_dir).collect()
    by = {(r["event_type"], r["seq"]): r for r in rows}
    # batch 1 of a fresh filter can never flag anything
    for (et, seq), r in by.items():
        if seq == 1:
            assert r["n_dup_flagged"] == 0
    # 'tiny' has 3 users, all seen in its first batch; with 12 of 1024
    # bits set, later batches flag exactly their (all-repeat) arrivals
    tiny_first = by[("tiny", 1)]
    assert tiny_first["n_bits_total"] <= 3 * 4
    later = [r for (et, s), r in by.items() if et == "tiny" and s > 1]
    assert later and all(r["n_dup_flagged"] == r["n_arrived"] for r in later)
    # occupancy is monotone and bounded by m
    for et in {et for et, _ in by}:
        seqs = sorted(s for e, s in by if e == et)
        tots = [by[(et, s)]["n_bits_total"] for s in seqs]
        assert tots == sorted(tots) and tots[-1] <= 1024


def test_q223_neyman_big_chars_no_bigint_wrap(spark, tmp_path):
    """At per-source char sums past ~3e9 the OLD radicand (BIGINT
    n_docs*sx2 - sx*sx) silently wrapped in Spark while DuckDB errored
    (ADVICE r7); the DOUBLE radicand must agree cross-engine at these
    magnitudes. n_chars values are chosen so sx2 itself stays inside
    BIGINT (the declared exact output column) while sx*sx and
    n_docs*sx2 are both > 2^63 — exactly the pre-fix wrap zone."""
    import pyarrow as pa

    from .test_zero_class import _mkdir_with

    rows = [
        (1, "a b", "en", "huge", 1_700_000_000),
        (2, "c d", "en", "huge", 1_600_000_000),
        (3, "e f", "en", "huge", 1_500_000_000),
        (4, "g h", "en", "small", 120),
        (5, "i j", "en", "small", 95),
    ]
    docs = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    d = _mkdir_with(str(tmp_path / "bigchars"), {"documents": docs})
    spec = QUERIES["q223_neyman_allocation"]
    ok, msg = compare(spec.fn(spark, d), spec.oracle, d)
    assert ok, msg
    got = {r.source: r.alloc for r in spec.fn(spark, d).collect()}
    assert sum(got.values()) == 1000  # largest-remainder exactness holds


def test_q223_neyman_sx2_sum_past_bigint(spark, tmp_path):
    """r8 ADVICE, one level up from the r7 radicand fix: with enough
    ~100M-char docs the SUM of per-row squares itself passes 2^63 — a
    LONG sum silently wraps in Spark non-ANSI and poisons the weight
    with no signal. The weight must ride the wide (DECIMAL/HUGEINT)
    sum: allocations stay exact and budget-summing at magnitudes where
    sx2 no longer fits BIGINT (the sx2 output column is dropped from
    the comparison there — it is null on Spark / error on DuckDB by
    declared contract, never silently wrong)."""
    import duckdb
    import pyarrow as pa

    from .test_zero_class import _mkdir_with

    # 1200 docs of 1e8 chars: sum of squares = 1.2e19 > 2^63 (9.22e18)
    n_huge = 1200
    doc_ids = list(range(1, n_huge + 1)) + [9001, 9002, 9003]
    n_chars = [100_000_000] * n_huge + [120, 95, 250]
    sources = ["huge"] * n_huge + ["small"] * 3
    docs = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(["x y"] * len(doc_ids), pa.string()),
            "lang": pa.array(["en"] * len(doc_ids), pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array(n_chars, pa.int64()),
        }
    )
    d = _mkdir_with(str(tmp_path / "sx2wrap"), {"documents": docs})
    spec = QUERIES["q223_neyman_allocation"]
    got = {
        r.source: (r.n_docs, r.sx, r.weight_e3, r.alloc)
        for r in spec.fn(spark, d).collect()
    }
    # spark: sx2 LONG overflows to null for 'huge', stays exact for
    # 'small'; the weight and allocation must be unaffected
    sx2 = {r.source: r.sx2 for r in spec.fn(spark, d).collect()}
    assert sx2["huge"] is None and sx2["small"] == 120**2 + 95**2 + 250**2
    # oracle equivalent, minus the sx2 column (DuckDB errors on the
    # BIGINT cast past 2^63 — the declared loud-failure contract)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS FROM '{d}/documents.parquet'")
    defused = spec.oracle.replace("CAST(sx2h AS BIGINT) AS sx2", "0 AS sx2")
    want = {
        s: (nd, sx, w, a)
        for s, nd, sx, w, a in con.sql(
            "SELECT source, n_docs, sx, weight_e3, alloc FROM "
            f"({defused})"
        ).fetchall()
    }
    assert got == want
    assert sum(a for *_xs, a in got.values()) == 1000


def test_q223_neyman_decimal_overflow_nulls_weight(spark, tmp_path):
    """r9 ADVICE, the last rung of the ladder: if even the
    DECIMAL(38,0) sum of squares overflows (SUM(n_chars^2) >= 1e38,
    two ~9.2e18-char rows suffice), a NON-ANSI session nulls
    sx2_exact — and GREATEST skips nulls, so an ungated weight would
    silently collapse to 0 (a wrong zero allocation). The gate must
    propagate null instead: weight_e3 and alloc read null for the
    overflowed stratum while intact strata still allocate. Under the
    repo's ANSI-on default the same input already dies loudly at the
    earlier BIGINT SUM(n_chars) (verified below), so the gate is
    defense for non-ANSI deployments — the only mode with a silent
    path."""
    import pyarrow as pa
    import pytest

    from .test_zero_class import _mkdir_with

    big = 9_200_000_000_000_000_000  # ~2^63; big^2 ~ 8.46e37
    rows = [
        (1, "a b", "en", "huge", big),
        (2, "c d", "en", "huge", big),  # sum of squares ~1.69e38 > 1e38
        (3, "e f", "en", "small", 120),
        (4, "g h", "en", "small", 95),
        (5, "i j", "en", "small", 250),
    ]
    docs = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    d = _mkdir_with(str(tmp_path / "decoverflow"), {"documents": docs})
    spec = QUERIES["q223_neyman_allocation"]
    # ANSI default: loud arithmetic error, never a silent zero
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        spec.fn(spark, d).collect()
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        got = {r.source: r for r in spec.fn(spark, d).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    huge, small = got["huge"], got["small"]
    assert huge.sx2 is None and huge.weight_e3 is None and huge.alloc is None
    assert small.weight_e3 is not None and small.weight_e3 > 0
    assert small.alloc == 1000  # all non-null weight -> whole budget


def test_q221_weight_formula_big_cnt_cross_engine(spark):
    """count^0.75 weights at counts past the BIGINT-cube wrap point
    (cnt >= 2,097,152): the DOUBLE cube must give bit-identical
    weight_e6 on both engines (ADVICE r7)."""
    import duckdb

    from pyspark.sql import functions as F

    cnts = [2_097_152, 3_000_000, 123_456_789, 208_000, 7]
    sdf = spark.createDataFrame([(c,) for c in cnts], "cnt long").select(
        "cnt",
        F.round(
            F.sqrt(F.sqrt(F.col("cnt").cast("double") * F.col("cnt") * F.col("cnt")))
            * 1_000_000
        ).cast("long").alias("weight_e6"),
    )
    got = {r.cnt: r.weight_e6 for r in sdf.collect()}
    want = dict(
        duckdb.sql(
            "SELECT cnt, CAST(ROUND(SQRT(SQRT(CAST(cnt AS DOUBLE) * cnt * cnt))"
            " * 1000000) AS BIGINT) FROM (SELECT UNNEST("
            f"{cnts}) AS cnt)"
        ).fetchall()
    )
    assert got == want


def test_min_label_propagation_sum_probe(spark):
    """r13 convergence probe: the per-round changed-row join+count was
    replaced by an exact monotone label-sum compare. Pin the loop's
    output against a pure-Python union-find on graphs that stress the
    probe: a long chain (many propagate+jump rounds, so the probe runs
    repeatedly), a star, disjoint components, singleton-free sparse
    ids (labels are node ids, not dense), and an empty edge list."""
    from astarte_data_updater_plant_spark.operators.dedup import (
        _min_label_propagation,
    )

    def union_find_components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {v: find(v) for v in parent}

    cases = [
        # 40-node chain with non-dense ids: needs several jump rounds
        [(i * 10 + 3, (i + 1) * 10 + 3) for i in range(40)],
        # star with the CENTER as the max id (propagation must pull the
        # min leaf through the center)
        [(999, leaf) for leaf in (5, 8, 13, 21, 34)],
        # two disjoint components + an isolated self-contained pair
        [(1, 2), (2, 3), (100, 101), (500, 600), (600, 700)],
    ]
    for edges in cases:
        pairs = spark.createDataFrame(edges, "a long, b long")
        got = {
            r.doc_id: r.label for r in _min_label_propagation(pairs).collect()
        }
        want = union_find_components(edges)
        assert got == want, f"edges={edges}"

    # empty edge list: no vertices, empty label table, loop exits
    empty = spark.createDataFrame([], "a long, b long")
    assert _min_label_propagation(empty).count() == 0


def test_q170_histogram_rank_chunked_matches_oracle(spark):
    """The r13 q170 histogram rank re-generates each frequency tier's
    contiguous rank range as bounded sequence() chunks
    (Q170_RANK_CHUNK). At the default 2^18 the test corpora never
    produce a multi-chunk tier, so this pins the chunk reassembly
    explicitly: with the chunk forced to 1, every rank becomes its own
    chunk row (sf0.001's frequency tie run splits across chunks), and
    the result must still match the oracle's per-token
    ROW_NUMBER() formulation bit-for-bit — the multiset-equivalence
    argument is chunk-size-invariant or it is wrong."""
    from astarte_data_updater_plant_spark.operators import corpus

    spec = QUERIES["q170_zipf_fit"]
    saved = corpus.Q170_RANK_CHUNK
    corpus.Q170_RANK_CHUNK = 1
    try:
        ok, msg = compare(
            spec.fn(spark, "/root/testdata/sf0.001"),
            spec.oracle,
            "/root/testdata/sf0.001",
        )
        assert ok, f"chunk=1: {msg}"
    finally:
        corpus.Q170_RANK_CHUNK = saved


def test_q145_scores_are_non_null(spark):
    """q145's histogram rank joins hist to tiers on score with an INNER
    equi-join, which would silently DROP a null-score row (ADVICE r13:
    the pre-r13 per-row window would instead have ranked it). The
    operator's non-null assumption holds because the score is a norm
    over a non-null embedding column; this pins it so a future
    nullable embedding diverges loudly instead of vanishing from
    n_pos/n_neg."""
    from pyspark.sql import functions as F

    from astarte_data_updater_plant_spark.functions.vectors import (
        norm,
        to_double_array,
    )
    from astarte_data_updater_plant_spark.sources.tables import load_table

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb = load_table(spark, sf_dir, "embeddings")
        nulls = emb.filter(
            F.round(norm(to_double_array(F.col("embedding"))), 6).isNull()
        ).count()
        assert nulls == 0, sf_dir
