"""IVF-style ANN and embedding-cosine near-dup — the coarse-quantize
scale path for vector search.

Two candidate-pruning strategies over the embeddings table, completing
the ANN ladder (q50 brute-force exact -> q53 LSH buckets -> here):

- **IVF (inverted-file) top-k**: assign every vector to its nearest
  coarse centroid (the inverted lists), probe only the query's own
  cell, exact cosine re-rank inside the cell. Centroids here are a
  deterministic pre-picked subset (vec_id < K) standing in for a
  k-means codebook — the plan topology (broadcast centroids ->
  argmin assign -> cell equi-join -> windowed top-k) is exactly what a
  trained codebook would use, and is the part that must scale.
- **Cosine near-dup pairs**: same sign-random-projection buckets as
  q53; candidate pairs come from the bucket equi-join, a cosine
  threshold keeps near-duplicates. Recall is partial by construction
  (bucket-boundary pairs are missed) — the documented LSH trade.

At 100 TB: the centroid table stays broadcastable (K << corpus); the
only shuffles are the cell/bucket equi-joins, partitioned by cell key;
inverted lists are bounded by corpus/K so no cell explodes under AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ranks import with_global_order
from ..functions.vectors import cosine, cosine_with_norms, dot, norm, to_double_array
from ..plans.fragments import fragment
from ..plans.registry import register
from ..sources.tables import load_table, local_rows
from .ann import _bucket_col, _bucket_sql

N_CENTROIDS = 16
TOP_K = 3
QUERY_STRIDE = 100
NEAR_DUP_COS = 0.4

#: trained-codebook parameters (q105/q107)
KM_ITERS = 2  # fixed Lloyd iterations so DuckDB can replay unrolled
KM_SNAP = 1_000_000.0  # centroid components snap to 1e-6 for exact cross-engine means
KM_HASH = 2654435761  # Knuth multiplicative hash for the seeded init sample
NPROBE = 2  # cells probed per query

_COS = (
    "round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
)


@register(
    "q54_cosine_near_dup",
    f"""
    WITH base AS (
      SELECT vec_id, label, embedding, {_bucket_sql("embedding")} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
           {_COS.format(a="a.embedding", b="b.embedding")} AS sim
    FROM base a
    JOIN base b ON b.bucket = a.bucket AND a.vec_id < b.vec_id
    WHERE {_COS.format(a="a.embedding", b="b.embedding")} >= {NEAR_DUP_COS}
    ORDER BY vec_a, vec_b
    """,
    doc="Embedding-cosine near-dup pairs: sign-random-projection bucket "
    "equi-join generates candidates (never all-pairs), exact cosine "
    "threshold verifies. Same topology as MinHash-LSH text dedup, on "
    "vectors.",
)
def q54_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    base = emb.withColumn("bucket", _bucket_col(F.col("v"))).withColumn(
        "nrm", norm(F.col("v"))
    )
    a = base.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), "bucket",
        F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("bucket").alias("b_bucket"),
        F.col("nrm").alias("nb"),
    )
    sim = cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        a.join(
            b,
            (F.col("b_bucket") == F.col("bucket"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b", "bucket", sim.alias("sim"))
        .filter(F.col("sim") >= NEAR_DUP_COS)
        .orderBy("vec_a", "vec_b")
    )


@register(
    "q55_ivf_ann_topk",
    f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, embedding AS cv
      FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    assigned AS (
      SELECT vec_id, label, embedding, centroid_id FROM (
        SELECT e.vec_id, e.label, e.embedding, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_COS.format(a="e.embedding", b="c.cv")} DESC, c.centroid_id
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) t WHERE rn = 1
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, q.centroid_id,
             n.vec_id AS neighbor_id, n.label AS neighbor_label,
             {_COS.format(a="q.embedding", b="n.embedding")} AS sim
      FROM assigned q
      JOIN assigned n
        ON n.centroid_id = q.centroid_id AND n.vec_id <> q.vec_id
      WHERE q.vec_id % {QUERY_STRIDE} = 0
    )
    SELECT query_id, centroid_id, neighbor_id, neighbor_label, sim
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id
      ) AS rn FROM pairs
    ) t
    WHERE rn <= {TOP_K}
    ORDER BY query_id, sim DESC, neighbor_id
    """,
    doc="IVF ANN: broadcast coarse-centroid assign (argmax cosine, "
    "deterministic tie-break), nprobe=1 cell equi-join for candidates, "
    "exact cosine re-rank, per-query windowed top-k.",
)
def q55_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    def _assigned() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", to_double_array(F.col("embedding")).alias("v")
        )
        cents = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
        )
        w_assign = Window.partitionBy("vec_id").orderBy(
            F.col("sim_c").desc(), F.col("centroid_id")
        )
        return (
            emb.crossJoin(F.broadcast(cents))
            .withColumn("sim_c", cosine(F.col("v"), F.col("cv")))
            .withColumn("rn", F.row_number().over(w_assign))
            .filter(F.col("rn") == 1)
            .select("vec_id", "label", "v", "centroid_id")
            .withColumn("nrm", norm(F.col("v")))
        )

    # the assignment is an IVF *index*: build once per application,
    # reuse across every probe (within one call, an uncached shared
    # assignment was a measured wash — the stride filter pushes below
    # the argmin so the query side recomputes ~1% — but across calls
    # the corpus-side rebuild is the whole cost, and the pinned state
    # is one row per vector, the same footprint any ANN index pays)
    assigned = fragment(spark, sf_dir, "ivf_assigned", _assigned)
    q = assigned.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        "centroid_id",
        F.col("nrm").alias("qn"),
    )
    n = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("v").alias("nv"),
        F.col("centroid_id").alias("n_centroid"),
        F.col("nrm").alias("nn"),
    )
    pairs = q.join(
        n,
        (F.col("n_centroid") == F.col("centroid_id"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).select(
        "query_id",
        "centroid_id",
        "neighbor_id",
        "neighbor_label",
        cosine_with_norms(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")).alias("sim"),
    )
    w_topk = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w_topk))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "centroid_id", "neighbor_id", "neighbor_label", "sim")
        .orderBy("query_id", F.col("sim").desc(), "neighbor_id")
    )


# ---------------------------------------------------------------------------
# Trained IVF: seeded k-means codebook (q105) + recall vs exact (q107)
# ---------------------------------------------------------------------------

def _d2_col(v, cv):
    """Squared-distance rank key: |c|^2 - 2<v,c> (|v|^2 is constant per
    vector so argmin is unchanged); rounded to 6 digits before ranking
    so a 1-ulp engine divergence can never flip an assignment
    (deterministic tie-break on centroid_id)."""
    return F.round(dot(cv, cv) - 2.0 * dot(v, cv), 6)


def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded k-means codebook over the embeddings corpus.

    Deterministic init: the K smallest vectors under a Knuth
    multiplicative hash of vec_id (a seeded sample any engine can
    replay), then KM_ITERS Lloyd iterations, each expressed as
    DataFrame ops: broadcast-centroid argmin assignment, then
    per-(cell, position) means.

    Cross-engine exactness: component means go through exact integer
    arithmetic — snap each component to 1e-6 as a LONG, sum exactly,
    and divide back in double — so DuckDB replays the identical
    codebook as unrolled CTEs (float SUM/AVG would be partial-order
    dependent and diverge).

    Scale: the K x dim codebook is collected to the driver and
    re-broadcast each iteration — the same bounded driver-side state
    MLlib's KMeans keeps; everything corpus-sized stays distributed
    (one argmin shuffle + one mean shuffle per iteration).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    # seeded init as a distributed top-K (TakeOrderedAndProject), not a
    # row_number over a bare Window.orderBy that would sort EVERY vector
    # on one task just to pick K seeds; the K-row collect is the same
    # bounded driver-side codebook state the Lloyd loop already keeps
    seed_rows = (
        emb.select(
            "vec_id",
            "v",
            ((F.col("vec_id") * KM_HASH) % F.lit(4294967296)).alias("hk"),
        )
        .orderBy("hk", "vec_id")
        .limit(N_CENTROIDS)
        .collect()
    )
    seed_rows.sort(key=lambda r: (r["hk"], r["vec_id"]))
    cents = local_rows(
        spark,
        [(i + 1, list(r["v"])) for i, r in enumerate(seed_rows)],
        "centroid_id int, cv array<double>",
    )
    for _ in range(KM_ITERS):
        w_assign = Window.partitionBy("vec_id").orderBy(
            F.col("d2").asc(), F.col("centroid_id")
        )
        assigned = (
            emb.crossJoin(F.broadcast(cents))
            .withColumn("d2", _d2_col(F.col("v"), F.col("cv")))
            .withColumn("rn", F.row_number().over(w_assign))
            .filter(F.col("rn") == 1)
            .select("vec_id", "v", "centroid_id")
        )
        comp = (
            assigned.select("centroid_id", F.posexplode("v").alias("pos", "val"))
            .withColumn("sval", F.round(F.col("val") * KM_SNAP).cast("long"))
            .groupBy("centroid_id", "pos")
            .agg(
                (
                    (F.sum("sval").cast("double") / F.count(F.lit(1))) / F.lit(KM_SNAP)
                ).alias("cval")
            )
        )
        rows = (
            comp.groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                    lambda s: s["cval"],
                ).alias("cv")
            )
            .collect()
        )
        cents = local_rows(
            spark,
            [(r["centroid_id"], r["cv"]) for r in rows],
            "centroid_id int, cv array<double>",
        )
    return cents


def _km_oracle_cents(iters: int) -> str:
    """Unrolled-CTE replay of kmeans_centroids: cents0..cents{iters}."""
    parts = [
        f"""
    base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents0 AS (
      SELECT centroid_id, cv FROM (
        SELECT ROW_NUMBER() OVER (
                 ORDER BY (vec_id * {KM_HASH}) % 4294967296, vec_id
               ) AS centroid_id,
               v AS cv
        FROM base
      ) t WHERE centroid_id <= {N_CENTROIDS}
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""
    assign{i} AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT b.vec_id, b.v, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY round(list_dot_product(c.cv, c.cv)
                               - 2.0 * list_dot_product(b.v, c.cv), 6) ASC,
                          c.centroid_id
               ) AS rn
        FROM base b CROSS JOIN cents{i - 1} c
      ) t WHERE rn = 1
    ),
    comp{i} AS (
      SELECT centroid_id, t.i AS pos,
             (CAST(SUM(CAST(ROUND(v[t.i] * {KM_SNAP}) AS BIGINT)) AS DOUBLE)
              / COUNT(*)) / {KM_SNAP} AS cval
      FROM assign{i}, UNNEST(range(1, 65)) AS t(i)
      GROUP BY centroid_id, t.i
    ),
    cents{i} AS (
      SELECT centroid_id, list(cval ORDER BY pos) AS cv
      FROM comp{i} GROUP BY centroid_id
    )"""
        )
    return ",".join(parts)


#: final corpus assignment over the trained codebook (shared by
#: q105/q107 pairs and q115 SemDeDup)
_TRAINED_CORPUS_SQL = f"""
    corpus AS (
      SELECT vec_id, label, v, centroid_id FROM (
        SELECT b.vec_id, b.label, b.v, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY round(list_dot_product(c.cv, c.cv)
                               - 2.0 * list_dot_product(b.v, c.cv), 6) ASC,
                          c.centroid_id
               ) AS rn
        FROM base b CROSS JOIN cents{KM_ITERS} c
      ) t WHERE rn = 1
    )"""

#: + nprobe-2 query probes over the trained codebook
_TRAINED_PAIRS_SQL = f"""
    {_TRAINED_CORPUS_SQL},
    probes AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT b.vec_id, b.v, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY round(list_dot_product(c.cv, c.cv)
                               - 2.0 * list_dot_product(b.v, c.cv), 6) ASC,
                          c.centroid_id
               ) AS rn
        FROM base b CROSS JOIN cents{KM_ITERS} c
        WHERE b.vec_id % {QUERY_STRIDE} = 0
      ) t WHERE rn <= {NPROBE}
    ),
    ivf_topk AS (
      SELECT query_id, neighbor_id, neighbor_label, sim FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               n.label AS neighbor_label,
               {_COS.format(a="q.v", b="n.v")} AS sim,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_COS.format(a="q.v", b="n.v")} DESC, n.vec_id
               ) AS rn
        FROM probes q
        JOIN corpus n ON n.centroid_id = q.centroid_id AND n.vec_id <> q.vec_id
      ) t WHERE rn <= {TOP_K}
    )"""


@register(
    "q105_ivf_trained_topk",
    f"""
    WITH {_km_oracle_cents(KM_ITERS)},
    {_TRAINED_PAIRS_SQL}
    SELECT query_id, neighbor_id, neighbor_label, sim
    FROM ivf_topk
    ORDER BY query_id, sim DESC, neighbor_id
    """,
    doc="IVF ANN over a TRAINED codebook: seeded k-means "
    f"({KM_ITERS} Lloyd iterations, exact integer-snapped means so the "
    "oracle replays the identical codebook), nprobe=2 query probes, "
    "cell equi-join candidates, exact cosine re-rank, windowed top-k. "
    "The reference has no ANN operator; this is the trained-codebook "
    "completion of q55's plan topology (VERDICT r3 item 4).",
)
def q105_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = fragment(
        spark, sf_dir, "ivf_trained_cents", lambda: kmeans_centroids(spark, sf_dir)
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double_array(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))

    def _assign(df: DataFrame, keep: int) -> DataFrame:
        w = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("centroid_id"))
        return (
            df.crossJoin(F.broadcast(cents))
            .withColumn("d2", _d2_col(F.col("v"), F.col("cv")))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= keep)
            .drop("cv", "d2", "rn")
        )

    corpus = fragment(
        spark, sf_dir, "ivf_trained_corpus", lambda: _assign(emb, 1)
    )
    probes = _assign(emb.filter(F.col("vec_id") % QUERY_STRIDE == 0), NPROBE).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        "centroid_id",
    )
    n = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nn"),
        F.col("centroid_id").alias("n_centroid"),
    )
    pairs = probes.join(
        n,
        (F.col("n_centroid") == F.col("centroid_id"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).select(
        "query_id", "neighbor_id", "neighbor_label",
        cosine_with_norms(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")).alias("sim"),
    )
    w_topk = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w_topk))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "neighbor_label", "sim")
        .orderBy("query_id", F.col("sim").desc(), "neighbor_id")
    )


@register(
    "q107_ivf_recall",
    f"""
    WITH {_km_oracle_cents(KM_ITERS)},
    {_TRAINED_PAIRS_SQL},
    exact_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_COS.format(a="q.v", b="n.v")} DESC, n.vec_id
               ) AS rn
        FROM base q
        JOIN base n ON n.vec_id <> q.vec_id
        WHERE q.vec_id % {QUERY_STRIDE} = 0
      ) t WHERE rn <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
           COUNT(i.neighbor_id) / {TOP_K}.0 AS recall
    FROM exact_topk e
    LEFT JOIN ivf_topk i
      ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
    doc="recall@k of the trained-IVF probe (q105) against the exact "
    "brute-force top-k on the same query set — the quality metric that "
    "makes an nprobe/codebook trade measurable. Exact side is the "
    "bounded-query-batch broadcast of q50's plan.",
)
def q107_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ivf = q105_ivf_trained_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    q = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    n = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nn"),
    )
    w_topk = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    exact = (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            cosine_with_norms(
                F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")
            ).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w_topk))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    hits = exact.join(
        ivf.withColumnRenamed("neighbor_id", "ivf_neighbor"),
        (F.col("ivf_neighbor") == F.col("neighbor_id"))
        & (ivf["query_id"] == exact["query_id"]),
        "left",
    )
    return (
        hits.groupBy(exact["query_id"].alias("query_id"))
        .agg(F.count("ivf_neighbor").cast("long").alias("n_hits"))
        .select(
            "query_id", "n_hits",
            (F.col("n_hits") / F.lit(float(TOP_K))).alias("recall"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup inside trained k-means clusters (q115)
# ---------------------------------------------------------------------------

#: within-cluster cosine above this drops the higher-id vector
#: (calibrated to the synthetic embeddings: ~65 of 1000 drop)
SEM_DEDUP_COS = 0.35


@register(
    "q115_semdedup",
    f"""
    WITH {_km_oracle_cents(KM_ITERS)},
    {_TRAINED_CORPUS_SQL},
    close_pairs AS (
      SELECT a.vec_id AS ua, b.vec_id AS ub
      FROM corpus a JOIN corpus b
        ON b.centroid_id = a.centroid_id AND a.vec_id < b.vec_id
      WHERE {_COS.format(a="a.v", b="b.v")} >= {SEM_DEDUP_COS}
    ),
    drops AS (SELECT ub, COUNT(*) AS n FROM close_pairs GROUP BY ub)
    SELECT c.vec_id, c.centroid_id,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_near_lower,
           COALESCE(d.n, 0) = 0 AS is_kept
    FROM corpus c LEFT JOIN drops d ON d.ub = c.vec_id
    ORDER BY c.vec_id
    """,
    doc="SemDeDup (Abbas et al.): semantic dedup in embedding space — "
    "assign every vector to its trained k-means cluster (the shared "
    "q105 codebook), compare pairs only WITHIN a cluster, and drop "
    "the higher-id member of any pair above the cosine threshold "
    "(greedy keep-lowest, deterministic). The cluster partitioning is "
    "what makes the quadratic affordable: pair generation is an "
    "equi-join on centroid_id with per-cell fan-out bounded by "
    "corpus/K, exactly the paper's design point — more centroids, "
    "smaller cells, same plan. Reuses the pinned codebook + corpus "
    "assignment fragments, so running q105 and q115 together "
    "trains/assigns once.",
)
def q115_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = fragment(
        spark, sf_dir, "ivf_trained_cents", lambda: kmeans_centroids(spark, sf_dir)
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double_array(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))

    def _corpus() -> DataFrame:
        w = Window.partitionBy("vec_id").orderBy(
            F.col("d2").asc(), F.col("centroid_id")
        )
        return (
            emb.crossJoin(F.broadcast(cents))
            .withColumn("d2", _d2_col(F.col("v"), F.col("cv")))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("cv", "d2", "rn")
        )

    corpus = fragment(spark, sf_dir, "ivf_trained_corpus", _corpus)
    a = corpus.select(
        F.col("vec_id").alias("ua"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "centroid_id",
    )
    b = corpus.select(
        F.col("vec_id").alias("ub"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), F.col("centroid_id").alias("cb"),
    )
    sim = cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    drops = (
        a.join(b, (F.col("cb") == F.col("centroid_id")) & (F.col("ua") < F.col("ub")))
        .filter(sim >= SEM_DEDUP_COS)
        .groupBy("ub")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        corpus.join(drops, corpus.vec_id == drops.ub, "left")
        .select(
            "vec_id",
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_near_lower"),
            (F.coalesce("n", F.lit(0)) == 0).alias("is_kept"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Product quantization with asymmetric distance (q118)
# ---------------------------------------------------------------------------

#: PQ geometry: 64-dim vectors split into M subspaces of SUB dims,
#: each encoded against K per-subspace codes (here the deterministic
#: vec_id < K subvector codebook — q105 demonstrates training; PQ adds
#: the compression + lookup-table topology)
PQ_M = 4
PQ_SUB = 16
PQ_K = 16

_PQ_L2 = (
    "round(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b}), 6)"
)


#: the full PQ derivation as oracle CTEs, shared by q118 (top-k) and
#: q119 (recall vs exact L2)
_PQ_CTES_SQL = f"""
    base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    sub AS (
      SELECT vec_id, CAST(s AS INTEGER) AS s,
             v[s * {PQ_SUB} + 1 : s * {PQ_SUB} + {PQ_SUB}] AS sv
      FROM base, UNNEST(range(0, {PQ_M})) AS t(s)
    ),
    cents AS (
      SELECT vec_id AS code, s, sv AS cv FROM sub WHERE vec_id < {PQ_K}
    ),
    codes AS (
      SELECT vec_id, s, code FROM (
        SELECT u.vec_id, u.s, c.code,
               ROW_NUMBER() OVER (
                 PARTITION BY u.vec_id, u.s
                 ORDER BY {_PQ_L2.format(a="u.sv", b="c.cv")} ASC, c.code
               ) AS rn
        FROM sub u JOIN cents c ON c.s = u.s
      ) t WHERE rn = 1
    ),
    lut AS (
      SELECT q.vec_id AS query_id, c.s, c.code,
             {_PQ_L2.format(a="q.sv", b="c.cv")} AS d
      FROM sub q JOIN cents c ON c.s = q.s
      WHERE q.vec_id % {QUERY_STRIDE} = 0
    ),
    parts AS (
      SELECT l.query_id, k.vec_id AS neighbor_id,
             MAX(CASE WHEN l.s = 0 THEN l.d END) AS d0,
             MAX(CASE WHEN l.s = 1 THEN l.d END) AS d1,
             MAX(CASE WHEN l.s = 2 THEN l.d END) AS d2,
             MAX(CASE WHEN l.s = 3 THEN l.d END) AS d3
      FROM codes k JOIN lut l ON l.s = k.s AND l.code = k.code
      WHERE k.vec_id <> l.query_id
      GROUP BY l.query_id, k.vec_id
    ),
    pq_topk AS (
      SELECT query_id, neighbor_id, approx_d2 FROM (
        SELECT query_id, neighbor_id,
               round(d0 + d1 + d2 + d3, 6) AS approx_d2,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY round(d0 + d1 + d2 + d3, 6) ASC, neighbor_id
               ) AS rn
        FROM parts
      ) t WHERE rn <= {TOP_K}
    )"""


@register(
    "q118_pq_adc_topk",
    f"""
    WITH {_PQ_CTES_SQL}
    SELECT query_id, neighbor_id, approx_d2 FROM pq_topk
    ORDER BY query_id, approx_d2, neighbor_id
    """,
    doc="Product-quantization ANN with asymmetric distance (the "
    "IVF-PQ/FAISS scale path): vectors split into 4 subspaces of 16 "
    "dims, each encoded as its nearest per-subspace code (4 bytes per "
    "vector instead of 512 — the compression that lets a 100 TB "
    "corpus's index live in executor memory), queries build a tiny "
    "(query x subspace x code) distance lookup table, and approximate "
    "distances are LUT sums joined against the corpus CODES — the "
    "full vectors are never touched at query time. The LUT join is a "
    "broadcast (M*K entries per query); the per-subspace partial "
    "distances are pivoted to columns and summed in a FIXED order so "
    "the float total is engine-exact. Codebooks here are the "
    "deterministic vec_id-subvector family (q105 shows training); "
    "re-ranking survivors with exact distances is q105's re-rank "
    "stage composed downstream.",
)
def q118_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    s_arr = F.sequence(F.lit(0), F.lit(PQ_M - 1))
    sub = emb.select(
        "vec_id", F.explode(s_arr).alias("s"), F.col("v")
    ).select(
        "vec_id", "s",
        F.slice(F.col("v"), F.col("s") * PQ_SUB + 1, PQ_SUB).alias("sv"),
    )
    sub = fragment(spark, sf_dir, "pq_subvectors", lambda: sub)
    cents = sub.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("code"), F.col("s").alias("cs"), F.col("sv").alias("cv")
    )

    def l2(a, b):
        return F.round(dot(a, a) - 2 * dot(a, b) + dot(b, b), 6)

    def _codes() -> DataFrame:
        w = Window.partitionBy("vec_id", "s").orderBy(F.col("d").asc(), F.col("code"))
        return (
            sub.join(F.broadcast(cents), F.col("cs") == F.col("s"))
            .withColumn("d", l2(F.col("sv"), F.col("cv")))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "s", "code")
        )

    codes = fragment(spark, sf_dir, "pq_codes", _codes)
    lut = (
        sub.filter(F.col("vec_id") % QUERY_STRIDE == 0)
        .join(F.broadcast(cents), F.col("cs") == F.col("s"))
        .select(
            F.col("vec_id").alias("query_id"), "s", "code",
            l2(F.col("sv"), F.col("cv")).alias("d"),
        )
    )
    parts = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(*[
            F.max(F.when(F.col("s") == i, F.col("d"))).alias(f"d{i}")
            for i in range(PQ_M)
        ])
    )
    total = F.round(
        F.col("d0") + F.col("d1") + F.col("d2") + F.col("d3"), 6
    )
    w_topk = Window.partitionBy("query_id").orderBy(total.asc(), "neighbor_id")
    return (
        parts.withColumn("approx_d2", total)
        .withColumn("rn", F.row_number().over(w_topk))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "approx_d2")
        .orderBy("query_id", "approx_d2", "neighbor_id")
    )


@register(
    "q119_pq_recall",
    f"""
    WITH {_PQ_CTES_SQL},
    exact_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_PQ_L2.format(a="q.v", b="n.v")} ASC, n.vec_id
               ) AS rn
        FROM base q
        JOIN base n ON n.vec_id <> q.vec_id
        WHERE q.vec_id % {QUERY_STRIDE} = 0
      ) t WHERE rn <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hits,
           COUNT(p.neighbor_id) / {TOP_K}.0 AS recall
    FROM exact_topk e
    LEFT JOIN pq_topk p
      ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
    doc="recall@k of PQ asymmetric-distance search (q118) against the "
    "exact L2 top-k on the same query set — quantization loss made "
    "measurable, the metric that justifies a subspace/code-count "
    "trade. Exact side is the bounded-query-batch broadcast pattern "
    "(q50/q107).",
)
def q119_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    pq = q118_pq_adc_topk(spark, sf_dir).select("query_id", "neighbor_id")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    q = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    n = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")
    )
    d2 = F.round(
        dot(F.col("qv"), F.col("qv"))
        - 2 * dot(F.col("qv"), F.col("nv"))
        + dot(F.col("nv"), F.col("nv")),
        6,
    )
    w_topk = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), "neighbor_id")
    exact = (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w_topk))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    hits = exact.join(
        pq.withColumnRenamed("neighbor_id", "pq_neighbor"),
        (F.col("pq_neighbor") == F.col("neighbor_id"))
        & (pq["query_id"] == exact["query_id"]),
        "left",
    )
    return (
        hits.groupBy(exact["query_id"].alias("query_id"))
        .agg(F.count("pq_neighbor").cast("long").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits") / float(TOP_K)).alias("recall"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# q185 — nearest-prototype classification (class centroids as a model)
# ---------------------------------------------------------------------------

_COS_PV = (
    "round(list_dot_product(CAST(embedding AS DOUBLE[]), pv)"
    " / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),"
    "         CAST(embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(pv, pv))), 6)"
)


@register(
    "q185_prototype_classifier",
    f"""
    WITH comp AS (
      SELECT label, i AS pos,
             CAST(SUM(CAST(round(embedding[i] * {KM_SNAP}) AS BIGINT)) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
      GROUP BY label, i
    ),
    protos AS (
      SELECT label AS proto_label,
             list((CAST(s AS DOUBLE) / c) / {KM_SNAP} ORDER BY pos) AS pv
      FROM comp GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label AS true_label, p.proto_label,
             {_COS_PV} AS sim,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {_COS_PV} DESC, p.proto_label) AS rn
      FROM embeddings e CROSS JOIN protos p
    )
    SELECT true_label, proto_label AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM scored WHERE rn = 1
    GROUP BY true_label, pred_label
    ORDER BY true_label, pred_label
    """,
    doc="Nearest-class-prototype classification — the cheapest useful "
    "embedding model (class centroids as prototypes, cosine argmax "
    "assignment) and the standard probe for 'are these embeddings "
    "linearly separable by class': prototypes use the k-means exact "
    "discipline (components snapped to 1e-6 LONGs, exact sums, one "
    "double division) so both engines hold the IDENTICAL 10x64 "
    "codebook; assignment is a broadcast cross join + per-vector "
    "keyed argmax on cosine rounded to 6 digits (label tie-break), "
    "and the output confusion matrix carries exact counts (similarity "
    "mass is deliberately NOT summed: re-rounding a 6-digit-rounded "
    "double amplifies sub-ulp engine divergence — the q114 "
    "never-round-a-derived-double rule). At 100 TB the prototype table stays "
    "K x dim regardless of corpus size — the same bounded-state shape "
    "as the IVF codebook.",
)
def q185_prototype_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double_array(F.col("embedding")).alias("v")
    )
    comp = (
        emb.select("label", F.posexplode("v").alias("pos", "val"))
        .withColumn("sval", F.round(F.col("val") * KM_SNAP).cast("long"))
        .groupBy("label", "pos")
        .agg(
            ((F.sum("sval").cast("double") / F.count(F.lit(1))) / F.lit(KM_SNAP)).alias(
                "cval"
            )
        )
    )
    rows = (
        comp.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("pv")
        )
        .collect()
    )
    protos = local_rows(
        spark,
        [(int(r["label"]), list(r["pv"])) for r in rows],
        "proto_label int, pv array<double>",
    )
    sim = cosine(F.col("v"), F.col("pv"))
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "proto_label")
    scored = (
        emb.crossJoin(F.broadcast(protos))
        .withColumn("sim", sim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        scored.groupBy(
            F.col("label").alias("true_label"),
            F.col("proto_label").alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
        .orderBy("true_label", "pred_label")
    )


# ---------------------------------------------------------------------------
# q192 — SemDeDup threshold-calibration curve
# ---------------------------------------------------------------------------

#: lowest cosine considered by the calibration sweep (pairs below it
#: would never drop at any examined threshold)
SEM_CURVE_MIN_E2 = 30


@register(
    "q192_semdedup_threshold_curve",
    f"""
    WITH {_km_oracle_cents(KM_ITERS)},
    {_TRAINED_CORPUS_SQL},
    pairs AS (
      SELECT a.vec_id AS ua, b.vec_id AS ub,
             {_COS.format(a="a.v", b="b.v")} AS cos
      FROM corpus a JOIN corpus b
        ON b.centroid_id = a.centroid_id AND a.vec_id < b.vec_id
      WHERE {_COS.format(a="a.v", b="b.v")} >= {SEM_CURVE_MIN_E2} / 100.0
    ),
    thr AS (
      SELECT CAST(i AS BIGINT) AS thr_e2
      FROM UNNEST(range({SEM_CURVE_MIN_E2}, 100, 5)) AS t(i)
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM embeddings),
    agg AS (
      SELECT t.thr_e2,
             CAST(COUNT(p.ub) AS BIGINT) AS n_pairs,
             CAST(COUNT(DISTINCT p.ub) AS BIGINT) AS n_dropped
      FROM thr t LEFT JOIN pairs p ON p.cos >= t.thr_e2 / 100.0
      GROUP BY t.thr_e2
    )
    SELECT agg.thr_e2, agg.n_pairs, agg.n_dropped, tot.n_corpus,
           CAST(agg.n_dropped AS DOUBLE) / tot.n_corpus AS drop_frac
    FROM agg, tot
    ORDER BY thr_e2
    """,
    doc="SemDeDup threshold calibration — the curve read before "
    "committing to a cosine cutoff (q115 runs at one threshold; this "
    "sweeps them): for every candidate threshold, the number of "
    "within-cluster pairs above it and the number of documents the "
    "greedy keep-lowest rule would drop (a doc drops iff ANY lower-id "
    "cluster-mate exceeds the threshold, so COUNT(DISTINCT higher id) "
    "is exact). Pair generation happens ONCE at the lowest examined "
    "threshold over the shared trained-codebook fragments; the sweep "
    "itself is a 14-row broadcast theta-join over those pairs — "
    "re-running the dedup per candidate threshold, the naive approach, "
    "would cost 14x the cluster pass. Thresholds with zero pairs "
    "appear as explicit zero rows (LEFT join from the threshold list), "
    "the q161 zero-member discipline.",
)
def q192_semdedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = fragment(
        spark, sf_dir, "ivf_trained_cents", lambda: kmeans_centroids(spark, sf_dir)
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double_array(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))

    def _corpus() -> DataFrame:
        w = Window.partitionBy("vec_id").orderBy(
            F.col("d2").asc(), F.col("centroid_id")
        )
        return (
            emb.crossJoin(F.broadcast(cents))
            .withColumn("d2", _d2_col(F.col("v"), F.col("cv")))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("cv", "d2", "rn")
        )

    corpus = fragment(spark, sf_dir, "ivf_trained_corpus", _corpus)
    a = corpus.select(
        F.col("vec_id").alias("ua"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "centroid_id",
    )
    b = corpus.select(
        F.col("vec_id").alias("ub"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), F.col("centroid_id").alias("cb"),
    )
    sim = cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    pairs = (
        a.join(b, (F.col("cb") == F.col("centroid_id")) & (F.col("ua") < F.col("ub")))
        .select("ub", sim.alias("cos"))
        .filter(F.col("cos") >= SEM_CURVE_MIN_E2 / 100.0)
    )
    thr = spark.range(SEM_CURVE_MIN_E2, 100, 5).select(
        F.col("id").cast("long").alias("thr_e2")
    )
    swept = pairs.join(
        F.broadcast(thr), F.col("cos") >= F.col("thr_e2") / 100.0
    )
    agg = swept.groupBy("thr_e2").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("ub").cast("long").alias("n_dropped"),
    )
    tot = load_table(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).cast("long").alias("n_corpus")
    )
    return (
        thr.join(agg, "thr_e2", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "thr_e2",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
            "n_corpus",
            (
                F.coalesce("n_dropped", F.lit(0)).cast("double")
                / F.col("n_corpus")
            ).alias("drop_frac"),
        )
        .orderBy("thr_e2")
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) with asymmetric distance (q200/q201)
# ---------------------------------------------------------------------------

#: SQ8 levels: codes 0..255, one byte per dimension — 8x smaller than
#: a float64 corpus, 4x smaller than float32 (the FAISS SQ8 rung
#: between full vectors and PQ's sub-byte codes)
SQ_LEVELS = 255

#: the SQ8 derivation as oracle CTEs, shared by q200 (top-k) and q201
#: (recall vs exact L2)
_SQ_CTES_SQL = f"""
    base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    sqdims AS (
      SELECT t.i AS dim, MIN(v[t.i]) AS mn, MAX(v[t.i]) AS mx
      FROM base, UNNEST(range(1, len(v) + 1)) AS t(i)
      GROUP BY t.i
    ),
    sqstats AS (
      SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
      FROM sqdims
    ),
    sqcoded AS (
      SELECT vec_id, v,
             list_transform(range(1, len(v) + 1), i ->
               mns[i] + (CASE WHEN mxs[i] - mns[i] > 0
                 THEN least({SQ_LEVELS}.0, greatest(0.0,
                      floor((v[i] - mns[i]) / (mxs[i] - mns[i]) * {SQ_LEVELS})))
                 ELSE 0.0 END) * (mxs[i] - mns[i]) / {SQ_LEVELS}) AS vq
      FROM base CROSS JOIN sqstats
    ),
    sq_topk AS (
      SELECT query_id, neighbor_id, approx_d2 FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               round(list_dot_product(q.v, q.v)
                     - 2 * list_dot_product(q.v, n.vq)
                     + list_dot_product(n.vq, n.vq), 6) AS approx_d2,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_dot_product(q.v, q.v)
                               - 2 * list_dot_product(q.v, n.vq)
                               + list_dot_product(n.vq, n.vq), 6) ASC,
                          n.vec_id
               ) AS rn
        FROM base q JOIN sqcoded n ON n.vec_id <> q.vec_id
        WHERE q.vec_id % {QUERY_STRIDE} = 0
      ) t WHERE rn <= {TOP_K}
    )"""


def _sq_coded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, vq): every vector plus its SQ8 DEQUANTIZED twin.

    Training is one pass: per-dimension global [min, max] — a 2x64-
    double "codebook" carried as a single broadcast row, compared to
    PQ's K x M table. Encoding and asymmetric reconstruction are a
    pure map over the corpus (transform over an index sequence), so
    the whole quantizer adds ZERO shuffles beyond the 64-row stats
    aggregate. vq holds the dequantized values mn + code*step so the
    ADC arithmetic below is plain double dot products on both engines;
    on a real deployment the stored column is the uint8 code array
    (1/8th the bytes) and vq is reconstructed in the scan projection.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    stats_row = (
        emb.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .select(F.struct("pos", "mn", "mx").alias("s"))
        .groupBy()
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
        .select(
            F.transform("ss", lambda s: s["mn"]).alias("mns"),
            F.transform("ss", lambda s: s["mx"]).alias("mxs"),
        )
    )

    def dequant(i):
        vi = F.element_at(F.col("v"), i)
        mi = F.element_at(F.col("mns"), i)
        xi = F.element_at(F.col("mxs"), i)
        code = F.when(
            xi - mi > 0,
            F.least(
                F.lit(float(SQ_LEVELS)),
                F.greatest(
                    F.lit(0.0),
                    F.floor((vi - mi) / (xi - mi) * SQ_LEVELS).cast("double"),
                ),
            ),
        ).otherwise(F.lit(0.0))
        return mi + code * (xi - mi) / SQ_LEVELS

    return (
        emb.crossJoin(F.broadcast(stats_row))
        .select(
            "vec_id",
            "v",
            F.transform(F.sequence(F.lit(1), F.size("v")), dequant).alias("vq"),
        )
    )


@register(
    "q200_sq8_adc_topk",
    f"""
    WITH {_SQ_CTES_SQL}
    SELECT query_id, neighbor_id, approx_d2 FROM sq_topk
    ORDER BY query_id, approx_d2, neighbor_id
    """,
    doc="Scalar-quantization (SQ8) ANN with asymmetric distance — the "
    "middle rung of the compression ladder (exact q50 -> SQ8 here -> "
    "PQ q118): each dimension is affinely coded to 8 bits against "
    "global per-dimension [min, max], queries stay full-precision and "
    "score against DEQUANTIZED corpus vectors (ADC). The codebook is "
    "2 x dim doubles — one broadcast row, vs PQ's K x M table — and "
    "encode/reconstruct is a shuffle-free map, so at 100 TB the scan "
    "reads 1-byte codes (8x less IO than float64) and the only "
    "shuffle anywhere is the 64-row stats aggregate plus the top-k "
    "window. Distances are rounded to 6 digits with vec_id tie-break "
    "so the cutoff is engine-exact.",
)
def q200_sq8_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    coded = fragment(
        spark, sf_dir, "sq8_coded", lambda: _sq_coded(spark, sf_dir)
    )
    corpus = coded.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vq").alias("nv"),
        dot(F.col("vq"), F.col("vq")).alias("nn"),
    )
    qs = coded.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        dot(F.col("v"), F.col("v")).alias("qq"),
    )
    d2 = F.round(
        F.col("qq") - 2 * dot(F.col("qv"), F.col("nv")) + F.col("nn"), 6
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), "neighbor_id"
    )
    return (
        corpus.crossJoin(F.broadcast(qs))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d2.alias("approx_d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "approx_d2")
        .orderBy("query_id", "approx_d2", "neighbor_id")
    )


@register(
    "q201_sq8_recall",
    f"""
    WITH {_SQ_CTES_SQL},
    exact_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_dot_product(q.v, q.v)
                               - 2 * list_dot_product(q.v, n.v)
                               + list_dot_product(n.v, n.v), 6) ASC,
                          n.vec_id
               ) AS rn
        FROM base q JOIN base n ON n.vec_id <> q.vec_id
        WHERE q.vec_id % {QUERY_STRIDE} = 0
      ) t WHERE rn <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(COUNT(s.neighbor_id) AS BIGINT) AS n_hits,
           COUNT(s.neighbor_id) / {TOP_K}.0 AS recall
    FROM exact_topk e
    LEFT JOIN sq_topk s
      ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
    doc="recall@k of SQ8 asymmetric-distance search (q200) against "
    "the exact L2 top-k on the same queries — quantization loss made "
    "measurable, completing the ladder's audit set (q107 IVF recall, "
    "q119 PQ recall, here SQ8). SQ8 recall should dominate PQ's at "
    "equal corpus bytes per the usual trade; having all three as "
    "queries makes that an executable claim rather than a doc note.",
)
def q201_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    sq = q200_sq8_adc_topk(spark, sf_dir).select(
        F.col("query_id").alias("sq_query"), F.col("neighbor_id").alias("sq_neighbor")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    q = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    n = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    d2 = F.round(
        dot(F.col("qv"), F.col("qv"))
        - 2 * dot(F.col("qv"), F.col("nv"))
        + dot(F.col("nv"), F.col("nv")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), "neighbor_id")
    exact = (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    hits = exact.join(
        sq,
        (F.col("sq_query") == F.col("query_id"))
        & (F.col("sq_neighbor") == F.col("neighbor_id")),
        "left",
    )
    return (
        hits.groupBy("query_id")
        .agg(F.count("sq_neighbor").cast("long").alias("n_hits"))
        .select(
            "query_id", "n_hits", (F.col("n_hits") / float(TOP_K)).alias("recall")
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Truncated-embedding (Matryoshka-style) recall audit (q206)
# ---------------------------------------------------------------------------

#: truncation depths audited against the full-dimension exact top-k
TRUNC_DIMS = (16, 32)


def _trunc_l2_sql(a: str, b: str, d: int | None) -> str:
    sa = a if d is None else f"{a}[1:{d}]"
    sb = b if d is None else f"{b}[1:{d}]"
    return (
        f"round(list_dot_product({sa}, {sa})"
        f" - 2 * list_dot_product({sa}, {sb})"
        f" + list_dot_product({sb}, {sb}), 6)"
    )


def _topk_cte_sql(name: str, d: int | None) -> str:
    return f"""
    {name} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_trunc_l2_sql("q.v", "n.v", d)} ASC, n.vec_id
               ) AS rn
        FROM base q JOIN base n ON n.vec_id <> q.vec_id
        WHERE q.vec_id % {QUERY_STRIDE} = 0
      ) t WHERE rn <= {TOP_K}
    )"""


@register(
    "q206_matryoshka_recall",
    f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    {_topk_cte_sql("topk_full", None)},
    {_topk_cte_sql("topk_16", 16)},
    {_topk_cte_sql("topk_32", 32)},
    r16 AS (
      SELECT f.query_id, CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hits_d16
      FROM topk_full f
      LEFT JOIN topk_16 t
        ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
      GROUP BY f.query_id
    ),
    r32 AS (
      SELECT f.query_id, CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hits_d32
      FROM topk_full f
      LEFT JOIN topk_32 t
        ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
      GROUP BY f.query_id
    )
    SELECT query_id,
           n_hits_d16, n_hits_d16 / {TOP_K}.0 AS recall_d16,
           n_hits_d32, n_hits_d32 / {TOP_K}.0 AS recall_d32
    FROM r16 JOIN r32 USING (query_id)
    ORDER BY query_id
    """,
    doc="Matryoshka-style truncation audit: recall@k of exact search "
    "over the FIRST 16 and 32 dimensions against the full-dimension "
    "exact top-k — the measurement that decides whether a "
    "prefix-truncated index (the MRL deployment trick: store 64 "
    "dims, search the first 16, re-rank survivors at full width) is "
    "safe for a given embedding family. Truncation is a zero-cost "
    "slice in the scan projection — at 100 TB searching d/4 "
    "prefixes cuts both the scanned bytes and the dot-product FLOPs "
    "4x before any ANN structure is even applied, and this query "
    "reports exactly what that buys per query. Same bounded-query "
    "broadcast brute-force pattern as the other recall audits "
    "(q107/q119/q201); distances rounded to 6 digits, id tie-break.",
)
def q206_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )

    def topk(d: int | None) -> DataFrame:
        nv = F.col("v") if d is None else F.slice("v", 1, d)
        corpus = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            nv.alias("nv"),
        ).withColumn("nn", dot(F.col("nv"), F.col("nv")))
        qs = (
            emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
            .select(F.col("vec_id").alias("query_id"), nv.alias("qv"))
            .withColumn("qq", dot(F.col("qv"), F.col("qv")))
        )
        d2 = F.round(
            F.col("qq") - 2 * dot(F.col("qv"), F.col("nv")) + F.col("nn"), 6
        )
        w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), "neighbor_id")
        return (
            corpus.crossJoin(F.broadcast(qs))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", d2.alias("d2"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    full = topk(None)

    def recall_of(d: int) -> DataFrame:
        t = topk(d).select(
            F.col("query_id").alias("tq"), F.col("neighbor_id").alias("tn")
        )
        return (
            full.join(
                t,
                (F.col("tq") == F.col("query_id"))
                & (F.col("tn") == F.col("neighbor_id")),
                "left",
            )
            .groupBy("query_id")
            .agg(F.count("tn").cast("long").alias(f"n_hits_d{d}"))
        )

    out = recall_of(16).join(recall_of(32), "query_id")
    return out.select(
        "query_id",
        "n_hits_d16",
        (F.col("n_hits_d16") / float(TOP_K)).alias("recall_d16"),
        "n_hits_d32",
        (F.col("n_hits_d32") / float(TOP_K)).alias("recall_d32"),
    ).orderBy("query_id")
