"""Similarity search over the embeddings table (array<float>, 64-dim).

Brute-force cosine top-k is the exact baseline: query set x corpus as
a broadcast nested-loop join (query side is small and broadcast; the
corpus streams through executors — no all-pairs shuffle), windowed
row_number for per-query top-k. At 100 TB the same plan holds as long
as the query batch stays broadcastable; beyond that the scale path is
bucketed LSH/IVF (candidate generation by bucket equi-join, exact
re-rank inside buckets — same topology as the MinHash dedup pipeline).

Determinism: cosine is rounded to 6 digits before ranking and ties
break on vec_id, so Spark and the DuckDB oracle agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ranks import with_global_order
from ..functions.vectors import cosine_with_norms, norm, to_double_array
from ..plans.fragments import fragment
from ..plans.registry import register
from ..sources.tables import load_table, local_rows

TOP_K = 5
QUERY_STRIDE = 100  # vec_id % stride == 0 -> query vector
#: q59 collects the query batch chunk-at-a-time: bounds peak driver
#: residency and per-task closure size to one chunk no matter how the
#: workload defines the query set (the r3 verdict's watch item — under
#: the stride definition the batch grows with the corpus)
QUERY_CHUNK = 4096

_COS_SQL = """
  round(
    list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
    / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
       * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))),
    6)
"""


@register(
    "q50_cosine_topk",
    f"""
    WITH pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
             {_COS_SQL} AS sim
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id % {QUERY_STRIDE} = 0
    )
    SELECT query_id, neighbor_id, neighbor_label, sim
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id
      ) AS rn
      FROM pairs
    ) t
    WHERE rn <= {TOP_K}
    ORDER BY query_id, sim DESC, neighbor_id
    """,
    doc="Brute-force cosine top-k ANN baseline: broadcast query batch x "
    "corpus scan, rounded cosine, per-query window top-k.",
)
def q50_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = to_double_array(F.col("embedding"))
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), qv.alias("qv")
    ).select("query_id", "qv", norm(F.col("qv")).alias("qn"))
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        qv.alias("cv"),
    ).select("neighbor_id", "neighbor_label", "cv", norm(F.col("cv")).alias("cn"))
    pairs = corpus.join(
        F.broadcast(queries), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        cosine_with_norms(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "neighbor_label", "sim")
        .orderBy("query_id", F.col("sim").desc(), "neighbor_id")
    )


@register(
    "q51_knn_label_vote",
    f"""
    WITH pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
             {_COS_SQL} AS sim
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id % {QUERY_STRIDE} = 0
    ),
    topk AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY sim DESC, neighbor_id
        ) AS rn FROM pairs
      ) t WHERE rn <= {TOP_K}
    ),
    votes AS (
      SELECT query_id, neighbor_label, COUNT(*) AS n_votes
      FROM topk GROUP BY query_id, neighbor_label
    )
    SELECT query_id, neighbor_label AS predicted_label, n_votes
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY n_votes DESC, neighbor_label
      ) AS rk FROM votes
    ) v
    WHERE rk = 1
    ORDER BY query_id
    """,
    doc="kNN label vote on the cosine top-k: majority label with "
    "deterministic (count desc, label) tie-break.",
)
def q51_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    topk = q50_cosine_topk(spark, sf_dir)
    votes = topk.groupBy("query_id", "neighbor_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("neighbor_label")
    )
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("neighbor_label").alias("predicted_label"), "n_votes")
        .orderBy("query_id")
    )


@register(
    "q52_embedding_norm_stats",
    """
    SELECT label,
           COUNT(*) AS n_vectors,
           round(MIN(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 6) AS min_norm,
           round(MAX(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 6) AS max_norm
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
    doc="Per-label vector norm profile: min/max are order-insensitive "
    "aggregates of per-row deterministic norms (rounded), hash-stable.",
)
def q52_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.round(norm(to_double_array(F.col("embedding"))), 6)
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
        .orderBy("label")
    )


@register(
    "q59_matmul_cosine_topk",
    f"""
    WITH pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
             {_COS_SQL} AS sim
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id % {QUERY_STRIDE} = 0
    )
    SELECT query_id, neighbor_id, neighbor_label, sim
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id
      ) AS rn
      FROM pairs
    ) t
    WHERE rn <= {TOP_K}
    ORDER BY query_id, sim DESC, neighbor_id
    """,
    doc="Same contract as q50 but on the Pandas-UDF scale path: the "
    "query batch ships to every task as a NumPy matrix, each Arrow "
    "batch of the corpus does ONE BLAS matmul (batch x dim @ dim x "
    "n_queries) instead of per-pair JVM expression evaluation, and "
    "each task emits only its per-batch top-k per query (map-side "
    "pruning: shuffle volume is O(k * n_queries * n_batches), never "
    "O(corpus)). The global window re-ranks the surviving candidates. "
    "The query batch is collected CHUNK at a time (hash-partitioned, "
    "QUERY_CHUNK per chunk) so driver residency and per-task closure "
    "size stay bounded however large the query set grows; per-query "
    "top-k is independent across chunks, so the union is exact. A "
    "query set too large for its chunked matrices belongs in the "
    "bucketed q53/q55 index instead. The oracle is identical to "
    "q50's, proving plan equivalence.",
)
def q59_matmul_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        "vec_id", to_double_array(F.col("embedding")).alias("qv")
    )
    n_chunks = max(1, -(-queries.count() // QUERY_CHUNK))

    def chunk_candidates(q_ids: "np.ndarray", q_mat: "np.ndarray") -> DataFrame:
        q_norm = np.sqrt(np.einsum("ij,ij->i", q_mat, q_mat))

        def topk_batches(it):
            for pdf in it:
                c_mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
                c_norm = np.sqrt(np.einsum("ij,ij->i", c_mat, c_mat))
                sims = np.round(
                    (c_mat @ q_mat.T) / np.outer(c_norm, q_norm), 6
                )  # (batch, n_queries_in_chunk)
                nid = pdf["vec_id"].to_numpy(dtype=np.int64)
                out = []
                for j, qid in enumerate(q_ids):
                    col = sims[:, j]
                    keep = nid != qid  # self-exclusion
                    order = np.lexsort((nid[keep], -col[keep]))[:TOP_K]
                    idx = np.flatnonzero(keep)[order]
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": qid,
                                "neighbor_id": nid[idx],
                                "neighbor_label": pdf["label"].to_numpy()[idx],
                                "sim": col[keep][order],
                            }
                        )
                    )
                if out:
                    yield pd.concat(out)

        return emb.select("vec_id", "label", "embedding").mapInPandas(
            topk_batches,
            schema="query_id long, neighbor_id long, neighbor_label int, sim double",
        )

    parts: list[DataFrame] = []
    for i in range(n_chunks):
        chunk = (
            queries.filter(F.pmod(F.xxhash64("vec_id"), F.lit(n_chunks)) == i)
            if n_chunks > 1
            else queries
        ).collect()
        if not chunk:
            continue
        parts.append(
            chunk_candidates(
                np.array([r.vec_id for r in chunk], dtype=np.int64),
                np.array([r.qv for r in chunk], dtype=np.float64),
            )
        )
    candidates = parts[0]
    for p in parts[1:]:
        candidates = candidates.unionByName(p)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "neighbor_label", "sim")
        .orderBy("query_id", F.col("sim").desc(), "neighbor_id")
    )


# ---------------------------------------------------------------------------
# q139 — Johnson-Lindenstrauss random projection (64d -> 16d)
# ---------------------------------------------------------------------------

#: target dimensionality of the sign-random-projection reduction
JL_DIM = 16
#: source dimensionality (the embeddings table is 64-d)
JL_SRC_DIM = 64
#: the deterministic +-1 matrix: sign(i, j) from an arithmetic hash of
#: the (row, col) index pair — no RNG, identical on any engine. The
#: multipliers are the classic spatial-hash primes; the mod-97 step
#: decorrelates the low bit from the raw parity of i+j.
_JL_A, _JL_B, _JL_P = 73856093, 19349663, 97

_JL_PROJ_SPARK = (
    "transform(sequence(0, {k}), j -> {scale} * aggregate(sequence(0, {d}), "
    "cast(0.0 as double), (acc, i) -> acc + emb_d[i] * "  # 0-based
    "(case when ((cast(i as bigint) * {a} + cast(j as bigint) * {b}) % {p}) % 2 = 0 "
    "then 1.0 else -1.0 end)))"
).format(k=JL_DIM - 1, d=JL_SRC_DIM - 1, a=_JL_A, b=_JL_B, p=_JL_P, scale=0.25)

_JL_PROJ_DUCK = (
    "list_transform(range(0, {k}), j -> {scale} * list_sum(list_transform("
    "range(0, {d}), i -> emb_d[i + 1] * "
    "(CASE WHEN ((CAST(i AS BIGINT) * {a} + CAST(j AS BIGINT) * {b}) % {p}) % 2 = 0 "
    "THEN 1.0 ELSE -1.0 END))))"
).format(k=JL_DIM, d=JL_SRC_DIM, a=_JL_A, b=_JL_B, p=_JL_P, scale=0.25)


@register(
    "q139_jl_projection",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb_d FROM embeddings
    ),
    p AS (SELECT vec_id, emb_d, {_JL_PROJ_DUCK} AS proj FROM e)
    SELECT vec_id,
           round(sqrt(list_dot_product(emb_d, emb_d)), 6) AS orig_norm,
           round(sqrt(list_dot_product(proj, proj)), 6) AS proj_norm,
           round(sqrt(list_dot_product(proj, proj))
                 / sqrt(list_dot_product(emb_d, emb_d)), 6) AS distortion
    FROM p ORDER BY vec_id
    """,
    doc="Johnson-Lindenstrauss dimensionality reduction: each 64-d "
    "embedding is projected to 16-d through a deterministic +-1 sign "
    "matrix (scaled 1/sqrt(16)), the random-projection preprocessing "
    "step cheap ANN and clustering pipelines run before indexing. The "
    "sign matrix is never materialized — sign(i,j) is an arithmetic "
    "hash evaluated inside a per-row sequential fold, so the operator "
    "is a pure map with zero shuffle, zero state, and linear cost in "
    "rows x (64 x 16) multiplies; on a cluster it pipelines inside "
    "whole-stage codegen. Per-vector norm distortion is reported "
    "(JL's guarantee is distance preservation; the norm ratio is its "
    "per-row witness), rounded after identical left-to-right folds "
    "on both engines.",
)
def q139_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("emb_d")
    )
    p = emb.withColumn("proj", F.expr(_JL_PROJ_SPARK))
    orig = norm(F.col("emb_d"))
    proj = norm(F.col("proj"))
    return p.select(
        "vec_id",
        F.round(orig, 6).alias("orig_norm"),
        F.round(proj, 6).alias("proj_norm"),
        F.round(proj / orig, 6).alias("distortion"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# q145 — exact ROC-AUC (Mann-Whitney) for embedding-score tasks
# ---------------------------------------------------------------------------

#: binary tasks: label >= t is the positive class
AUC_TASKS = (3, 5, 7)


@register(
    "q145_roc_auc",
    f"""
    WITH s AS (
      SELECT vec_id, label,
             round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))), 6)
               AS score
      FROM embeddings
    ),
    ranked AS (
      SELECT label,
             RANK() OVER (ORDER BY score) AS rank_min,
             RANK() OVER (ORDER BY score)
               + COUNT(*) OVER (PARTITION BY score) - 1 AS rank_max
      FROM s
    ),
    tasks(pos_min) AS (VALUES {", ".join(f"({t})" for t in AUC_TASKS)})
    SELECT pos_min,
           CAST(SUM(CASE WHEN label >= pos_min THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos,
           CAST(SUM(CASE WHEN label < pos_min THEN 1 ELSE 0 END) AS BIGINT)
             AS n_neg,
           CAST(SUM(CASE WHEN label >= pos_min
                         THEN rank_min + rank_max ELSE 0 END)
                - SUM(CASE WHEN label >= pos_min THEN 1 ELSE 0 END)
                  * (SUM(CASE WHEN label >= pos_min THEN 1 ELSE 0 END) + 1)
                AS BIGINT) AS u_x2,
           CAST(SUM(CASE WHEN label >= pos_min
                         THEN rank_min + rank_max ELSE 0 END)
                - SUM(CASE WHEN label >= pos_min THEN 1 ELSE 0 END)
                  * (SUM(CASE WHEN label >= pos_min THEN 1 ELSE 0 END) + 1)
                AS DOUBLE)
             / (2.0 * SUM(CASE WHEN label >= pos_min THEN 1 ELSE 0 END)
                    * SUM(CASE WHEN label < pos_min THEN 1 ELSE 0 END))
             AS auc
    FROM ranked, tasks
    GROUP BY pos_min
    ORDER BY pos_min
    """,
    doc="Exact ROC-AUC via the Mann-Whitney U statistic, computed for "
    "three binary tasks (label >= 3/5/7) over a shared per-vector "
    "score: AUC equals (sum of positive ranks - P(P+1)/2) / (P*N), "
    "and TIED scores take the average rank (rank_min + rank_max)/2 — "
    "the doubled sum keeps every intermediate an exact integer, so "
    "the statistic is bit-deterministic; the single final division "
    "is the only float op. The U statistic only reads each tie "
    "group's rank bounds, so the rank pass runs over the "
    "(score, label) HISTOGRAM, never the scored rows themselves "
    "(r13, guide §2.3): per-row sums become lcnt-weighted group "
    "sums, exactly. At cluster scale the heavy axis (billions of "
    "scored examples) crosses one map-side-combined aggregation; "
    "only distinct (score, label) pairs shuffle after that.",
)
def q145_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    s = fragment(
        spark, sf_dir, "q145_scores",
        lambda: emb.select(
            "label",
            F.round(norm(to_double_array(F.col("embedding"))), 6).alias("score"),
        ),
    )
    # r13 histogram rank (guide §2.3 "aggregate before you shuffle"):
    # the Mann-Whitney sums consume ranks ONLY via each tie group's
    # (rank_min + rank_max), which is determined by the cumulative
    # score-histogram counts — rank_min = excl + 1, rank_max =
    # excl + cnt for a tie block of cnt rows after excl lower scores.
    # Aggregating to the (score, label) histogram FIRST turns the
    # former per-row rank window + tie min/max window over every
    # scored example into two map-side-combined groupBys plus the
    # two-phase cumsum over distinct scores; every per-row term of
    # the old plan reappears lcnt-weighted, so the integers (hence
    # the one final double division) are bit-identical.
    hist = s.groupBy("score", "label").agg(
        F.count(F.lit(1)).cast("long").alias("lcnt")
    )
    scnt = hist.groupBy("score").agg(F.sum("lcnt").cast("long").alias("cnt"))
    tiers = with_global_order(
        scnt,
        ["score"],
        cumsums=[("cnt", "excl", "exclusive")],
        boundary_key=(sf_dir, "q145"),
    )
    # NON-NULL score assumption made explicit (ADVICE r13): this inner
    # equi-join would silently DROP a null-score histogram row (null
    # never equi-matches), where the pre-r13 per-row rank would have
    # ranked it — the embeddings norm is non-null by construction
    # (to_double_array of a non-null vector column), and
    # tests/test_new_ops.py::test_q145_scores_are_non_null pins that a
    # future nullable embedding diverges loudly instead of vanishing
    # from n_pos/n_neg.
    ranked = hist.join(tiers, "score").select(
        "label",
        "lcnt",
        (F.col("excl") + 1).alias("rank_min"),
        (F.col("excl") + F.col("cnt")).alias("rank_max"),
    )
    tasks = local_rows(spark, [(t,) for t in AUC_TASKS], "pos_min int")
    pos = F.col("label") >= F.col("pos_min")
    n_pos = F.sum(F.when(pos, F.col("lcnt")).otherwise(0))
    n_neg = F.sum(F.when(~pos, F.col("lcnt")).otherwise(0))
    sum_r2 = F.sum(
        F.when(
            pos, F.col("lcnt") * (F.col("rank_min") + F.col("rank_max"))
        ).otherwise(0)
    )
    u_x2 = sum_r2 - n_pos * (n_pos + 1)
    return (
        ranked.crossJoin(F.broadcast(tasks))
        .groupBy("pos_min")
        .agg(
            n_pos.cast("long").alias("n_pos"),
            n_neg.cast("long").alias("n_neg"),
            u_x2.cast("long").alias("u_x2"),
            (u_x2.cast("double") / (2.0 * n_pos * n_neg)).alias("auc"),
        )
        .orderBy("pos_min")
    )


# ---------------------------------------------------------------------------
# q149 — top principal direction via power iteration (matrix-free)
# ---------------------------------------------------------------------------

#: fixed power-iteration count (unrolled in the oracle, like q93/q105)
PI_ITERS = 2
#: fixed-point scale for the exact cross-row accumulation
PI_SCALE = 1_000_000


def _pi_y_e6(emb, v: list) -> "F.Column":
    """One matvec y = X^T X v as a column program: per row the scalar
    s = x.v folds sequentially (deterministic), each dim's
    contribution s*x_j snaps to 1e-6 fixed point, and the cross-row
    sum is exact integer arithmetic — order-free under any
    partitioning."""
    v_lit = F.array(*[F.lit(float(c)) for c in v])
    s = F.aggregate(
        F.zip_with(emb, v_lit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.transform(emb, lambda x: F.floor(s * x * PI_SCALE).cast("long"))


def _pi_oracle_sql() -> str:
    ctes = [
        "e AS (SELECT CAST(embedding AS DOUBLE[]) AS emb_d FROM embeddings)",
        "v0 AS (SELECT list_transform(range(0, 64), i -> 0.125) AS vlist)",
    ]
    for it in range(PI_ITERS):
        ctes.append(
            f"c{it} AS (SELECT unnest(list_transform(emb_d, x -> "
            f"CAST(floor(s * x * {PI_SCALE}) AS BIGINT))) AS c, "
            f"generate_subscripts(emb_d, 1) - 1 AS dim FROM "
            f"(SELECT emb_d, list_dot_product(emb_d, vlist) AS s FROM e, v{it}))"
        )
        ctes.append(
            f"y{it} AS (SELECT dim, CAST(SUM(c) AS BIGINT) AS y_e6 FROM c{it} "
            f"GROUP BY dim)"
        )
        ctes.append(
            f"n{it} AS (SELECT sqrt(list_sum(list_transform("
            f"list(y_e6 / {PI_SCALE}.0 ORDER BY dim), y -> y * y))) AS nrm "
            f"FROM y{it})"
        )
        ctes.append(
            f"v{it + 1} AS (SELECT list(y_e6 / {PI_SCALE}.0 / "
            f"(SELECT nrm FROM n{it}) ORDER BY dim) AS vlist FROM y{it})"
        )
    last = PI_ITERS - 1
    return f"""
    WITH {", ".join(ctes)}
    SELECT dim,
           round(y_e6 / {PI_SCALE}.0 / (SELECT nrm FROM n{last}), 6) AS loading,
           round((SELECT nrm FROM n{last}), 6) AS lambda_est
    FROM y{last}
    ORDER BY dim
    """


@register(
    "q149_power_iteration_pca",
    _pi_oracle_sql(),
    doc="Top principal direction of the (uncentered) embedding Gram "
    "matrix by power iteration, matrix-free: the 64x64 covariance is "
    "never materialized — each iteration computes y = X^T(Xv) as one "
    "scan (per-row dot product s = x.v, per-dim contribution s*x_j), "
    "and the only cross-row reduction snaps contributions to 1e-6 "
    "fixed point so the sum is EXACT integer arithmetic, identical "
    "under any partitioning (float partial sums would make the "
    "dominant eigenvector nondeterministic). Normalization divides "
    "the 64 exact sums once per iteration in a fixed dim order on "
    "both engines. Two unrolled iterations (driver collects only the "
    "64-element vector between them — bounded by DIMENSION, never by "
    "rows, the q93/q105 pattern); the oracle replays them as "
    "unrolled CTEs. ||y|| of the last iteration estimates the top "
    "eigenvalue. This is the distributed linear-algebra shape "
    "(embedding whitening, spectral probes) that runs after every "
    "corpus re-embedding.",
)
def q149_power_iteration_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        to_double_array(F.col("embedding")).alias("emb_d")
    )
    v = [0.125] * 64
    y_df = None
    nrm = None
    for _ in range(PI_ITERS):
        contribs = emb.select(
            F.posexplode(_pi_y_e6(F.col("emb_d"), v)).alias("dim", "c")
        )
        y_df = contribs.groupBy("dim").agg(F.sum("c").cast("long").alias("y_e6"))
        rows = sorted((r["dim"], r["y_e6"]) for r in y_df.collect())
        y = [e6 / PI_SCALE for _, e6 in rows]
        nrm = sum(c * c for c in y) ** 0.5
        v = [c / nrm for c in y]
    return y_df.select(
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("y_e6") / PI_SCALE / F.lit(nrm), 6).alias("loading"),
        F.round(F.lit(nrm), 6).alias("lambda_est"),
    ).orderBy("dim")


# ---------------------------------------------------------------------------
# q168 — logistic regression by unrolled gradient descent (matrix-free)
# ---------------------------------------------------------------------------

#: fixed gradient-descent iterations (unrolled in the oracle)
LR_ITERS = 2
#: learning rate — exact binary fraction so w updates introduce no
#: decimal-representation noise
LR_ETA = 0.125
#: fixed-point scale for the exact cross-row gradient accumulation
LR_SCALE = 1_000_000


def _lr_grad_e6(emb, label_col, w: list):
    """Per-row gradient contribution of one GD step: residual r =
    sigmoid(w.x) - y computed in a deterministic sequential fold,
    each dim's r*x_j snapped to 1e-6 fixed point; the cross-row sum
    is then exact integer arithmetic."""
    w_lit = F.array(*[F.lit(float(c)) for c in w])
    margin = F.aggregate(
        F.zip_with(emb, w_lit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)) - label_col
    return F.transform(emb, lambda x: F.floor(resid * x * LR_SCALE).cast("long"))


def _lr_oracle_sql() -> str:
    ctes = [
        "e AS (SELECT CAST(embedding AS DOUBLE[]) AS emb_d, "
        "CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y FROM embeddings)",
        "w0 AS (SELECT list_transform(range(0, 64), i -> 0.0) AS w)",
        "n AS (SELECT COUNT(*) AS n_rows FROM e)",
    ]
    for it in range(LR_ITERS):
        ctes.append(
            f"g{it} AS (SELECT unnest(list_transform(emb_d, x -> "
            f"CAST(floor(r * x * {LR_SCALE}) AS BIGINT))) AS g, "
            f"generate_subscripts(emb_d, 1) - 1 AS dim FROM "
            f"(SELECT emb_d, 1.0 / (1.0 + exp(-list_dot_product(emb_d, w))) - y"
            f" AS r FROM e, w{it}))"
        )
        ctes.append(
            f"s{it} AS (SELECT dim, CAST(SUM(g) AS BIGINT) AS g_e6 FROM g{it} "
            f"GROUP BY dim)"
        )
        ctes.append(
            f"w{it + 1} AS (SELECT list(w_j - {LR_ETA} * g_e6 / {LR_SCALE}.0 / "
            f"(SELECT n_rows FROM n) ORDER BY dim) AS w FROM "
            f"(SELECT s.dim, s.g_e6, w.w[s.dim + 1] AS w_j FROM s{it} s, w{it} w))"
        )
    last = LR_ITERS
    return f"""
    WITH {", ".join(ctes)},
    final AS (
      SELECT UNNEST(w) AS w_j, generate_subscripts(w, 1) - 1 AS dim
      FROM w{last}
    ),
    loss AS (
      SELECT CAST(SUM(CAST(floor(
               -(y * ln(p) + (1.0 - y) * ln(1.0 - p)) * {LR_SCALE}
             ) AS BIGINT)) AS BIGINT) AS loss_e6,
             CAST(SUM(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_correct,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM (SELECT y, 1.0 / (1.0 + exp(-list_dot_product(e.emb_d, w.w))) AS p
            FROM e, w{last} w)
    )
    SELECT f.dim, CAST(floor(f.w_j * 1000000000) AS BIGINT) AS weight_e9,
           l.loss_e6, l.n_correct, l.n_rows
    FROM final f, loss l
    ORDER BY dim
    """


@register(
    "q168_logreg_gd",
    _lr_oracle_sql(),
    doc="Logistic-regression training as pure DataFrame algebra: two "
    "unrolled full-batch gradient steps on the 64-d embeddings "
    "(label >= 5 as the class), each step one scan — per-row "
    "sigmoid residual via a sequential fold, per-dim contribution "
    "r*x_j floored to 1e-6 fixed point so the gradient REDUCTION is "
    "exact integer arithmetic under any partitioning (the q149 "
    "discipline applied to SGD: float gradient all-reduce is why "
    "distributed training runs are unreproducible; integer-snapped "
    "gradients replay bit-for-bit). The driver holds only the 64-d "
    "weight vector between steps; eta=1/8 is an exact binary "
    "fraction so the weight update adds no representation noise. "
    "The output pins the final weights, the fixed-point log-loss "
    "and the training accuracy — the oracle replays both steps as "
    "unrolled CTEs.",
)
def q168_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        to_double_array(F.col("embedding")).alias("emb_d"),
        (F.col("label") >= 5).cast("double").alias("y"),
    )
    n_rows = emb.count()
    w = [0.0] * 64
    for _ in range(LR_ITERS):
        grads = emb.select(
            F.posexplode(_lr_grad_e6(F.col("emb_d"), F.col("y"), w)).alias(
                "dim", "g"
            )
        )
        sums = sorted(
            (r["dim"], r["g_e6"])
            for r in grads.groupBy("dim")
            .agg(F.sum("g").cast("long").alias("g_e6"))
            .collect()
        )
        w = [
            w[d] - LR_ETA * g_e6 / LR_SCALE / n_rows for d, g_e6 in sums
        ]
    w_lit = F.array(*[F.lit(float(c)) for c in w])
    margin = F.aggregate(
        F.zip_with(F.col("emb_d"), w_lit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    loss = emb.agg(
        F.sum(
            F.floor(
                -(
                    F.col("y") * F.log(p)
                    + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - p)
                )
                * LR_SCALE
            ).cast("long")
        )
        .cast("long")
        .alias("loss_e6"),
        F.sum(((p >= 0.5) == (F.col("y") == 1.0)).cast("int"))
        .cast("long")
        .alias("n_correct"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    dims = local_rows(
        spark, list(enumerate(w)), "dim bigint, w_raw double"
    )
    return (
        dims.crossJoin(F.broadcast(loss))
        .select(
            "dim",
            F.floor(F.col("w_raw") * 1000000000).cast("long").alias("weight_e9"),
            "loss_e6", "n_correct", "n_rows",
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# q210 — quantile normalization across embedding dimensions
# ---------------------------------------------------------------------------

#: fixed-point snap for embedding coordinates (1e-6 resolution)
QNORM_SNAP = 1_000_000

_QNORM_ORACLE = f"""
    WITH ex AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * {QNORM_SNAP})
                  AS BIGINT) AS vfp
      FROM embeddings
    ),
    rk AS (
      SELECT dim, vec_id, vfp,
             ROW_NUMBER() OVER (PARTITION BY dim ORDER BY vfp, vec_id) AS r
      FROM ex
    ),
    prof AS (
      SELECT r, CAST(SUM(vfp) AS BIGINT) AS pnum,
             CAST(COUNT(*) AS BIGINT) AS pden
      FROM rk GROUP BY r
    )
    SELECT rk.dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(ABS(CAST(prof.pden * rk.vfp - prof.pnum AS DECIMAL(38,0))))
                AS DECIMAL(38,0)) AS shift_num,
           CAST(SUM(ABS(CAST(prof.pden * rk.vfp - prof.pnum AS DECIMAL(38,0))))
                AS DOUBLE)
             / (CAST(MAX(prof.pden) AS DOUBLE) * {QNORM_SNAP} * COUNT(*))
             AS mean_abs_shift
    FROM rk JOIN prof USING (r)
    GROUP BY rk.dim
    ORDER BY rk.dim
    """


@register(
    "q210_quantile_normalize",
    _QNORM_ORACLE,
    doc="Quantile normalization across embedding dimensions — the "
    "feature-pipeline transform that forces every dimension onto the "
    "SHARED average order-statistic profile (rank r's normalized "
    "value is the cross-dimension mean of each dimension's r-th "
    "smallest value), reported per dimension as the exact mean "
    "absolute shift the transform applies — the audit that flags "
    "which dimensions deviate most from the family profile. Exact "
    "arithmetic: coordinates snap to 1e-6 fixed point, per-dimension "
    "ranks come from ONE two-phase global order over (dim, value, "
    "vec_id) (with_global_order rank minus per-dim start offsets "
    "from a 64-row broadcast theta-join — never a fat per-dim window "
    "partition), the profile is an integer SUM per rank, and each "
    "row's shift rides the exact numerator |pden*v - pnum| in "
    "DECIMAL(38,0) so the per-dim totals are bit-deterministic; the "
    "only doubles are final fixed-formula divisions.",
)
def q210_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ranks import with_global_order

    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id", "dim",
        F.round(F.col("v").cast("double") * QNORM_SNAP).cast("long").alias("vfp"),
    )
    ordered = with_global_order(
        ex,
        ["dim", "vfp", "vec_id"],
        rank="grank",
        boundary_key=(sf_dir, "q210_qnorm"),
    )
    nd = ex.groupBy("dim").agg(F.count(F.lit(1)).cast("long").alias("n_d"))
    lo = nd.select(F.col("dim").alias("lo_d"), F.col("n_d").alias("lo_n"))
    offs = (
        nd.crossJoin(F.broadcast(lo))
        .filter(F.col("lo_d") < F.col("dim"))
        .groupBy("dim")
        .agg(F.sum("lo_n").alias("off"))
    )
    rk = (
        ordered.join(F.broadcast(offs), "dim", "left")
        .select(
            "dim", "vfp",
            (F.col("grank") - F.coalesce(F.col("off"), F.lit(0))).alias("r"),
        )
    )
    prof = rk.groupBy("r").agg(
        F.sum("vfp").cast("long").alias("pnum"),
        F.count(F.lit(1)).cast("long").alias("pden"),
    )
    shift = F.abs(
        (F.col("pden") * F.col("vfp") - F.col("pnum")).cast("decimal(38,0)")
    )
    return (
        rk.join(prof, "r")
        .groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(shift).cast("decimal(38,0)").alias("shift_num"),
            (
                F.sum(shift).cast("double")
                / (F.max("pden").cast("double") * QNORM_SNAP * F.count(F.lit(1)))
            ).alias("mean_abs_shift"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# q218 — label-centroid cosine matrix (confusable-class audit)
# ---------------------------------------------------------------------------


@register(
    "q218_centroid_cosine_matrix",
    """
    WITH dims AS (
      SELECT label, generate_subscripts(embedding, 1) AS dim,
             CAST(UNNEST(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim, AVG(x) AS m
      FROM dims GROUP BY label, dim
    ),
    norms AS (
      SELECT label, sqrt(SUM(m * m)) AS nrm, CAST(COUNT(*) AS BIGINT) AS d
      FROM cent GROUP BY label
    ),
    sizes AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label
    ),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b, SUM(a.m * b.m) AS dot
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT d.label_a, d.label_b, sa.n AS n_a, sb.n AS n_b,
           round(d.dot / (na.nrm * nb.nrm), 6) AS centroid_cosine
    FROM dots d
    JOIN norms na ON na.label = d.label_a
    JOIN norms nb ON nb.label = d.label_b
    JOIN sizes sa ON sa.label = d.label_a
    JOIN sizes sb ON sb.label = d.label_b
    ORDER BY d.label_a, d.label_b
    """,
    doc="Confusable-class audit: the pairwise cosine between "
    "per-label embedding centroids — the first thing a labeling/"
    "curation team reads when a classifier's confusion matrix "
    "(q163) shows systematic swaps, because two labels whose "
    "centroids sit at cosine ~1 are one concept split by the "
    "annotation guidelines (and SemDeDup-style pruning, q115, "
    "over-fires inside them). Plan: per-dimension means via one "
    "posexplode + (label, dim) aggregate with map-side combine — "
    "the ONLY pass over the corpus-sized table; everything after "
    "runs on the K x D centroid frame (here 10 x 64, at scale "
    "still KB-MB), so the pairwise join is a broadcast self-join "
    "on dim, never a fact-table product. Sums are exact-order-"
    "independent up to double rounding; round 6 pins parity (the "
    "q50 cosine contract).",
)
def q218_centroid_cosine_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        F.posexplode(to_double_array(F.col("embedding"))).alias("pos", "x"),
    ).select("label", (F.col("pos") + 1).alias("dim"), "x")
    cent = dims.groupBy("label", "dim").agg(F.avg("x").alias("m"))
    norms = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("nrm")
    )
    sizes = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("m").alias("ma")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("m").alias("mb")
    )
    dots = (
        a.join(F.broadcast(b), "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ma") * F.col("mb")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("nb"))
    sa = sizes.select(F.col("label").alias("label_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("label").alias("label_b"), F.col("n").alias("n_b"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .join(F.broadcast(sa), "label_a")
        .join(F.broadcast(sb), "label_b")
        .select(
            "label_a", "label_b", "n_a", "n_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "centroid_cosine"
            ),
        )
        .orderBy("label_a", "label_b")
    )
