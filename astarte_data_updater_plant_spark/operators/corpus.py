"""Corpus-assembly operators: the stages between a filtered document
set and actual training batches.

These extend the dedup/text ladder with the remaining steps a
large-scale pretraining-data pipeline runs:

- q110 sequence packing: concatenate-then-chunk documents into
  fixed-token training sequences (the GPT-style packing layout).
- q111 incremental dedup: dedup a NEW crawl batch against the
  existing corpus (exact hash first, MinHash/LSH near-dup second) —
  the daily-ingest shape, where the corpus side is an index you probe,
  never a side you re-shuffle.
- q112 C4-style line filters: line-level cleaning (terminal
  punctuation, minimum words, boilerplate blocklist) then document
  re-assembly, per Raffel et al. (C4).
- q113 exact substring dedup: cross-document duplicated 8-word spans
  via an exact n-gram inverted index with position tracking and token
  coverage — the Lee et al. "Deduplicating Training Data" semantic at
  n-gram granularity.
- q114 hashed linear quality classifier: fastText-style scoring with
  a deterministic hashed-bigram weight table, entirely in column
  expressions.
- q116 domain-mixture sampling: temperature-flattened per-domain
  rates with hash-threshold selection that replays identically under
  any partitioning.
- q120 pipeline report: the per-source summary composing quality
  rules (q109), canonical dedup (q47) and classifier scores (q114)
  over shared pinned fragments.
- q121 vocabulary + encoding: df-ranked top-N vocabulary, documents
  re-expressed as id sequences with OOV accounting — the
  CountVectorizer-shaped stage before any training job.

Scale designs follow the module conventions: per-document features are
higher-order-function column expressions (zero Python, zero shuffle);
cross-document stages are keyed equi-joins/groupBys on bounded keys;
the one global prefix sum (q110) is computed hierarchically so no
window ever sees more than a bounded group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ranks import with_global_order
from ..functions.text import shingle_h32, shingles_from_tokens
from ..plans.fragments import fragment
from ..plans.registry import register
from ..sources.tables import load_table, local_rows
from .dedup import _SH_SQL, _SIG_SQL, _shingle_sets, minhash_signatures

# ---------------------------------------------------------------------------
# q110 — sequence packing (concatenate-then-chunk)
# ---------------------------------------------------------------------------

#: tokens per packed training sequence (small so the 10-99-word test
#: docs both share sequences and span boundaries)
SEQ_LEN = 64
#: docs per prefix-sum group — the hierarchical-cumsum fan-out. At
#: cluster scale this is the per-task group size; the second-level
#: window runs over one row per group, corpus_docs / PACK_GROUP rows.
PACK_GROUP = 64


@register(
    "q110_sequence_pack",
    f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
    ),
    c AS (
      SELECT doc_id, n,
             COALESCE(SUM(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM t
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS seq_id,
           CAST(greatest(cum_before, i * {SEQ_LEN}) - cum_before AS BIGINT)
             AS doc_tok_start,
           CAST(least(cum_before + n, (i + 1) * {SEQ_LEN})
                - greatest(cum_before, i * {SEQ_LEN}) AS BIGINT) AS n_toks
    FROM c,
         UNNEST(range(CAST(cum_before // {SEQ_LEN} AS BIGINT),
                      CAST((cum_before + n - 1) // {SEQ_LEN} + 1 AS BIGINT))) AS t(i)
    ORDER BY doc_id, seq_id
    """,
    doc=f"Sequence packing for pretraining: documents are concatenated "
    f"in doc_id order and cut into fixed {SEQ_LEN}-token training "
    f"sequences; a document spanning a cut contributes to both "
    f"sequences (the concatenate-then-chunk layout used for GPT-style "
    f"pretraining). Output is one row per (document, sequence) "
    f"assignment with the in-document token offset, so a writer can "
    f"assemble every sequence without re-reading neighbours. The "
    f"global token prefix-sum is computed hierarchically — "
    f"within-group window over {PACK_GROUP}-doc groups plus a "
    f"broadcast of per-group offsets — so no window ever scans more "
    f"than a bounded partition and the plan has no single-partition "
    f"stage at corpus scale (the oracle states the same prefix sum as "
    f"one flat window, affordable at test scale only).",
)
def q110_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n"),
        F.expr(f"doc_id DIV {PACK_GROUP}").alias("g"),
    )
    # phase 1: prefix sum WITHIN each bounded group
    w_in = (
        Window.partitionBy("g")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = t.withColumn("cum_in", F.coalesce(F.sum("n").over(w_in), F.lit(0)))
    # phase 2: per-group totals -> exclusive prefix over the tiny group
    # frame (one row per PACK_GROUP docs) -> broadcast back. Pinned:
    # with_global_order references its input from the sample probe plus
    # two execution branches, and an unpinned totals lineage re-runs
    # the documents scan + groupBy each time (ADVICE r5).
    totals = fragment(
        spark,
        sf_dir,
        "q110_group_totals",
        lambda: t.groupBy("g").agg(F.sum("n").alias("gt")),
    )
    # exclusive prefix over the per-group totals via the range-partitioned
    # two-phase runner — stays parallel even when the group frame itself
    # is large (n_docs / PACK_GROUP rows at corpus scale)
    offsets = with_global_order(
        totals, ["g"], cumsums=[("gt", "g_off", "exclusive")],
    boundary_key=(sf_dir, "q110")).select("g", "g_off")
    c = t.join(F.broadcast(offsets), "g").select(
        "doc_id", "n", (F.col("g_off") + F.col("cum_in")).alias("cum_before")
    )
    first_seq = F.expr(f"cum_before DIV {SEQ_LEN}")
    last_seq = F.expr(f"(cum_before + n - 1) DIV {SEQ_LEN}")
    lo = F.greatest(F.col("cum_before"), F.col("seq_id") * SEQ_LEN)
    hi = F.least(F.col("cum_before") + F.col("n"), (F.col("seq_id") + 1) * SEQ_LEN)
    return (
        c.select(
            "doc_id",
            "cum_before",
            "n",
            F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
        )
        .select(
            "doc_id",
            "seq_id",
            (lo - F.col("cum_before")).alias("doc_tok_start"),
            (hi - lo).alias("n_toks"),
        )
        .orderBy("doc_id", "seq_id")
    )


# ---------------------------------------------------------------------------
# q111 — incremental (cross-snapshot) dedup
# ---------------------------------------------------------------------------

#: doc_id % 10 >= BATCH_MOD plays the freshly-crawled batch; the rest
#: is the existing corpus
BATCH_MOD = 8
#: corpus docs with doc_id % CLONE_MOD == 0 are re-crawled verbatim
#: into the batch under a shifted id — deterministic exact duplicates,
#: the way a re-crawl really shows up in incremental ingest
CLONE_MOD = 50
CLONE_SHIFT = 1_000_000
NEAR_JACCARD_MIN = 0.5

_BANDED_SQL = """
      SELECT doc_id, band, bkey FROM (
        SELECT doc_id, 0 AS band, h0 || ':' || h1 AS bkey FROM sig
        UNION ALL SELECT doc_id, 1, h2 || ':' || h3 FROM sig
        UNION ALL SELECT doc_id, 2, h4 || ':' || h5 FROM sig
        UNION ALL SELECT doc_id, 3, h6 || ':' || h7 FROM sig
      ) u
"""


@register(
    "q111_incremental_dedup",
    f"""
    WITH sig AS ({_SIG_SQL}),
    banded AS ({_BANDED_SQL}),
    batch AS (
      SELECT doc_id, md5(text) AS h FROM documents
      WHERE doc_id % 10 >= {BATCH_MOD}
      UNION ALL
      SELECT doc_id + {CLONE_SHIFT}, md5(text) FROM documents
      WHERE doc_id % {CLONE_MOD} = 0
    ),
    corp AS (
      SELECT md5(text) AS h, MIN(doc_id) AS corp_doc FROM documents
      WHERE doc_id % 10 < {BATCH_MOD} GROUP BY md5(text)
    ),
    exact AS (
      SELECT b.doc_id, c.corp_doc FROM batch b JOIN corp c USING (h)
    ),
    cand AS (
      SELECT DISTINCT nb.doc_id AS bdoc, cb.doc_id AS cdoc
      FROM banded nb JOIN banded cb
        ON nb.band = cb.band AND nb.bkey = cb.bkey
      WHERE nb.doc_id % 10 >= {BATCH_MOD} AND cb.doc_id % 10 < {BATCH_MOD}
    ),
    tok AS ({_SH_SQL}),
    tok_counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM tok GROUP BY doc_id),
    shared AS (
      SELECT c.bdoc, c.cdoc, COUNT(*) AS n_shared
      FROM cand c
      JOIN tok ta ON ta.doc_id = c.bdoc
      JOIN tok tb ON tb.doc_id = c.cdoc AND tb.shingle = ta.shingle
      GROUP BY c.bdoc, c.cdoc
    ),
    near AS (
      SELECT s.bdoc, s.cdoc,
             round(CAST(s.n_shared AS DOUBLE)
                   / (ca.n_sh + cb2.n_sh - s.n_shared), 6) AS jaccard
      FROM shared s
      JOIN tok_counts ca ON ca.doc_id = s.bdoc
      JOIN tok_counts cb2 ON cb2.doc_id = s.cdoc
      WHERE CAST(s.n_shared AS DOUBLE) / (ca.n_sh + cb2.n_sh - s.n_shared)
            >= {NEAR_JACCARD_MIN}
    ),
    best AS (
      SELECT bdoc, cdoc, jaccard FROM (
        SELECT bdoc, cdoc, jaccard,
               ROW_NUMBER() OVER (PARTITION BY bdoc
                 ORDER BY jaccard DESC, cdoc) AS rn
        FROM near
      ) r WHERE rn = 1
    )
    SELECT b.doc_id,
           CASE WHEN e.corp_doc IS NOT NULL THEN 'drop_exact'
                WHEN n.cdoc IS NOT NULL THEN 'drop_near'
                ELSE 'keep' END AS verdict,
           CASE WHEN e.corp_doc IS NOT NULL THEN e.corp_doc
                ELSE n.cdoc END AS match_doc,
           CASE WHEN e.corp_doc IS NOT NULL THEN 1.0
                ELSE n.jaccard END AS jaccard
    FROM batch b
    LEFT JOIN exact e ON e.doc_id = b.doc_id
    LEFT JOIN best n ON n.bdoc = b.doc_id
    ORDER BY b.doc_id
    """,
    doc="Incremental dedup: a new crawl batch (held-out docs plus "
    "deterministic re-crawled clones) is deduplicated AGAINST the "
    "existing corpus — exact content-hash match first, then "
    "MinHash/LSH near-dup via the shared banded signature index, "
    "verified with exact shingle Jaccard on candidates only. Each "
    "batch doc gets keep / drop_exact / drop_near plus its best "
    "corpus match. This is the daily-ingest topology: the corpus side "
    "is a pinned signature index probed with keyed equi-joins — the "
    "batch (small) shuffles, the corpus (huge) never re-shuffles, and "
    "nothing compares batch docs to each other.",
)
def q111_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 10 >= BATCH_MOD
    batch = (
        docs.filter(is_batch)
        .select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
        .unionAll(
            docs.filter(F.col("doc_id") % CLONE_MOD == 0).select(
                (F.col("doc_id") + CLONE_SHIFT).alias("doc_id"),
                F.md5(F.col("text").cast("binary")).alias("h"),
            )
        )
    )
    corp = (
        docs.filter(~is_batch)
        .groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
        .agg(F.min("doc_id").alias("corp_doc"))
    )
    exact = batch.join(corp, "h").select("doc_id", "corp_doc")

    # near-dup: probe the banded LSH index — the SHARED dedup
    # _banded_frame under the shared "lsh_banded" fragment name. A
    # local concat_ws twin used to live here; whichever query ran
    # first pinned its shape for everyone (found when the AllPairs
    # n_sh column appeared only in the dedup version), and concat_ws
    # also diverged from this query's own oracle (`||`
    # null-propagates) on <3-token docs. One definition, one fragment.
    from .dedup import _banded_frame

    banded = fragment(
        spark, sf_dir, "lsh_banded", lambda: _banded_frame(spark, sf_dir)
    )
    nb = banded.filter(F.col("doc_id") % 10 >= BATCH_MOD).alias("nb")
    cb = banded.filter(F.col("doc_id") % 10 < BATCH_MOD).alias("cb")
    cand = (
        nb.join(
            cb,
            (F.col("nb.band") == F.col("cb.band"))
            & (F.col("nb.bkey") == F.col("cb.bkey")),
        )
        .select(F.col("nb.doc_id").alias("bdoc"), F.col("cb.doc_id").alias("cdoc"))
        .distinct()
    )
    sa = fragment(spark, sf_dir, "shingle_sets", lambda: _shingle_sets(spark, sf_dir))
    sets_b = sa.select(F.col("doc_id").alias("bdoc"), F.col("shingles").alias("sh_b"))
    sets_c = sa.select(F.col("doc_id").alias("cdoc"), F.col("shingles").alias("sh_c"))
    inter = F.size(F.array_intersect(F.col("sh_b"), F.col("sh_c")))
    union = F.size("sh_b") + F.size("sh_c") - inter
    jac = inter.cast("double") / union
    near = (
        cand.join(sets_b, "bdoc")
        .join(sets_c, "cdoc")
        .filter(jac >= NEAR_JACCARD_MIN)
        .select("bdoc", "cdoc", F.round(jac, 6).alias("jaccard"))
    )
    w = Window.partitionBy("bdoc").orderBy(F.col("jaccard").desc(), "cdoc")
    best = (
        near.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("bdoc", "cdoc", "jaccard")
    )
    return (
        batch.join(exact.select("doc_id", "corp_doc"), "doc_id", "left")
        .join(best.withColumnRenamed("bdoc", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("corp_doc").isNotNull(), F.lit("drop_exact"))
            .when(F.col("cdoc").isNotNull(), F.lit("drop_near"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
            F.when(F.col("corp_doc").isNotNull(), F.col("corp_doc"))
            .otherwise(F.col("cdoc"))
            .alias("match_doc"),
            F.when(F.col("corp_doc").isNotNull(), F.lit(1.0))
            .otherwise(F.col("jaccard"))
            .alias("jaccard"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q112 — C4-style line filtering
# ---------------------------------------------------------------------------

#: words per seeded line (the synthetic corpus is one long line, so
#: line structure and rule violations are seeded deterministically —
#: same precedent as q104's seeded PII)
LINE_WORDS = 8
C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3


@register(
    "q112_c4_filters",
    f"""
    WITH t AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    lined AS (
      SELECT doc_id, n,
             list_transform(
               range(0, (n - 1) // {LINE_WORDS} + 1),
               i -> CASE WHEN (doc_id + i) % 4 = 0 THEN
                      CASE WHEN (doc_id + i) % 7 = 3 THEN
                             array_to_string(toks[i*{LINE_WORDS}+1 : i*{LINE_WORDS}+{LINE_WORDS}], ' ') || ' lorem ipsum'
                           WHEN (doc_id + i) % 7 = 5 THEN
                             array_to_string(toks[i*{LINE_WORDS}+1 : i*{LINE_WORDS}+{LINE_WORDS}], ' ') || ' {{'
                           ELSE array_to_string(toks[i*{LINE_WORDS}+1 : i*{LINE_WORDS}+{LINE_WORDS}], ' ')
                      END
                    ELSE
                      CASE WHEN (doc_id + i) % 7 = 3 THEN
                             array_to_string(toks[i*{LINE_WORDS}+1 : i*{LINE_WORDS}+{LINE_WORDS}], ' ') || ' lorem ipsum.'
                           WHEN (doc_id + i) % 7 = 5 THEN
                             array_to_string(toks[i*{LINE_WORDS}+1 : i*{LINE_WORDS}+{LINE_WORDS}], ' ') || ' {{.'
                           ELSE array_to_string(toks[i*{LINE_WORDS}+1 : i*{LINE_WORDS}+{LINE_WORDS}], ' ') || '.'
                      END
                    END) AS lines
      FROM t
    ),
    f AS (
      SELECT doc_id, len(lines) AS n_lines,
             list_filter(lines, x ->
               ends_with(x, '.')
               AND len(string_split(x, ' ')) >= {C4_MIN_LINE_WORDS}
               AND NOT contains(x, 'lorem ipsum')
               AND NOT contains(x, '{{')) AS kept
      FROM lined
    )
    SELECT doc_id,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           round(CAST(len(kept) AS DOUBLE) / n_lines, 6) AS kept_frac,
           len(kept) >= {C4_MIN_KEPT_LINES} AS doc_keep,
           md5(COALESCE(array_to_string(kept, chr(10)), '')) AS cleaned_md5
    FROM f
    ORDER BY doc_id
    """,
    doc="C4-style corpus cleaning (Raffel et al.): documents are split "
    "into lines (seeded deterministically from the token stream, with "
    "rule violations injected so every filter fires), then each line "
    "must end in terminal punctuation, carry at least 5 words, and "
    "contain neither 'lorem ipsum' nor a curly brace; the document "
    "survives if at least 3 lines survive, and the cleaned text is "
    "re-assembled from the kept lines. The whole split -> filter -> "
    "rejoin pipeline is higher-order column functions over one scan — "
    "no shuffle, no Python, linear at any corpus size.",
)
def q112_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).alias("n"),
    )
    n_lines = F.expr(f"(n - 1) DIV {LINE_WORDS} + 1")

    def build_line(i):
        raw = F.concat_ws(
            " ", F.slice(F.col("toks"), i * LINE_WORDS + 1, LINE_WORDS)
        )
        m7 = (F.col("doc_id") + i) % 7
        content = (
            F.when(m7 == 3, F.concat(raw, F.lit(" lorem ipsum")))
            .when(m7 == 5, F.concat(raw, F.lit(" {")))
            .otherwise(raw)
        )
        return F.when(
            (F.col("doc_id") + i) % 4 == 0, content
        ).otherwise(F.concat(content, F.lit(".")))

    lined = t.select(
        "doc_id",
        F.transform(F.sequence(F.lit(0), n_lines - 1), build_line).alias("lines"),
    )
    keep = lambda x: (  # noqa: E731
        x.endswith(".")
        & (F.size(F.split(x, " ")) >= C4_MIN_LINE_WORDS)
        & ~x.contains("lorem ipsum")
        & ~x.contains("{")
    )
    f = lined.select(
        "doc_id",
        F.size("lines").alias("n_lines"),
        F.filter(F.col("lines"), keep).alias("kept"),
    )
    return f.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.size("kept").cast("long").alias("n_kept"),
        F.round(F.size("kept").cast("double") / F.col("n_lines"), 6).alias(
            "kept_frac"
        ),
        (F.size("kept") >= C4_MIN_KEPT_LINES).alias("doc_keep"),
        F.md5(F.concat_ws("\n", F.col("kept")).cast("binary")).alias("cleaned_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q113 — exact substring (duplicated-span) dedup
# ---------------------------------------------------------------------------

#: span granularity in words — the Lee et al. exact-substring check at
#: n-gram resolution (their 50-token threshold scaled to 10-99-word docs)
SPAN_WORDS = 8


@register(
    "q113_substring_dedup",
    f"""
    WITH t AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(toks[i : i + {SPAN_WORDS - 1}], ' ') AS gram
      FROM t, UNNEST(range(1, greatest(n - {SPAN_WORDS - 2}, 1))) AS u(i)
    ),
    dup AS (
      SELECT gram FROM grams GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dup_pos AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
    cover AS (
      SELECT DISTINCT doc_id, tok FROM dup_pos,
        UNNEST(range(pos, pos + {SPAN_WORDS})) AS u(tok)
    ),
    stats AS (
      SELECT g.doc_id,
             COUNT(*) AS n_grams,
             COUNT(DISTINCT d.pos) AS n_dup_grams
      FROM grams g LEFT JOIN dup_pos d
        ON d.doc_id = g.doc_id AND d.pos = g.pos
      GROUP BY g.doc_id
    ),
    cov AS (SELECT doc_id, COUNT(*) AS covered FROM cover GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n AS BIGINT) AS n_tokens,
           CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(s.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
           round(CAST(COALESCE(c.covered, 0) AS DOUBLE) / t.n, 6)
             AS covered_frac,
           COALESCE(s.n_dup_grams, 0) > 0 AS has_cross_dup
    FROM t
    LEFT JOIN stats s ON s.doc_id = t.doc_id
    LEFT JOIN cov c ON c.doc_id = t.doc_id
    ORDER BY t.doc_id
    """,
    doc="Exact substring dedup (Lee et al., 'Deduplicating Training "
    "Data'): find 8-word spans that occur verbatim in more than one "
    "document via an exact n-gram inverted index with positions, then "
    "report per document how many spans are cross-document duplicates "
    "and how many of its tokens the duplicated spans cover — the "
    "coverage a span-removal rewrite would cut. Candidate generation "
    "is a groupBy on the gram (keyed, uniform — long spans are rare "
    "by construction), coverage is a bounded 8x positional fan-out; "
    "nothing is quadratic and no suffix array needs to fit anywhere.",
)
def q113_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).cast("long").alias("n"),
    )
    grams = t.select(
        "doc_id",
        F.posexplode(shingles_from_tokens(F.col("toks"), SPAN_WORDS)).alias(
            "pos0", "gram"
        ),
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "gram")
    grams = fragment(spark, sf_dir, "span_grams", lambda: grams)
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    dup_pos = grams.join(dup, "gram").select("doc_id", "pos")
    cover = (
        dup_pos.select(
            "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + SPAN_WORDS - 1)).alias("tok")
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("covered"))
    )
    n_grams = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    n_dup = dup_pos.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup_grams"))
    return (
        t.select("doc_id", F.col("n").alias("n_tokens"))
        .join(n_grams, "doc_id", "left")
        .join(n_dup, "doc_id", "left")
        .join(cover, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("covered", F.lit(0)).cast("long").alias("covered_tokens"),
            F.round(
                F.coalesce("covered", F.lit(0)).cast("double") / F.col("n_tokens"), 6
            ).alias("covered_frac"),
            (F.coalesce("n_dup_grams", F.lit(0)) > 0).alias("has_cross_dup"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q114 — hashed linear quality classifier
# ---------------------------------------------------------------------------

#: weight-table size and scale: weight(bigram) = (h32 % MODW) - OFFW,
#: an integer in [-1000, 1000] interpreted as a fixed-point weight/1000
WEIGHT_MOD = 2001
WEIGHT_OFF = 1000


@register(
    "q114_quality_classifier",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    b AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(toks), 1)),
               i -> ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 8))::BIGINT
                    % {WEIGHT_MOD} - {WEIGHT_OFF}) AS ws
      FROM t
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_features,
           CAST(COALESCE(list_sum(ws), 0) AS BIGINT) AS sum_w,
           CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(list_sum(ws) AS DOUBLE) / (1000.0 * len(ws))
           END AS score,
           COALESCE(list_sum(ws), 0) > 0 AS keep
    FROM b
    ORDER BY doc_id
    """,
    doc="fastText-style linear quality classifier with a hashed "
    "feature table: every word bigram hashes to a deterministic "
    "fixed-point weight ((h32 mod 2001) - 1000, i.e. weight*1000 as "
    "an integer), the document score is the mean weight, and keep is "
    "its sign. The integer fixed-point sum makes the score exactly "
    "reproducible across engines — the same trick real pipelines use "
    "to make sharded classifier scoring deterministic. Pure "
    "higher-order column expressions: zero shuffles, zero Python, one "
    "scan; swapping in real trained weights means broadcasting a "
    "weight map, the plan shape is unchanged.",
)
def q114_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    bigrams = shingles_from_tokens(F.col("toks"), 2)
    ws = F.transform(
        bigrams, lambda s: shingle_h32(s) % WEIGHT_MOD - WEIGHT_OFF
    )
    b = t.select("doc_id", ws.alias("ws"))
    sum_w = F.aggregate(F.col("ws"), F.lit(0).cast("long"), lambda acc, x: acc + x)
    return b.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_features"),
        sum_w.alias("sum_w"),
        # NO decimal rounding on the score: the quotient of an exact
        # integer by an exact integer*1000 is the same correctly-
        # rounded double in every engine, while round(x, 6) lands on
        # half-digit ties (e.g. 3033/48000 = 0.0631875) that Spark
        # (HALF_UP on the decimal string) and DuckDB (on the binary
        # double) resolve differently — found at sf0.1
        F.when(F.size("ws") == 0, F.lit(0.0))
        .otherwise(sum_w.cast("double") / (1000.0 * F.size("ws")))
        .alias("score"),
        (sum_w > 0).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q116 — temperature-flattened domain mixture sampling
# ---------------------------------------------------------------------------

#: per-domain take target: rate = min(1, MIX_K / sqrt(n_domain)) — the
#: alpha=0.5 temperature flattening used for multilingual/multi-domain
#: pretraining mixes, stated per domain so no cross-domain float sum
#: exists (exactly reproducible on any engine / any partitioning)
MIX_K = 3.0


@register(
    "q116_domain_mixture",
    f"""
    WITH t AS (
      SELECT doc_id,
             'shard' || CAST(CAST(floor(sqrt(doc_id)) AS BIGINT) AS VARCHAR)
               AS domain
      FROM documents
    ),
    sized AS (
      SELECT doc_id, domain,
             COUNT(*) OVER (PARTITION BY domain) AS n_domain
      FROM t
    )
    SELECT doc_id, domain,
           CAST(n_domain AS BIGINT) AS n_domain,
           round(least(1.0, {MIX_K} / sqrt(n_domain)), 6) AS rate,
           ('0x' || substr(md5('mix:' || doc_id), 1, 8))::BIGINT
             < CAST(floor(round(least(1.0, {MIX_K} / sqrt(n_domain)), 6)
                          * 4294967296) AS BIGINT) AS keep
    FROM sized
    ORDER BY doc_id
    """,
    doc="Domain-mixture sampling with temperature flattening: each "
    "domain (a deterministic sqrt-shard stand-in for skewed crawl "
    "domains, sizes 1..45) is downsampled at rate min(1, K/sqrt(n)) — "
    "the alpha=0.5 unigram-temperature rule that boosts small domains "
    "relative to large ones in pretraining mixes. Selection is a pure "
    "per-row hash-threshold test (md5-derived uniform in [0,1) "
    "against the rounded rate scaled to 2^32, an INTEGER compare), so "
    "the sample is identical under any partitioning, engine, or "
    "re-run — the property that makes a 100 TB mix resumable. One "
    "window for domain sizes, everything else is a narrow scan.",
)
def q116_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.concat(
            F.lit("shard"),
            F.floor(F.sqrt(F.col("doc_id"))).cast("long").cast("string"),
        ).alias("domain"),
    )
    sized = t.withColumn(
        "n_domain", F.count(F.lit(1)).over(Window.partitionBy("domain"))
    )
    rate = F.round(F.least(F.lit(1.0), MIX_K / F.sqrt(F.col("n_domain"))), 6)
    h32 = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit("mix:"), F.col("doc_id").cast("string")).cast("binary")
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    return sized.select(
        "doc_id",
        "domain",
        F.col("n_domain").cast("long").alias("n_domain"),
        rate.alias("rate"),
        (h32 < F.floor(rate * 4294967296).cast("long")).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q120 — end-to-end corpus pipeline report
# ---------------------------------------------------------------------------


def _q120_oracle() -> str:
    from .dedup import _COMPONENT_CTES_SQL, _NEAR_DUP_CTES_SQL
    from .textops import (
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_FRAC,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_WORDS,
        _SW_SQL,
    )

    return f"""
    WITH RECURSIVE {_NEAR_DUP_CTES_SQL},
    {_COMPONENT_CTES_SQL},
    lab AS (
      SELECT d.doc_id,
             COALESCE(c.component_id, d.doc_id) AS component_id,
             len(string_split(d.text, ' ')) AS n_tokens
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    canon AS (
      SELECT doc_id, n_tokens,
             (ROW_NUMBER() OVER (
                PARTITION BY component_id
                ORDER BY n_tokens DESC, doc_id) = 1) AS is_canonical
      FROM lab
    ),
    gm AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             round(CAST(length(text) - (len(string_split(text, ' ')) - 1)
                        AS DOUBLE) / len(string_split(text, ' ')), 6)
               AS mean_word_len,
             round(CAST(len(list_filter(string_split(text, ' '),
                     w -> regexp_full_match(w, '[a-z]+'))) AS DOUBLE)
                   / len(string_split(text, ' ')), 6) AS alpha_frac,
             len(list_intersect(string_split(text, ' '), [{_SW_SQL}])) >= 1
               AS has_stopword
      FROM documents
    ),
    gq AS (
      SELECT doc_id,
             (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
               AND (mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN}
                    AND {GOPHER_MAX_MEAN_WORD_LEN})
               AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
               AND has_stopword AS q_keep
      FROM gm
    ),
    clf AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_features,
             CAST(COALESCE(list_sum(ws), 0) AS BIGINT) AS sum_w
      FROM (
        SELECT doc_id,
               list_transform(
                 range(1, greatest(len(string_split(text, ' ')), 1)),
                 i -> ('0x' || substr(md5(string_split(text, ' ')[i] || ' '
                        || string_split(text, ' ')[i+1]), 1, 8))::BIGINT
                      % {WEIGHT_MOD} - {WEIGHT_OFF}) AS ws
        FROM documents
      ) b
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN gq.q_keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quality_keep,
           CAST(SUM(CASE WHEN canon.is_canonical THEN 1 ELSE 0 END) AS BIGINT)
             AS n_canonical,
           CAST(SUM(canon.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(clf.sum_w) AS DOUBLE) / (1000.0 * SUM(clf.n_features))
             AS mean_clf_score
    FROM documents d
    JOIN canon ON canon.doc_id = d.doc_id
    JOIN gq ON gq.doc_id = d.doc_id
    JOIN clf ON clf.doc_id = d.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """


@register(
    "q120_pipeline_report",
    _q120_oracle(),
    doc="The corpus-pipeline summary a data team actually reads: per "
    "source, document count, Gopher-quality survivors (q109), "
    "canonical docs after near-dup election (q47), total tokens, and "
    "the mean hashed-classifier score (q114, exact fixed-point sums "
    "divided once so the mean is engine-identical). Composes three "
    "registered pipelines by doc_id join and aggregates by source — "
    "the LSH/component fragments and shingle sets are shared with the "
    "dedup ladder, so this report piggybacks on already-pinned "
    "intermediates rather than recomputing them.",
)
def q120_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import q47_dedup_keep_best
    from .textops import q109_gopher_rules

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    canon = q47_dedup_keep_best(spark, sf_dir).select(
        "doc_id", "n_tokens", "is_canonical"
    )
    gq = q109_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("q_keep")
    )
    clf = q114_quality_classifier(spark, sf_dir).select(
        "doc_id", "n_features", "sum_w"
    )
    joined = docs.join(canon, "doc_id").join(gq, "doc_id").join(clf, "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("q_keep").cast("int")).cast("long").alias("n_quality_keep"),
            F.sum(F.col("is_canonical").cast("int")).cast("long").alias("n_canonical"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (
                F.sum("sum_w").cast("double")
                / (1000.0 * F.sum("n_features"))
            ).alias("mean_clf_score"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q121 — vocabulary build + document-to-ids encoding
# ---------------------------------------------------------------------------

#: vocabulary size (the synthetic corpus has ~31 distinct words, so 24
#: leaves real OOV traffic) and the reserved UNK id
VOCAB_N = 24
UNK_ID = 0


def _df_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tok, tid): the df-ranked top-VOCAB_N vocabulary shared by q121
    (encoding) and q196 (fertility report). The df aggregate is a
    pinned fragment; the rank is the range-partitioned two-phase
    runner (functions/ranks.py) — a bare Window.orderBy would
    serialize the whole vocabulary onto one task."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    df = fragment(
        spark, sf_dir, "q121_tok_df",
        lambda: toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df")),
    )
    return (
        with_global_order(
            df, [(F.col("df"), "desc"), "tok"], rank="tid",
        boundary_key=(sf_dir, "q121"))
        .filter(F.col("tid") <= VOCAB_N)
        .select("tok", "tid")
    )


@register(
    "q121_vocab_encode",
    f"""
    WITH toks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, string_split(text, ' ')[i] AS tok
      FROM documents,
           UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS t(i)
    ),
    vocab AS (
      SELECT tok, tid FROM (
        SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY df DESC, tok) AS BIGINT) AS tid
        FROM (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok) d
      ) r WHERE tid <= {VOCAB_N}
    ),
    ids AS (
      SELECT t.doc_id, t.pos, COALESCE(v.tid, {UNK_ID}) AS tid,
             v.tid IS NULL AS oov
      FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(tid) AS BIGINT) AS ids_sum,
           md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
    FROM ids
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Text vectorization for training: build a document-frequency "
    "vocabulary (top-N terms, df-desc with term tie-break, ids 1..N "
    "with 0 reserved for UNK) and encode every document as its id "
    "sequence, digest-checked per document. The vocabulary is a "
    "bounded top-N — on a real corpus a distributed orderBy+limit "
    "feeding a broadcast map, which is exactly the plan here: the "
    "encode side is one broadcast hash join from exploded (doc, pos, "
    "token) rows, then a per-doc ordered reassembly. OOV count, id "
    "checksum and sequence digest make a wrong id assignment, lost "
    "position, or tie-broken-differently vocabulary all hash-visible.",
)
def q121_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok")
    vocab = _df_vocab(spark, sf_dir)
    ids = toks.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id", "pos",
        F.coalesce("tid", F.lit(UNK_ID)).alias("tid"),
        F.col("tid").isNull().alias("oov"),
    )
    seq = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))),
            lambda s: s["tid"].cast("string"),
        ),
    )
    return (
        ids.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("oov").cast("int")).cast("long").alias("n_oov"),
            F.sum("tid").cast("long").alias("ids_sum"),
            F.md5(seq.cast("binary")).alias("ids_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q123 — packing efficiency report (over q110's layout)
# ---------------------------------------------------------------------------


@register(
    "q123_packing_efficiency",
    f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
    ),
    c AS (
      SELECT doc_id, n,
             COALESCE(SUM(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM t
    ),
    packed AS (
      SELECT CAST(i AS BIGINT) AS seq_id,
             CAST(least(cum_before + n, (i + 1) * {SEQ_LEN})
                  - greatest(cum_before, i * {SEQ_LEN}) AS BIGINT) AS n_toks
      FROM c,
           UNNEST(range(CAST(cum_before // {SEQ_LEN} AS BIGINT),
                        CAST((cum_before + n - 1) // {SEQ_LEN} + 1 AS BIGINT))) AS t(i)
    )
    SELECT seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_toks,
           CAST({SEQ_LEN} - SUM(n_toks) AS BIGINT) AS padding,
           CAST(SUM(n_toks) AS DOUBLE) / {SEQ_LEN} AS fill_rate
    FROM packed
    GROUP BY seq_id
    ORDER BY seq_id
    """,
    doc="Packing-efficiency report over the q110 layout: per training "
    "sequence, how many documents contribute, how many tokens land, "
    "and the padding the trainer would burn — the metric that decides "
    "whether concatenate-then-chunk beats bin-packing for a corpus "
    "(here only the FINAL sequence can pad, which the report makes "
    "visible). One aggregate over the packing fan-out; shares q110's "
    "hierarchical-prefix-sum shape on the engine side.",
)
def q123_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = q110_sequence_pack(spark, sf_dir)
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_toks"),
            (F.lit(SEQ_LEN) - F.sum("n_toks")).cast("long").alias("padding"),
            (F.sum("n_toks").cast("double") / SEQ_LEN).alias("fill_rate"),
        )
        .orderBy("seq_id")
    )


# ---------------------------------------------------------------------------
# q126 — curriculum tiers: NTILE routing by classifier score
# ---------------------------------------------------------------------------

N_TIERS = 10


@register(
    "q126_curriculum_tiers",
    f"""
    WITH b AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             list_transform(
               range(1, greatest(len(string_split(text, ' ')), 1)),
               i -> ('0x' || substr(md5(string_split(text, ' ')[i] || ' '
                      || string_split(text, ' ')[i+1]), 1, 8))::BIGINT
                    % {WEIGHT_MOD} - {WEIGHT_OFF}) AS ws
      FROM documents
    ),
    scored AS (
      SELECT doc_id, n_tokens,
             CASE WHEN len(ws) = 0 THEN 0.0
                  ELSE CAST(list_sum(ws) AS DOUBLE) / (1000.0 * len(ws))
             END AS score
      FROM b
    ),
    tiered AS (
      SELECT doc_id, n_tokens, score,
             CAST(NTILE({N_TIERS}) OVER (ORDER BY score, doc_id) AS BIGINT)
               AS tier
      FROM scored
    )
    SELECT tier,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(score) AS min_score,
           MAX(score) AS max_score,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM tiered
    GROUP BY tier
    ORDER BY tier
    """,
    doc="Curriculum routing: documents ranked by the hashed-classifier "
    "score (q114's exact fixed-point quotient, doc_id tie-break) and "
    "split into NTILE deciles — the quality-tier assignment a "
    "curriculum or data-mixing schedule consumes, reported per tier "
    "with score bounds and token mass. A global NTILE needs a total "
    "order; at corpus scale the same assignment computes from a "
    "sampled quantile sketch (approx_percentile boundaries) + "
    "per-row bucket lookup, trading exact tie handling for a "
    "shuffle-free plan — stated here exactly, since the oracle must "
    "replay ties bit-for-bit.",
)
def q126_curriculum_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = q114_quality_classifier(spark, sf_dir).select(
        "doc_id", "n_features", "score"
    )
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    # exact NTILE via the two-phase rank; the classifier-joined input is
    # pinned — the helper's boundary probe plus its rank/summary branches
    # would otherwise re-run the q114 feature hash several times
    # (measured 9.6s -> ~1s at sf0.1)
    tiered = with_global_order(
        fragment(
            spark, sf_dir, "q126_scored_toks",
            lambda: scored.join(toks, "doc_id"),
        ),
        ["score", "doc_id"],
        ntile=(N_TIERS, "tier"),
    boundary_key=(sf_dir, "q126"))
    return (
        tiered.groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("tier")
    )


# ---------------------------------------------------------------------------
# q134 — corpus-level boilerplate line removal (CCNet-style)
# ---------------------------------------------------------------------------

#: a line is boilerplate when it appears in at least this many DISTINCT
#: documents (CCNet/RefinedWeb drop lines duplicated across the crawl —
#: nav bars, cookie banners, "subscribe" footers)
BP_DF_MIN = 5


def _bp_line_spark(i):
    """Deterministic line i of a document: the natural 8-word chunk,
    with boilerplate injected on seeded positions so the corpus-level
    frequency filter has something to fire on (3 high-frequency
    'newsletter' variants, 7 medium-frequency 'cookie' variants)."""
    raw = F.concat_ws(" ", F.slice(F.col("toks"), i * LINE_WORDS + 1, LINE_WORDS))
    k = F.col("doc_id") + i
    return (
        F.when(
            k % 5 == 0,
            F.concat(F.lit("subscribe to our newsletter "), (k % 3).cast("string")),
        )
        .when(
            k % 11 == 7,
            F.concat(
                F.lit("cookie policy notice "),
                (F.col("doc_id") % 7).cast("string"),
            ),
        )
        .otherwise(raw)
    )


@register(
    "q134_boilerplate_lines",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    lined AS (
      SELECT doc_id,
             list_transform(
               range(0, (n - 1) // {LINE_WORDS} + 1),
               i -> CASE
                 WHEN (doc_id + i) % 5 = 0 THEN
                   'subscribe to our newsletter ' || CAST((doc_id + i) % 3 AS VARCHAR)
                 WHEN (doc_id + i) % 11 = 7 THEN
                   'cookie policy notice ' || CAST(doc_id % 7 AS VARCHAR)
                 ELSE array_to_string(
                   toks[i*{LINE_WORDS}+1 : i*{LINE_WORDS}+{LINE_WORDS}], ' ')
               END) AS lines
      FROM t
    ),
    ex AS (SELECT doc_id, unnest(lines) AS line FROM lined),
    boiler AS (
      SELECT line FROM (
        SELECT line, COUNT(DISTINCT doc_id) AS line_df FROM ex GROUP BY line
      ) WHERE line_df >= {BP_DF_MIN}
    ),
    blist AS (SELECT COALESCE(list(line), []) AS bl FROM boiler)
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(list_filter(lines, x -> list_contains(bl, x))) AS BIGINT)
             AS n_boiler,
           round(CAST(len(list_filter(lines, x -> list_contains(bl, x)))
                 AS DOUBLE) / len(lines), 6) AS boiler_frac,
           md5(COALESCE(array_to_string(
             list_filter(lines, x -> NOT list_contains(bl, x)), chr(10)), ''))
             AS cleaned_md5
    FROM lined, blist
    ORDER BY doc_id
    """,
    doc="CCNet-style corpus-level boilerplate removal (Wenzek et al.): "
    "every document is split into deterministic lines, each line is "
    "counted across the WHOLE corpus by distinct-document frequency, "
    "and lines appearing in >= 5 documents (cookie banners, subscribe "
    "footers — here seeded injections) are dropped before the document "
    "is re-assembled in position order. Unlike q112's per-document "
    "rules this is a cross-document signal: the plan explodes lines "
    "once, aggregates line->df with map-side combine (one shuffle on "
    "the line hash), equi-joins the small over-threshold set back to "
    "the exploded lines, and re-assembles per document with a "
    "position-sorted collect. Every stage is a bounded keyed shuffle — "
    "no all-pairs, no Python — and the over-threshold 'boilerplate "
    "set' is tiny by construction (heavy hitters), so at 100 TB the "
    "join back is a broadcast probe.",
)
def q134_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).alias("n"),
    )
    n_lines = F.expr(f"(n - 1) DIV {LINE_WORDS} + 1")
    lined = t.select(
        "doc_id",
        F.transform(F.sequence(F.lit(0), n_lines - 1), _bp_line_spark).alias("lines"),
    )
    ex = lined.select("doc_id", F.posexplode("lines").alias("pos", "line"))
    boiler = (
        ex.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("line_df"))
        .filter(F.col("line_df") >= BP_DF_MIN)
        .select("line")
    )
    flagged = ex.join(F.broadcast(boiler.withColumn("is_boiler", F.lit(True))),
                      "line", "left")
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("is_boiler").isNotNull().cast("int")).cast("long").alias(
            "n_boiler"
        ),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("is_boiler").isNull(),
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).cast("binary")
        ).alias("cleaned_md5"),
    )
    return per_doc.select(
        "doc_id",
        "n_lines",
        "n_boiler",
        F.round(F.col("n_boiler").cast("double") / F.col("n_lines"), 6).alias(
            "boiler_frac"
        ),
        "cleaned_md5",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q135 — Z-order clustering + min/max file skipping
# ---------------------------------------------------------------------------

#: files the layout writer produces (a stand-in for the target file
#: count of an OPTIMIZE/compaction pass)
N_ZFILES = 32

#: the bit-interleave depth: x and y confined to 8 bits each -> z in
#: [0, 65536); all products stay exactly representable
Z_BITS = 8

_Z_SPARK = (
    "aggregate(sequence(0, {b}), cast(0 as bigint), (acc, i) -> acc"
    " + ((x div cast(pow(2d, i) as bigint)) % 2) * cast(pow(4d, i) as bigint)"
    " + ((y div cast(pow(2d, i) as bigint)) % 2) * 2 * cast(pow(4d, i) as bigint))"
).format(b=Z_BITS - 1)

_Z_DUCK = (
    "list_sum(list_transform(range(0, {b}), i -> "
    "((x // CAST(pow(2, i) AS BIGINT)) % 2) * CAST(pow(4, i) AS BIGINT)"
    " + ((y // CAST(pow(2, i) AS BIGINT)) % 2) * 2 * CAST(pow(4, i) AS BIGINT)))"
).format(b=Z_BITS)


@register(
    "q135_zorder_fileskip",
    f"""
    WITH base AS (
      SELECT event_id, CAST(floor(value) AS BIGINT) % 256 AS x,
             (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 256 AS y
      FROM events
    ),
    z AS (SELECT *, {_Z_DUCK} AS zkey FROM base),
    lin AS (SELECT x, y, ntile({N_ZFILES}) OVER (ORDER BY y, x, event_id) - 1
                   AS file_id FROM z),
    zo AS (SELECT x, y, ntile({N_ZFILES}) OVER (ORDER BY zkey, event_id) - 1
                  AS file_id FROM z),
    files AS (
      SELECT 'linear' AS layout, file_id, min(x) AS min_x, max(x) AS max_x,
             min(y) AS min_y, max(y) AS max_y
      FROM lin GROUP BY file_id
      UNION ALL
      SELECT 'zorder', file_id, min(x), max(x), min(y), max(y)
      FROM zo GROUP BY file_id
    ),
    preds(pred, xlo, xhi, ylo, yhi) AS (
      VALUES ('x_range', 40, 79, NULL, NULL),
             ('y_range', NULL, NULL, 64, 127),
             ('xy_box', 40, 79, 64, 127)
    ),
    skipping AS (
      SELECT layout, pred,
             CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(CASE WHEN (xlo IS NULL OR (max_x >= xlo AND min_x <= xhi))
                            AND (ylo IS NULL OR (max_y >= ylo AND min_y <= yhi))
                      THEN 1 ELSE 0 END) AS BIGINT) AS files_read
      FROM files, preds GROUP BY layout, pred
    ),
    matches AS (
      SELECT pred,
             CAST(SUM(CASE WHEN (xlo IS NULL OR (x >= xlo AND x <= xhi))
                            AND (ylo IS NULL OR (y >= ylo AND y <= yhi))
                      THEN 1 ELSE 0 END) AS BIGINT) AS rows_match
      FROM base, preds GROUP BY pred
    )
    SELECT s.layout, s.pred, s.n_files, s.files_read,
           round(1.0 - CAST(s.files_read AS DOUBLE) / s.n_files, 6) AS skip_frac,
           m.rows_match
    FROM skipping s JOIN matches m USING (pred)
    ORDER BY layout, pred
    """,
    doc="Z-order data layout vs linear (time-major) layout, scored by "
    "min/max file skipping — the Delta/Iceberg OPTIMIZE ZORDER story. "
    "Each event maps to an 8-bit (x=value, y=hour) point; the z-key "
    "interleaves the bits arithmetically (no bit intrinsics needed, "
    "identical math on both engines). Both layouts range-partition "
    "rows into 32 files, per-file min/max zone maps are aggregated, "
    "and three predicate shapes (x range, y range, xy box) are "
    "evaluated against the zone maps: a file is skipped when its "
    "[min,max] box cannot intersect the predicate. The output pins "
    "BOTH the skipping counts (layout quality) and the true row "
    "matches (correctness anchor, layout-invariant). The global ntile "
    "is the write-side sort a real OPTIMIZE performs; reading the "
    "zone maps is a metadata-only operation at any scale.",
)
def q135_zorder_fileskip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        (F.floor("value").cast("long") % 256).alias("x"),
        ((F.unix_timestamp("ts") / F.lit(3600)).cast("long") % 256).alias("y"),
    )
    z = fragment(
        spark, sf_dir, "q135_z",
        lambda: base.withColumn("zkey", F.expr(_Z_SPARK)),
    )

    # the write-side sort a real OPTIMIZE performs IS a range partition —
    # express it as one (two-phase exact NTILE, functions/ranks.py), not a
    # single-partition window
    lin = with_global_order(
        z, ["y", "x", "event_id"], ntile=(N_ZFILES, "tile"),
    boundary_key=(sf_dir, "q135a")).select("x", "y", (F.col("tile") - 1).alias("file_id"))
    zo = with_global_order(
        z, ["zkey", "event_id"], ntile=(N_ZFILES, "tile"),
    boundary_key=(sf_dir, "q135b")).select("x", "y", (F.col("tile") - 1).alias("file_id"))

    def stats(df, layout):
        return df.groupBy("file_id").agg(
            F.min("x").alias("min_x"), F.max("x").alias("max_x"),
            F.min("y").alias("min_y"), F.max("y").alias("max_y"),
        ).select(F.lit(layout).alias("layout"), "*")

    files = stats(lin, "linear").unionByName(stats(zo, "zorder"))

    preds = local_rows(
        spark,
        [("x_range", 40, 79, None, None),
         ("y_range", None, None, 64, 127),
         ("xy_box", 40, 79, 64, 127)],
        "pred string, xlo int, xhi int, ylo int, yhi int",
    )
    overlap = (
        (F.col("xlo").isNull() | ((F.col("max_x") >= F.col("xlo"))
                                  & (F.col("min_x") <= F.col("xhi"))))
        & (F.col("ylo").isNull() | ((F.col("max_y") >= F.col("ylo"))
                                    & (F.col("min_y") <= F.col("yhi"))))
    )
    skipping = (
        files.crossJoin(F.broadcast(preds))
        .groupBy("layout", "pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(overlap.cast("int")).cast("long").alias("files_read"),
        )
    )
    row_hit = (
        (F.col("xlo").isNull() | ((F.col("x") >= F.col("xlo"))
                                  & (F.col("x") <= F.col("xhi"))))
        & (F.col("ylo").isNull() | ((F.col("y") >= F.col("ylo"))
                                    & (F.col("y") <= F.col("yhi"))))
    )
    matches = (
        base.crossJoin(F.broadcast(preds))
        .groupBy("pred")
        .agg(F.sum(row_hit.cast("int")).cast("long").alias("rows_match"))
    )
    return (
        skipping.join(F.broadcast(matches), "pred")
        .select(
            "layout", "pred", "n_files", "files_read",
            F.round(
                F.lit(1.0) - F.col("files_read").cast("double") / F.col("n_files"),
                6,
            ).alias("skip_frac"),
            "rows_match",
        )
        .orderBy("layout", "pred")
    )


# ---------------------------------------------------------------------------
# q142 — weighted corpus sampling (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------

#: sample size drawn without replacement, probability proportional to
#: document length
WS_K = 50
#: deterministic uniform: the md5-based 32-bit doc hash folded into
#: (0, 1] — replayable on any engine, any partitioning
WS_U_MOD = 1000000


@register(
    "q142_weighted_sample",
    f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % {WS_U_MOD} + 1) / {WS_U_MOD + 1}.0) / n_chars AS es_key
      FROM documents
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           round(es_key, 9) AS es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT {WS_K}
    """,
    doc="Weighted sampling without replacement, probability "
    "proportional to size (Efraimidis-Spirakis A-ES): each document "
    "draws a deterministic uniform u from its md5 hash and ranks by "
    "ln(u)/weight; the global top-50 IS the weighted sample. The "
    "hash-derived u makes the draw replayable under any partitioning "
    "or retry — the property a distributed sampler must have, since "
    "a per-task RNG would sample a different corpus on every "
    "speculative re-execution. One scan, one top-k (map-side "
    "partial TakeOrdered, no full sort); the same keying extends to "
    "per-stratum samples by windowing over the stratum instead of "
    "ranking globally.",
)
def q142_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import shingle_h32

    docs = load_table(spark, sf_dir, "documents")
    u = (shingle_h32(F.col("doc_id").cast("string")) % WS_U_MOD + 1) / F.lit(
        float(WS_U_MOD + 1)
    )
    keyed = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.log(u) / F.col("n_chars")).alias("es_key_raw"),
    )
    return (
        keyed.select(
            "doc_id", "source", "n_chars", F.round("es_key_raw", 9).alias("es_key")
        )
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(WS_K)
    )


# ---------------------------------------------------------------------------
# q146 — classifier evaluation: confusion matrix + precision/recall/F1
# ---------------------------------------------------------------------------

#: decision threshold on the q114 fixed-point classifier score
PRF_THRESH = 0.0
#: ground-truth rule evaluated per document (a deterministic stand-in
#: for human labels: long documents are the positive class)
PRF_TRUTH_MIN_CHARS = 250


from ..plans.registry import QUERIES as _REGISTERED

_Q114_SQL = _REGISTERED["q114_quality_classifier"].oracle


@register(
    "q146_classifier_prf",
    f"""
    WITH scored AS (
      SELECT d.source,
             q.score >= {PRF_THRESH} AS pred,
             d.n_chars >= {PRF_TRUTH_MIN_CHARS} AS truth
      FROM documents d JOIN ({_Q114_SQL}) q USING (doc_id)
    ),
    conf AS (
      SELECT source,
             CAST(SUM(CASE WHEN pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN NOT pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM scored GROUP BY source
    )
    SELECT source, tp, fp, fn, tn,
           CAST(tp AS DOUBLE) / nullif(tp + fp, 0) AS precision,
           CAST(tp AS DOUBLE) / nullif(tp + fn, 0) AS recall,
           CAST(2 * tp AS DOUBLE) / nullif(2 * tp + fp + fn, 0) AS f1
    FROM conf ORDER BY source
    """,
    doc="Classifier evaluation over the q114 hashed linear quality "
    "classifier: per-source confusion matrix against a deterministic "
    "ground-truth rule, with precision/recall/F1. The float metrics "
    "are single divisions of exact integer counts (F1 via the "
    "2TP/(2TP+FP+FN) identity — one division, not a p/r compose), "
    "so every value is bit-deterministic. The shape — score a corpus "
    "with a cheap model, compare against labels, slice by source — "
    "is the continuous-eval loop a data-quality team runs on every "
    "crawl; all of it is one scan of scores joined to truth plus a "
    "per-source aggregate.",
)
def q146_classifier_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = q114_quality_classifier(spark, sf_dir).select("doc_id", "score")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    j = docs.join(scored, "doc_id").select(
        "source",
        (F.col("score") >= PRF_THRESH).alias("pred"),
        (F.col("n_chars") >= PRF_TRUTH_MIN_CHARS).alias("truth"),
    )
    tp = F.sum((F.col("pred") & F.col("truth")).cast("int")).cast("long")
    fp = F.sum((F.col("pred") & ~F.col("truth")).cast("int")).cast("long")
    fn = F.sum((~F.col("pred") & F.col("truth")).cast("int")).cast("long")
    tn = F.sum((~F.col("pred") & ~F.col("truth")).cast("int")).cast("long")
    conf = j.groupBy("source").agg(
        tp.alias("tp"), fp.alias("fp"), fn.alias("fn"), tn.alias("tn")
    )
    return conf.select(
        "source", "tp", "fp", "fn", "tn",
        (F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0))).alias("precision"),
        (F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))).alias("recall"),
        ((2 * F.col("tp")).cast("double") / F.nullif(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0))).alias("f1"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q147 — water-filling token-budget allocation across sources
# ---------------------------------------------------------------------------

#: global token budget as an exact fraction of the corpus total
WF_BUDGET_NUM, WF_BUDGET_DEN = 3, 5


@register(
    "q147_token_waterfill",
    f"""
    WITH t AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(n_tokens) * {WF_BUDGET_NUM} // {WF_BUDGET_DEN} AS BIGINT)
               AS budget,
             CAST(COUNT(*) AS BIGINT) AS nsrc
      FROM t
    ),
    r AS (
      SELECT t.*, tot.budget, tot.nsrc,
             ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS rk,
             SUM(n_tokens) OVER (ORDER BY n_tokens, source
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t, tot
    ),
    scal AS (
      SELECT COALESCE(MAX(CASE WHEN cum + n_tokens * (nsrc - rk) <= budget
                               THEN rk END), 0) AS kstar,
             COALESCE(MAX(CASE WHEN cum + n_tokens * (nsrc - rk) <= budget
                               THEN cum END), 0) AS cumk
      FROM r
    )
    SELECT source, n_tokens,
           CAST(CASE WHEN rk <= kstar THEN n_tokens
                WHEN nsrc > kstar THEN
                  (budget - cumk) // (nsrc - kstar)
                  + CASE WHEN rk - kstar <= (budget - cumk) % (nsrc - kstar)
                         THEN 1 ELSE 0 END
                ELSE n_tokens END AS BIGINT) AS allocation,
           rk > kstar AS capped
    FROM r, scal
    ORDER BY source
    """,
    doc="Water-filling budget allocation: given per-source token "
    "masses and a global training budget (3/5 of the corpus), find "
    "the water level L such that every source contributes "
    "min(n_tokens, L) and the budget is met exactly — small sources "
    "pass through whole, large sources are capped at the level, and "
    "the integer remainder spreads one token to the first capped "
    "sources in deterministic order. The level is found WITHOUT "
    "iteration: sources sort by mass, a prefix sum + the "
    "monotone feasibility test cum + n*(remaining) <= budget "
    "identifies the saturation point in one window pass, and the "
    "division happens once — all integer arithmetic, bit-exact. "
    "This is the mixture-scheduling step (cf. q116's temperature "
    "sampling) that turns 'we can afford X tokens' into per-source "
    "quotas; source cardinality is small, so every post-aggregation "
    "frame broadcasts.",
)
def q147_token_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the per-source mass table feeds four consumers (total, rank,
    # saturation scalar, final projection) — pin it so the corpus is
    # scanned once, not once per branch
    t = fragment(
        spark,
        sf_dir,
        "source_token_mass",
        lambda: load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens")),
    )
    tot = t.agg(
        (F.sum("n_tokens") * WF_BUDGET_NUM)
        .cast("long")
        .alias("_b"),
        F.count(F.lit(1)).cast("long").alias("nsrc"),
    ).select(
        F.floor(F.col("_b") / WF_BUDGET_DEN).cast("long").alias("budget"), "nsrc"
    )
    # rank + running mass in one two-phase pass (functions/ranks.py);
    # source cardinality is small today, but the plan shape now survives
    # a source taxonomy that grows with the corpus
    r = with_global_order(
        t,
        ["n_tokens", "source"],
        rank="rk",
        cumsums=[("n_tokens", "cum", "inclusive")],
    boundary_key=(sf_dir, "q147")).crossJoin(F.broadcast(tot))
    feasible = F.col("cum") + F.col("n_tokens") * (F.col("nsrc") - F.col("rk")) <= F.col("budget")
    scal = r.agg(
        F.coalesce(F.max(F.when(feasible, F.col("rk"))), F.lit(0)).alias("kstar"),
        F.coalesce(F.max(F.when(feasible, F.col("cum"))), F.lit(0)).alias("cumk"),
    )
    level = F.floor((F.col("budget") - F.col("cumk")) / (F.col("nsrc") - F.col("kstar")))
    leftover = (F.col("budget") - F.col("cumk")) % (F.col("nsrc") - F.col("kstar"))
    alloc = (
        F.when(F.col("rk") <= F.col("kstar"), F.col("n_tokens"))
        .when(
            F.col("nsrc") > F.col("kstar"),
            level + F.when(F.col("rk") - F.col("kstar") <= leftover, 1).otherwise(0),
        )
        .otherwise(F.col("n_tokens"))
    )
    return (
        r.crossJoin(F.broadcast(scal))
        .select(
            "source",
            "n_tokens",
            alloc.cast("long").alias("allocation"),
            (F.col("rk") > F.col("kstar")).alias("capped"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q156 — uncertainty sampling (annotation queue)
# ---------------------------------------------------------------------------

#: docs per source sent to annotators each cycle
UNC_PER_SOURCE = 5


@register(
    "q156_uncertainty_sample",
    f"""
    WITH scored AS (
      SELECT d.doc_id, d.source, q.score, abs(q.score) AS margin
      FROM documents d JOIN ({_Q114_SQL}) q USING (doc_id)
    )
    SELECT doc_id, source, score, margin
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY source ORDER BY margin, doc_id) AS rn
      FROM scored
    ) WHERE rn <= {UNC_PER_SOURCE}
    ORDER BY source, margin, doc_id
    """,
    doc="Uncertainty sampling for the annotation loop: the documents "
    "whose classifier score sits closest to the decision boundary "
    "(minimum |score|, the margin) are the ones a human label most "
    "improves — selected top-5 PER SOURCE so the annotation batch "
    "stays diverse instead of collapsing onto one domain's "
    "boundary. One scan of scores, one bounded per-source window; "
    "the classifier's fixed-point scores make the margin ranking "
    "bit-deterministic (ties break on doc_id). This closes the "
    "active-learning loop around q114/q146: score -> evaluate -> "
    "route the most informative rows to humans.",
)
def q156_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = q114_quality_classifier(spark, sf_dir).select("doc_id", "score")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = docs.join(scored, "doc_id").withColumn("margin", F.abs(F.col("score")))
    w = Window.partitionBy("source").orderBy("margin", "doc_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= UNC_PER_SOURCE)
        .select("doc_id", "source", "score", "margin")
        .orderBy("source", "margin", "doc_id")
    )


# ---------------------------------------------------------------------------
# q157 — distribution drift between snapshots (PSI)
# ---------------------------------------------------------------------------

#: fixed-width n_chars bins for the stability comparison
PSI_BIN_W = 60
PSI_N_BINS = 10


@register(
    "q157_psi_drift",
    f"""
    WITH snap AS (
      SELECT doc_id % 2 AS snapshot,
             least(n_chars // {PSI_BIN_W}, {PSI_N_BINS - 1}) AS bin
      FROM documents
    ),
    bins AS (SELECT UNNEST(range(0, {PSI_N_BINS})) AS bin),
    counts AS (
      SELECT b.bin,
             CAST(SUM(CASE WHEN s.snapshot = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ca,
             CAST(SUM(CASE WHEN s.snapshot = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS cb
      FROM bins b LEFT JOIN snap s ON s.bin = b.bin
      GROUP BY b.bin
    ),
    tot AS (
      SELECT SUM(ca) AS na, SUM(cb) AS nb FROM counts
    ),
    contrib AS (
      SELECT bin, ca, cb,
             CAST(floor(
               ((ca + 1.0) / (na + {PSI_N_BINS}) - (cb + 1.0) / (nb + {PSI_N_BINS}))
               * ln(((ca + 1.0) / (na + {PSI_N_BINS}))
                    / ((cb + 1.0) / (nb + {PSI_N_BINS})))
               * 1000000000) AS BIGINT) AS contrib_e9
      FROM counts, tot
    )
    SELECT bin, ca, cb, contrib_e9,
           (SELECT CAST(SUM(contrib_e9) AS BIGINT) FROM contrib) AS psi_e9
    FROM contrib
    ORDER BY bin
    """,
    doc="Population Stability Index between two corpus snapshots "
    "(doc_id parity splits the corpus into 'last week' and 'this "
    "week'): the n_chars distribution is binned into 10 fixed-width "
    "buckets (Laplace +1 smoothing so empty bins stay finite — the "
    "standard PSI guard) and each bin contributes "
    "(pa - pb) * ln(pa/pb). Per-bin contributions are computed with "
    "identical double arithmetic on both engines, then floored to "
    "1e-9 fixed point so the TOTAL is an exact integer sum — "
    "order-free under any partitioning, the same discipline as "
    "q140/q149. PSI > 0.2 is the conventional retrain trigger; this "
    "is the drift monitor an ingestion pipeline evaluates on every "
    "snapshot pair, one scan + one tiny aggregate.",
)
def q157_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    snap = docs.select(
        (F.col("doc_id") % 2).alias("snapshot"),
        F.least(
            F.floor(F.col("n_chars") / PSI_BIN_W).cast("long"),
            F.lit(PSI_N_BINS - 1),
        ).alias("bin"),
    )
    bins = spark.range(PSI_N_BINS).select(F.col("id").alias("bin"))
    counts = (
        bins.join(snap, "bin", "left")
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("snapshot") == 0, 1).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(F.col("snapshot") == 1, 1).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
    )
    tot = counts.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    pa = (F.col("ca") + 1.0) / (F.col("na") + PSI_N_BINS)
    pb = (F.col("cb") + 1.0) / (F.col("nb") + PSI_N_BINS)
    contrib = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bin", "ca", "cb",
            F.floor((pa - pb) * F.log(pa / pb) * 1000000000)
            .cast("long")
            .alias("contrib_e9"),
        )
    )
    total = contrib.agg(F.sum("contrib_e9").cast("long").alias("psi_e9"))
    return (
        contrib.crossJoin(F.broadcast(total))
        .select("bin", "ca", "cb", "contrib_e9", "psi_e9")
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q166 — split-conformal coverage for the quality classifier
# ---------------------------------------------------------------------------

#: target miscoverage (alpha = 0.1 -> 90% prediction sets)
CONF_ALPHA_NUM, CONF_ALPHA_DEN = 1, 10


@register(
    "q166_conformal_coverage",
    f"""
    WITH scored AS (
      SELECT d.doc_id, d.n_chars, q.score,
             ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 2
               AS fold,
             CAST(ROUND(abs((d.n_chars - 250) / 250.0 - q.score) * 1000000)
                  AS BIGINT) AS nonconf_e6
      FROM documents d JOIN ({_Q114_SQL}) q USING (doc_id)
    ),
    cal AS (
      SELECT nonconf_e6,
             ROW_NUMBER() OVER (ORDER BY nonconf_e6, doc_id) AS rn,
             COUNT(*) OVER () AS n_cal
      FROM scored WHERE fold = 0
    ),
    qhat AS (
      SELECT nonconf_e6 AS q_e6 FROM cal
      WHERE rn = least(
        CAST(ceil((n_cal + 1) * (1.0 - {CONF_ALPHA_NUM}.0 / {CONF_ALPHA_DEN}))
             AS BIGINT),
        n_cal)
    )
    SELECT CAST((SELECT MAX(n_cal) FROM cal) AS BIGINT) AS n_cal,
           (SELECT q_e6 FROM qhat) AS q_e6,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN s.nonconf_e6 <= (SELECT q_e6 FROM qhat)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           CAST(SUM(CASE WHEN s.nonconf_e6 <= (SELECT q_e6 FROM qhat)
                    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS coverage
    FROM scored s WHERE s.fold = 1
    """,
    doc="Split-conformal calibration of the q114 quality classifier: "
    "documents hash-split into calibration and test folds, the "
    "nonconformity score (|target - score| at 1e-6 fixed point, "
    "target = scaled document length) takes its "
    "ceil((n+1)(1-alpha))-th order statistic on the calibration "
    "fold — an EXACT integer order statistic via row_number, not an "
    "interpolated float percentile, so the threshold is "
    "bit-deterministic — and the test fold measures empirical "
    "coverage, which conformal theory guarantees >= 90% in "
    "expectation. The calibration quantile is one global sort of "
    "the cal fold (range-partitioned at scale); coverage is one "
    "conditional aggregate. This is the distribution-free "
    "uncertainty wrapper a production scorer ships with.",
)
def q166_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import shingle_h32

    scored_base = q114_quality_classifier(spark, sf_dir).select("doc_id", "score")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # pinned: the cal fold feeds the helper (boundary probe + branches)
    # and the test fold reads it again — one q114 evaluation, not five
    scored = fragment(
        spark, sf_dir, "q166_scored",
        lambda: docs.join(scored_base, "doc_id").select(
            "doc_id",
            (shingle_h32(F.col("doc_id").cast("string")) % 2).alias("fold"),
            F.round(
                F.abs((F.col("n_chars") - 250) / F.lit(250.0) - F.col("score"))
                * 1000000
            )
            .cast("long")
            .alias("nonconf_e6"),
        ),
    )
    cal = scored.filter(F.col("fold") == 0)
    # exact order statistic via the range-partitioned two-phase rank —
    # the calibration fold is corpus-sized, so no single-partition window
    ranked = with_global_order(
        cal, ["nonconf_e6", "doc_id"], rank="rn", total="n_cal",
    boundary_key=(sf_dir, "q166")).select("nonconf_e6", "rn", "n_cal")
    target_rn = F.least(
        F.ceil(
            (F.col("n_cal") + 1)
            * (1.0 - CONF_ALPHA_NUM / CONF_ALPHA_DEN)
        ).cast("long"),
        F.col("n_cal").cast("long"),
    )
    qhat = ranked.filter(F.col("rn") == target_rn).select(
        F.col("nonconf_e6").alias("q_e6"), F.col("n_cal").cast("long").alias("n_cal")
    )
    test = scored.filter(F.col("fold") == 1)
    return (
        test.crossJoin(F.broadcast(qhat))
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.max("q_e6").alias("q_e6"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum((F.col("nonconf_e6") <= F.col("q_e6")).cast("int"))
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            "n_cal", "q_e6", "n_test", "n_covered",
            (F.col("n_covered").cast("double") / F.col("n_test")).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# q169 — tokenizer round-trip (encode -> decode -> identity)
# ---------------------------------------------------------------------------


@register(
    "q169_tokenizer_roundtrip",
    """
    WITH toks AS (
      SELECT doc_id, t.tok, t.pos
      FROM documents,
           LATERAL (SELECT UNNEST(string_split(text, ' ')) AS tok,
                           generate_subscripts(string_split(text, ' '), 1)
                             AS pos) t
    ),
    vocab AS (
      SELECT tok,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS tid
      FROM toks GROUP BY tok
    ),
    ids AS (
      SELECT t.doc_id, t.pos, v.tid FROM toks t JOIN vocab v USING (tok)
    ),
    decoded AS (
      SELECT i.doc_id,
             array_to_string(list(v.tok ORDER BY i.pos), ' ') AS text2,
             COUNT(*) AS n_tokens
      FROM ids i JOIN vocab v USING (tid)
      GROUP BY i.doc_id
    )
    SELECT d.doc_id,
           CAST(dec.n_tokens AS BIGINT) AS n_tokens,
           md5(d.text) AS orig_md5,
           md5(dec.text2) AS decoded_md5,
           md5(d.text) = md5(dec.text2) AS lossless
    FROM documents d JOIN decoded dec USING (doc_id)
    ORDER BY doc_id
    """,
    doc="Tokenizer round-trip integrity: every document encodes into "
    "its id sequence against the full df-ranked vocabulary, decodes "
    "BACK through the same vocabulary, and the reassembled text must "
    "hash-equal the original — the lossless-encoding audit a "
    "training-data pipeline runs before committing a tokenized "
    "corpus (q121 measures the encoding; this proves it loses "
    "nothing). Encode and decode are both keyed joins against the "
    "broadcast vocabulary; the identity check rides the md5 the "
    "hash gate already trusts. A truncating vocab, a position bug "
    "in reassembly, or a whitespace normalization sneak-in all "
    "break every row's lossless bit.",
)
def q169_tokenizer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    # df-ranked ids via the range-partitioned two-phase rank — the full
    # vocabulary never funnels through one task
    vocab = with_global_order(
        fragment(
            spark, sf_dir, "q169_tok_n",
            lambda: toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n")),
        ),
        [(F.col("n"), "desc"), "tok"],
        rank="tid",
    boundary_key=(sf_dir, "q169")).select("tok", "tid")
    ids = toks.join(F.broadcast(vocab), "tok").select("doc_id", "pos", "tid")
    decoded = (
        ids.join(F.broadcast(vocab), "tid")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("text2"),
        )
    )
    return (
        docs.select("doc_id", "text")
        .join(decoded, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.md5(F.col("text").cast("binary")).alias("orig_md5"),
            F.md5(F.col("text2").cast("binary")).alias("decoded_md5"),
            (
                F.md5(F.col("text").cast("binary"))
                == F.md5(F.col("text2").cast("binary"))
            ).alias("lossless"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q170 — Zipf's-law fit of the term-frequency distribution
# ---------------------------------------------------------------------------

#: rank-range generation chunk for the q170 histogram rank: one
#: frequency tier's [excl+1, excl+cnt] rank run is re-generated as
#: sequence() chunks of at most this many ranks so a giant tier (the
#: hapax f=1 run is ~half a natural vocabulary) never becomes a single
#: generate task. 2^18 longs = 2 MiB per transient sequence array;
#: result-invariant by construction (the chunk-reassembly test forces
#: it to 1 so every tier splits at test scale).
Q170_RANK_CHUNK = 1 << 18


@register(
    "q170_zipf_fit",
    """
    WITH freq AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> '' GROUP BY tok
    ),
    ranked AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS r FROM freq
    ),
    pts AS (
      SELECT CAST(floor(ln(r) * 1000000) AS BIGINT) AS x,
             CAST(floor(ln(f) * 1000000) AS BIGINT) AS y
      FROM ranked
    ),
    agg AS (
      -- int128 accumulation: |x|,|y| <= ~4e7 (ln of anything that fits a
      -- BIGINT count, scaled 1e6), so x*y ~ 1e15 and the sums reach ~1e20
      -- at a realistic 1e5+ vocabulary — past int64.  HUGEINT here /
      -- DECIMAL(38,0) on the Spark side keep both engines exact (and
      -- identical) to ~1e38 instead of wrapping or raising at 9.2e18.
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           CAST(n * sxy - sx * sy AS DECIMAL(38,0)) AS slope_num,
           CAST(n * sxx - sx * sx AS DECIMAL(38,0)) AS slope_den,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_exponent,
           (SELECT MAX(f) FROM freq) AS top_freq
    FROM agg
    """,
    doc="Zipf's-law fit of the corpus term-frequency distribution: "
    "ln(frequency) regressed on ln(rank) with the q162 exact-OLS "
    "discipline — per-point logs floored to 1e-6 fixed point "
    "(identical doubles both engines), regression sums exact "
    "BIGINTs, numerator/denominator pinned, one final division for "
    "the exponent (natural corpora sit near -1; this synthetic "
    "near-uniform vocabulary sits near 0 — exactly the kind of "
    "distribution-shape red flag the statistic exists to raise "
    "before tokenizer/vocab decisions are made on a crawl). One "
    "explode + a distinct-frequency histogram rank + a 6-sum "
    "aggregate: the per-token global rank is consumed ONLY through "
    "ln(rank) summed within frequency ties, so the vocabulary-sized "
    "rank shuffle collapses to rank RANGES per distinct frequency "
    "(r13, guide §2.3/§2.4 — see the function body).",
)
def q170_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    freq = fragment(
        spark, sf_dir, "q170_freq",
        lambda: docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("f")),
    )
    # r13 histogram rank (guide §2.3 "aggregate before you shuffle",
    # §2.4 remove shuffles outright): the declared output consumes the
    # per-token rank ONLY through floor(ln(r)*1e6) summed into sx/sxx/
    # sxy, and within a frequency tie-run y = floor(ln(f)*1e6) is
    # constant — so the (ln r, ln f) point MULTISET (hence every exact
    # integer sum) is fully determined by each distinct frequency's
    # contiguous rank range [excl+1, excl+cnt] under the f-desc order.
    # The tok tie-break only permutes ranks WITHIN a tie-run, which the
    # sums cannot see. Ranking therefore moves from the vocabulary
    # (billions of tokens at crawl scale) to the distinct-frequency
    # histogram (~O(sqrt(corpus tokens)) rows), and the per-token rank
    # values are re-generated as sequences — compute, not shuffle.
    hist = freq.groupBy("f").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tiers = with_global_order(
        hist,
        [(F.col("f"), "desc")],
        cumsums=[("cnt", "excl", "exclusive")],
        boundary_key=(sf_dir, "q170"),
    )
    # re-generate each tier's rank range in bounded chunks so one giant
    # tier (the hapax f=1 run is ~half a natural vocabulary) never
    # becomes a single generate task; (f, ci) is a high-cardinality
    # deterministic key, so the repartition spreads chunks evenly
    chunk = Q170_RANK_CHUNK
    chunked = tiers.select(
        "f",
        F.floor(F.log("f") * 1000000).cast("long").alias("y"),
        "excl",
        "cnt",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.floor((F.col("cnt") - 1) / F.lit(chunk)).cast("long"),
            )
        ).alias("ci"),
    ).repartition(F.col("f"), F.col("ci"))
    r_lo = F.col("excl") + F.col("ci") * chunk + 1
    r_hi = F.col("excl") + F.least(F.col("cnt"), (F.col("ci") + 1) * chunk)
    pts = chunked.select(
        "f", "y", F.explode(F.sequence(r_lo, r_hi)).alias("r")
    ).select(
        "f",
        F.floor(F.log("r") * 1000000).cast("long").alias("x"),
        "y",
    )
    # DECIMAL(38,0) accumulation (oracle: HUGEINT): |x|,|y| <= ~4e7, so
    # x*y ~ 1e15 and the regression sums pass int64 at a ~1e5 vocabulary.
    # Spark (non-ANSI) would wrap silently where DuckDB raises — widening
    # both sides keeps the "exact integer, bit-deterministic" claim true
    # to ~1e38 (a 1e22-term vocabulary, i.e. never). top_freq folds into
    # the same aggregate (max f over the exploded points IS max f over
    # freq — every tier contributes at least one rank), dropping the
    # former second pass over freq and its cross join.
    xd = F.col("x").cast("decimal(12,0)")
    yd = F.col("y").cast("decimal(12,0)")
    agg = pts.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(xd).cast("decimal(38,0)").alias("sx"),
        F.sum(yd).cast("decimal(38,0)").alias("sy"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.max("f").alias("top_freq"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        F.col("n").cast("long").alias("n_terms"),
        num.cast("decimal(38,0)").alias("slope_num"),
        den.cast("decimal(38,0)").alias("slope_den"),
        (num.cast("double") / den.cast("double")).alias("zipf_exponent"),
        "top_freq",
    )


# ---------------------------------------------------------------------------
# q183 — systematic (low-variance) importance resampling of the corpus
# ---------------------------------------------------------------------------

#: number of training samples drawn per epoch plan
RS_N = 500


@register(
    "q183_systematic_resample",
    f"""
    WITH w AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS weight
      FROM documents
    ),
    c AS (
      SELECT doc_id, weight,
             COALESCE(SUM(weight) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM w
    ),
    tot AS (SELECT CAST(SUM(weight) AS HUGEINT) AS wtot FROM w)
    SELECT doc_id, weight,
           CAST(
             ((CAST(cum_before AS HUGEINT) + weight) * {RS_N} + wtot - 1) // wtot
             - (CAST(cum_before AS HUGEINT) * {RS_N} + wtot - 1) // wtot
             AS BIGINT) AS multiplicity
    FROM c, tot
    WHERE ((CAST(cum_before AS HUGEINT) + weight) * {RS_N} + wtot - 1) // wtot
          - (CAST(cum_before AS HUGEINT) * {RS_N} + wtot - 1) // wtot > 0
    ORDER BY doc_id
    """,
    doc="Systematic (low-variance) resampling of the corpus by token "
    "mass — the epoch sampling plan that draws exactly N examples "
    "with P(doc) proportional to its weight and at most +/-1 "
    "dispersion per doc (particle-filter systematic resampling, vs "
    "q142's independent draws): lay every document's weight on a "
    "cumulative axis via the range-partitioned two-phase prefix sum "
    "(functions/ranks.py — no single-partition window), then each "
    "doc's multiplicity is a closed-form count of the N evenly-spaced "
    "picks falling in its interval — two integer ceil-divisions in "
    "int128 (HUGEINT / DECIMAL(38,0)), no randomness, bit-exact, and "
    "sum(multiplicity) == N by construction (pinned by an invariant "
    "test).",
)
def q183_systematic_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("weight")
    )
    c = with_global_order(
        w, ["doc_id"], cumsums=[("weight", "cum_before", "exclusive")],
    boundary_key=(sf_dir, "q183"))
    tot = w.agg(F.sum("weight").cast("decimal(38,0)").alias("wtot"))
    d38 = "decimal(38,0)"
    cum = F.col("cum_before").cast(d38)
    wt = F.col("weight").cast(d38)
    n = F.lit(RS_N).cast(d38)

    def floordiv(a, b):
        # exact floor(a/b) for non-negative decimals: Spark's decimal
        # division rounds HALF_UP at the result scale, so a true
        # quotient epsilon-under an integer can round up (and vice
        # versa); one multiplication-checked correction step in exact
        # decimal arithmetic pins the true floor
        q = F.floor(a / b).cast(d38)
        q = F.when((q + 1) * b <= a, q + 1).otherwise(q)
        return F.when(q * b > a, q - 1).otherwise(q)

    hi = floordiv((cum + wt) * n + F.col("wtot") - 1, F.col("wtot")).cast("long")
    lo = floordiv(cum * n + F.col("wtot") - 1, F.col("wtot")).cast("long")
    return (
        c.crossJoin(F.broadcast(tot))
        .select("doc_id", "weight", (hi - lo).alias("multiplicity"))
        .filter(F.col("multiplicity") > 0)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q186 — classifier calibration (reliability bins + Brier score)
# ---------------------------------------------------------------------------

#: reliability-diagram bins over [0, 1)
CAL_BINS = 10


@register(
    "q186_calibration_bins",
    f"""
    WITH scored AS (
      SELECT d.doc_id,
             CAST(floor(1000000.0 / (1.0 + exp(-q.score))) AS BIGINT) AS p_e6,
             CASE WHEN d.n_chars >= {PRF_TRUTH_MIN_CHARS}
                  THEN 1000000 ELSE 0 END AS y_e6
      FROM documents d JOIN ({_Q114_SQL}) q USING (doc_id)
    ),
    binned AS (
      SELECT least(p_e6 // {1000000 // CAL_BINS}, {CAL_BINS - 1}) AS bin,
             p_e6, y_e6,
             CAST(p_e6 - y_e6 AS HUGEINT) * (p_e6 - y_e6) AS brier_term
      FROM scored
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN y_e6 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(SUM(p_e6) AS BIGINT) AS sum_p_e6,
           CAST(SUM(brier_term) AS DECIMAL(38,0)) AS brier_e12,
           CAST(SUM(p_e6) AS DOUBLE) / COUNT(*) / 1000000.0 AS mean_p,
           CAST(SUM(CASE WHEN y_e6 > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS frac_pos
    FROM binned
    GROUP BY bin
    ORDER BY bin
    """,
    doc="Classifier calibration — the reliability diagram plus Brier "
    "score the eval loop checks before trusting q114's scores as "
    "probabilities: scores map through the logistic (identical double "
    "exp/divide on both engines) and floor to 1e-6 fixed point, so "
    "bin assignment, per-bin probability mass, and every "
    "(p - y)^2 Brier term are EXACT integers (terms reach 1e12, so "
    "the sums ride int128 / DECIMAL(38,0)); mean_p vs frac_pos per "
    "bin IS the calibration curve, each a single division of exact "
    "sums. One scan of scores joined to truth, one 10-row aggregate — "
    "linear at any scale.",
)
def q186_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored_base = q114_quality_classifier(spark, sf_dir).select("doc_id", "score")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    p_e6 = F.floor(
        F.lit(1000000.0) / (F.lit(1.0) + F.exp(-F.col("score")))
    ).cast("long")
    y_e6 = F.when(
        F.col("n_chars") >= PRF_TRUTH_MIN_CHARS, F.lit(1000000)
    ).otherwise(F.lit(0))
    binned = docs.join(scored_base, "doc_id").select(
        p_e6.alias("p_e6"), y_e6.alias("y_e6")
    ).select(
        F.least(
            F.floor(F.col("p_e6") / (1000000 // CAL_BINS)),
            F.lit(CAL_BINS - 1),
        )
        .cast("long")
        .alias("bin"),
        "p_e6",
        "y_e6",
        (
            (F.col("p_e6") - F.col("y_e6")).cast("decimal(38,0)")
            * (F.col("p_e6") - F.col("y_e6"))
        ).alias("brier_term"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("y_e6") > 0).cast("int")).cast("long").alias("n_pos"),
            F.sum("p_e6").cast("long").alias("sum_p_e6"),
            F.sum("brier_term").cast("decimal(38,0)").alias("brier_e12"),
            (
                F.sum("p_e6").cast("double") / F.count(F.lit(1)) / 1000000.0
            ).alias("mean_p"),
            (
                F.sum((F.col("y_e6") > 0).cast("int")).cast("double")
                / F.count(F.lit(1))
            ).alias("frac_pos"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q193 — deterministic epoch shuffle + shard assignment
# ---------------------------------------------------------------------------

#: epochs materialized by the shuffle plan (trainers regenerate per
#: epoch in practice; two prove the per-epoch independence)
SHUFFLE_EPOCHS = 2
#: data-parallel workers the shuffled order is striped across
SHUFFLE_SHARDS = 8


@register(
    "q193_epoch_shuffle",
    f"""
    WITH ep AS (
      SELECT CAST(i AS BIGINT) AS epoch FROM UNNEST(range(0, {SHUFFLE_EPOCHS})) t(i)
    ),
    keys AS (
      SELECT e.epoch, d.doc_id,
             ('0x' || substr(md5('ep' || e.epoch || ':' || d.doc_id), 1, 8))::BIGINT
               AS hk
      FROM documents d CROSS JOIN ep e
    ),
    ranked AS (
      SELECT epoch, doc_id,
             ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY hk, doc_id)
               AS position
      FROM keys
    )
    SELECT epoch, doc_id, CAST(position AS BIGINT) AS position,
           CAST((position - 1) % {SHUFFLE_SHARDS} AS BIGINT) AS shard
    FROM ranked
    ORDER BY epoch, position
    """,
    doc="Deterministic epoch shuffling for training-data loading — the "
    "order a distributed data loader actually serves: each epoch "
    "permutes the corpus by a seeded hash (md5 of epoch:doc_id — "
    "replayable on retry, independent across epochs, no RNG state to "
    "coordinate), the global position comes from the range-partitioned "
    "two-phase rank (functions/ranks.py — a bare ORDER BY row_number "
    "would serialize the corpus onto one task per epoch), and striping "
    "position across N shards gives every data-parallel worker a "
    "balanced (+-1) slice of every epoch. At 100 TB this is one keyed "
    "shuffle per epoch and nothing driver-side but the rank helper's "
    "bounded boundary sample; trainers resume mid-epoch by filtering "
    "position > checkpoint, exactly because the order is a pure "
    "function of (epoch, doc_id).",
)
def q193_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = []
    for e in range(SHUFFLE_EPOCHS):
        hk = shingle_h32(
            F.concat(F.lit(f"ep{e}:"), F.col("doc_id").cast("string"))
        )
        ranked = with_global_order(
            docs.select("doc_id", hk.alias("hk")),
            ["hk", "doc_id"],
            rank="position",
        boundary_key=(sf_dir, f"q193e{e}")).select(
            F.lit(e).cast("long").alias("epoch"),
            "doc_id",
            "position",
            ((F.col("position") - 1) % SHUFFLE_SHARDS).cast("long").alias("shard"),
        )
        epochs.append(ranked)
    out = epochs[0]
    for d in epochs[1:]:
        out = out.unionByName(d)
    return out.orderBy("epoch", "position")


# ---------------------------------------------------------------------------
# q196 — tokenizer fertility / compression report per (source, lang)
# ---------------------------------------------------------------------------


@register(
    "q196_tokenizer_fertility",
    f"""
    WITH toks AS (
      SELECT d.source, d.lang, d.doc_id, unnest(string_split(d.text, ' ')) AS tok
      FROM documents d
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, ROW_NUMBER() OVER (ORDER BY df DESC, tok) AS tid
        FROM (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok) d
      ) r WHERE tid <= {VOCAB_N}
    ),
    agg AS (
      SELECT t.source, t.lang,
             CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT t.tok) AS BIGINT) AS n_terms,
             CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
      FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
      GROUP BY t.source, t.lang
    ),
    chars AS (
      SELECT source, lang, CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY source, lang
    )
    SELECT a.source, a.lang, a.n_docs, a.n_tokens, a.n_terms, a.n_oov,
           c.n_chars,
           CAST(a.n_tokens * 1000 // c.n_chars AS BIGINT) AS fertility_e3,
           CAST(a.n_oov * 1000 // a.n_tokens AS BIGINT) AS oov_pm
    FROM agg a JOIN chars c ON c.source = a.source AND c.lang = a.lang
    ORDER BY a.source, a.lang
    """,
    doc="Tokenizer fertility report per (source, language) slice: "
    "tokens emitted per 1000 characters (the fertility metric "
    "tokenizer teams track per language — a slice whose fertility is "
    "2x the corpus mean pays 2x the compute per byte of text) plus "
    "OOV per-mille against the df-ranked q121 vocabulary and the "
    "distinct-term count. One token explode, one BROADCAST lookup "
    "against the bounded vocabulary, and one aggregate keyed by the "
    "(source, lang) pair — the output is bounded by the slice count "
    "however big the corpus, and every rate is an exact positive "
    "integer quotient (identical truncating division both engines). "
    "Shares the pinned q121_tok_df fragment, so running encode and "
    "report together scans the corpus once.",
)
def q196_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "lang", "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = _df_vocab(spark, sf_dir).select("tok")
    agg = (
        toks.join(
            F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "tok", "left"
        )
        .groupBy("source", "lang")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.countDistinct("tok").cast("long").alias("n_terms"),
            F.sum((F.col("in_vocab").isNull()).cast("int"))
            .cast("long")
            .alias("n_oov"),
        )
    )
    chars = docs.groupBy("source", "lang").agg(
        F.sum("n_chars").cast("long").alias("n_chars")
    )
    return (
        agg.join(chars, ["source", "lang"])
        .select(
            "source", "lang", "n_docs", "n_tokens", "n_terms", "n_oov",
            "n_chars",
            F.expr("CAST(n_tokens * 1000 DIV n_chars AS BIGINT)").alias(
                "fertility_e3"
            ),
            F.expr("CAST(n_oov * 1000 DIV n_tokens AS BIGINT)").alias("oov_pm"),
        )
        .orderBy("source", "lang")
    )


# ---------------------------------------------------------------------------
# q197 — reciprocal-rank-fusion quality ensemble
# ---------------------------------------------------------------------------

#: the standard RRF damping constant (Cormack et al. 2009)
RRF_K = 60

from ..functions.text import STOPWORDS as _RRF_STOPWORDS  # noqa: E402

_RRF_STOP_SQL = ", ".join(f"'{w}'" for w in _RRF_STOPWORDS)


@register(
    "q197_rank_fusion",
    f"""
    WITH feat AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct,
             len(list_filter(string_split(text, ' '),
                 x -> x IN ({_RRF_STOP_SQL}))) AS n_stop
      FROM documents
    ),
    keys AS (
      SELECT doc_id,
             n_distinct * 1000000 // n_tokens AS ttr_e6,
             n_stop * 1000000 // n_tokens AS stop_e6
      FROM feat
    ),
    clf AS (SELECT doc_id, score FROM ({_Q114_SQL})),
    ranks AS (
      SELECT k.doc_id, k.ttr_e6, k.stop_e6,
             ROW_NUMBER() OVER (ORDER BY k.ttr_e6 DESC, k.doc_id) AS r_ttr,
             ROW_NUMBER() OVER (ORDER BY c.score DESC, k.doc_id) AS r_clf,
             ROW_NUMBER() OVER (ORDER BY k.stop_e6 ASC, k.doc_id) AS r_stop
      FROM keys k JOIN clf c USING (doc_id)
    )
    SELECT doc_id,
           CAST(r_ttr AS BIGINT) AS r_ttr,
           CAST(r_clf AS BIGINT) AS r_clf,
           CAST(r_stop AS BIGINT) AS r_stop,
           CAST(1000000 // ({RRF_K} + r_ttr)
                + 1000000 // ({RRF_K} + r_clf)
                + 1000000 // ({RRF_K} + r_stop) AS BIGINT) AS rrf_e6
    FROM ranks
    ORDER BY doc_id
    """,
    doc="Reciprocal-rank-fusion corpus prioritization: three "
    "heterogeneous quality rankers — type-token ratio (desc), the "
    "q114 hashed linear classifier score (desc), and stopword ratio "
    "(asc) — are fused per document as sum of 1e6 // (60 + rank), "
    "the Cormack et al. RRF formula in exact integer arithmetic. "
    "Rank keys are exact fixed-point quotients (ttr and stopword "
    "rates as n*1e6 DIV n_tokens) or the integer-backed classifier "
    "double, with doc_id tie-breaks, so all three global orders are "
    "bit-deterministic; each global rank is the range-partitioned "
    "two-phase runner over a projection of ONE pinned feature "
    "fragment (never a single-partition window), and the fusion is "
    "two keyed joins on doc_id. The fused ranking is how curation "
    "pipelines combine incomparable quality signals without score "
    "calibration — only ranks cross the signal boundary.",
)
def q197_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = fragment(
        spark,
        sf_dir,
        "q197_rank_keys",
        lambda: docs.select(
            "doc_id",
            F.expr(
                "CAST(size(array_distinct(split(text, ' '))) * 1000000"
                " DIV size(split(text, ' ')) AS BIGINT)"
            ).alias("ttr_e6"),
            F.expr(
                f"CAST(size(filter(split(text, ' '),"
                f" x -> x IN ({_RRF_STOP_SQL})))"
                " * 1000000 DIV size(split(text, ' ')) AS BIGINT)"
            ).alias("stop_e6"),
        ).join(
            q114_quality_classifier(spark, sf_dir).select("doc_id", "score"),
            "doc_id",
        ),
    )
    r_ttr = with_global_order(
        base.select("doc_id", "ttr_e6"),
        [("ttr_e6", "desc"), "doc_id"],
        rank="r_ttr",
        boundary_key=(sf_dir, "q197t"),
    ).select("doc_id", "r_ttr")
    r_clf = with_global_order(
        base.select("doc_id", "score"),
        [(F.col("score"), "desc"), "doc_id"],
        rank="r_clf",
        boundary_key=(sf_dir, "q197c"),
    ).select("doc_id", "r_clf")
    r_stop = with_global_order(
        base.select("doc_id", "stop_e6"),
        ["stop_e6", "doc_id"],
        rank="r_stop",
        boundary_key=(sf_dir, "q197s"),
    ).select("doc_id", "r_stop")
    rrf = (
        F.expr(f"CAST(1000000 DIV ({RRF_K} + r_ttr) AS BIGINT)")
        + F.expr(f"CAST(1000000 DIV ({RRF_K} + r_clf) AS BIGINT)")
        + F.expr(f"CAST(1000000 DIV ({RRF_K} + r_stop) AS BIGINT)")
    )
    return (
        r_ttr.join(r_clf, "doc_id")
        .join(r_stop, "doc_id")
        .select(
            "doc_id", "r_ttr", "r_clf", "r_stop",
            rrf.cast("long").alias("rrf_e6"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q212 — Good-Turing unseen-mass estimate per source
# ---------------------------------------------------------------------------


@register(
    "q212_good_turing",
    """
    WITH tok AS (
      SELECT d.source, t.tok
      FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(tok)
    ),
    tf AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, tok
    ),
    fof AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
             CAST(SUM(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS f3
      FROM tf GROUP BY source
    )
    SELECT source, n_tokens, vocab, f1, f2, f3,
           CAST(f1 AS DOUBLE) / n_tokens AS p_unseen,
           CAST(2 * f2 AS DOUBLE) / nullif(f1, 0) AS r1_star
    FROM fof ORDER BY source
    """,
    doc="Good-Turing vocabulary-coverage estimate per source: the "
    "frequency-of-frequencies table (how many terms occur exactly "
    "once, twice, three times) and the two classic derived numbers — "
    "unseen probability mass P(new word) = f1/N and the adjusted "
    "count of a singleton r1* = 2*f2/f1 (Good 1953). This is the "
    "measurement that tells a tokenizer/corpus team whether a source "
    "is lexically saturated (tiny f1/N: more data repeats the same "
    "vocabulary) or still growing (large f1/N: every shard brings "
    "new types) — the decision input for how much of a source to "
    "keep in the mix. Both floats are single divisions of exact "
    "BIGINT counts. Plan: explode tokens once, two keyed aggregates "
    "(term-frequency, then frequency-of-frequency) with map-side "
    "combine — two bounded shuffles, no Python, no windows; the "
    "second aggregate's input is already one row per distinct term.",
)
def q212_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    fof = tf.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum((F.col("c") == 1).cast("int")).cast("long").alias("f1"),
        F.sum((F.col("c") == 2).cast("int")).cast("long").alias("f2"),
        F.sum((F.col("c") == 3).cast("int")).cast("long").alias("f3"),
    )
    return fof.select(
        "source", "n_tokens", "vocab", "f1", "f2", "f3",
        (F.col("f1").cast("double") / F.col("n_tokens")).alias("p_unseen"),
        ((2 * F.col("f2")).cast("double") / F.nullif(F.col("f1"), F.lit(0))).alias(
            "r1_star"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q215 — crawl-batch novelty decay (new-shingle fraction per batch)
# ---------------------------------------------------------------------------

#: docs per sequential crawl batch (doc_id order = arrival order in
#: the synthetic corpus): 5 batches at sf0.01, 50 at sf0.1
NOVELTY_BATCH_DOCS = 100


@register(
    "q215_novelty_decay",
    f"""
    WITH sh AS ({_SH_SQL}),
    gb AS (
      SELECT DISTINCT CAST(doc_id // {NOVELTY_BATCH_DOCS} AS BIGINT) AS batch,
             shingle AS h
      FROM sh
    ),
    first AS (SELECT h, MIN(batch) AS fb FROM gb GROUP BY h),
    per AS (
      SELECT gb.batch,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN f.fb = gb.batch THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new
      FROM gb JOIN first f ON f.h = gb.h
      GROUP BY gb.batch
    )
    SELECT batch, n_grams, n_new,
           CAST(SUM(n_new) OVER (ORDER BY batch
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS distinct_total,
           CAST(n_new AS DOUBLE) / n_grams AS novelty
    FROM per
    ORDER BY batch
    """,
    doc="Crawl novelty-decay curve: documents are grouped into "
    "sequential arrival batches (doc_id order) and each batch reports "
    "how many of its distinct 3-word shingles were NEVER seen in any "
    "earlier batch — the marginal-novelty measurement behind "
    "diminishing-returns decisions (keep crawling a source, or stop "
    "because batch novelty has decayed below threshold; cf. the "
    "scaling-law data-curation audits that track unique-token yield "
    "per additional crawl snapshot). Shingles ride the shared md5-h32 "
    "family (`functions/text.py`). Plan: one distinct over (batch, "
    "shingle-hash), one min-per-hash aggregate, one equi-join back, "
    "one per-batch aggregate — all keyed shuffles sharded by the "
    "gram hash; the final running total runs over one row per batch "
    "via the two-phase global cumsum (functions/ranks.py), never a "
    "single-partition window over row-level data. At 100 TB the "
    "min-batch-per-gram aggregate IS the novelty index a crawler "
    "would maintain incrementally; novelty is a single division of "
    "exact BIGINT counts, so parity is exact.",
)
def q215_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    sets = fragment(
        spark, sf_dir, "shingle_sets", lambda: _shingle_sets(spark, sf_dir)
    )
    gb = (
        sets.select(
            # integer DIV, not floor(double /): above 2^53 the double
            # quotient loses precision and batches could diverge from
            # the oracle's exact // (ADVICE r6)
            F.expr(f"doc_id DIV {NOVELTY_BATCH_DOCS}").alias("batch"),
            F.explode("shingles").alias("h"),
        )
        .distinct()
    )
    first = gb.groupBy("h").agg(F.min("batch").alias("fb"))
    per = (
        gb.join(first, "h")
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("fb") == F.col("batch")).cast("int"))
            .cast("long")
            .alias("n_new"),
        )
    )
    return (
        with_global_order(
            per, ["batch"], cumsums=[("n_new", "distinct_total", "inclusive")]
        )
        .select(
            "batch", "n_grams", "n_new",
            F.col("distinct_total").cast("long").alias("distinct_total"),
            (F.col("n_new").cast("double") / F.col("n_grams")).alias("novelty"),
        )
        .orderBy("batch")
    )


# ---------------------------------------------------------------------------
# q219 — span-removal rewrite (apply the q113 exact-substring dedup)
# ---------------------------------------------------------------------------


@register(
    "q219_span_removal_rewrite",
    f"""
    WITH t AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    tok AS (
      SELECT doc_id, CAST(i AS BIGINT) AS idx, toks[i] AS tok
      FROM t, UNNEST(range(1, n + 1)) AS u(i)
    ),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(toks[i : i + {SPAN_WORDS - 1}], ' ') AS gram
      FROM t, UNNEST(range(1, greatest(n - {SPAN_WORDS - 2}, 1))) AS u(i)
    ),
    dup AS (
      SELECT gram, MIN(doc_id) AS keeper FROM grams
      GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    rem AS (
      SELECT g.doc_id, g.pos FROM grams g JOIN dup d USING (gram)
      WHERE g.doc_id <> d.keeper
    ),
    cov AS (
      SELECT DISTINCT doc_id, CAST(ti AS BIGINT) AS idx
      FROM rem, UNNEST(range(pos, pos + {SPAN_WORDS})) AS u(ti)
    ),
    kept AS (
      SELECT tok.doc_id, tok.idx, tok.tok
      FROM tok LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.idx = tok.idx
      WHERE cov.idx IS NULL
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY idx) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(t.n AS BIGINT) AS n_tokens,
           CAST(t.n - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.clean_text, '') AS clean_text
    FROM t LEFT JOIN agg a USING (doc_id)
    ORDER BY t.doc_id
    """,
    doc=f"The span-removal REWRITE that q113 only measures (Lee et al. "
    f"exact substring dedup, applied): every {SPAN_WORDS}-word span "
    f"occurring verbatim in 2+ documents elects its lowest-doc_id "
    f"occurrence as the keeper; every other document drops ALL "
    f"tokens covered by a non-keeper occurrence, and the surviving "
    f"tokens re-stitch in order into the cleaned text a downstream "
    f"tokenizer would actually consume. Overlapping spans with "
    f"different keepers compose at TOKEN granularity (a token "
    f"survives iff no removing span covers it), so the rewrite is "
    f"order-free and idempotent. Scale shape: gram election is one "
    f"keyed groupBy (long spans are rare by construction), coverage "
    f"is the bounded {SPAN_WORDS}x positional fan-out, survivorship "
    f"is a keyed (doc, idx) anti-join, and the re-stitch is a "
    f"per-document bounded array_sort — the same per-doc-array class "
    f"as the packing/vocab operators; nothing global, nothing "
    f"quadratic. The q113 span_grams fragment is shared, so running "
    f"the report and the rewrite together builds the index once.",
)
def q219_span_removal_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).cast("long").alias("n"),
    )
    tok = t.select(
        "doc_id", F.posexplode("toks").alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).cast("long").alias("idx"), "tok")
    grams = t.select(
        "doc_id",
        F.posexplode(shingles_from_tokens(F.col("toks"), SPAN_WORDS)).alias(
            "pos0", "gram"
        ),
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "gram")
    grams = fragment(spark, sf_dir, "span_grams", lambda: grams)
    dup = (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("nd") >= 2)
        .select("gram", "keeper")
    )
    rem = (
        grams.join(dup, "gram")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id", "pos")
    )
    cov = rem.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + (SPAN_WORDS - 1))
        ).alias("idx"),
    ).distinct()
    kept = tok.join(cov, ["doc_id", "idx"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("clean_text"),
    )
    return (
        t.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            (F.col("n") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q221 — negative-sampling table (unigram^0.75, largest-remainder slots)
# ---------------------------------------------------------------------------

#: slot-table size for the negative-sampling distribution (word2vec's
#: classic 1e8 scaled to test data; any power of two works)
NEG_TABLE_SIZE = 1_048_576


@register(
    "q221_negative_sampling_table",
    f"""
    WITH tok AS (
      SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
    ),
    c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token),
    w AS (
      SELECT token, cnt,
             CAST(ROUND(SQRT(SQRT(CAST(cnt AS DOUBLE) * cnt * cnt))
                        * 1000000) AS BIGINT) AS weight_e6
      FROM c
    ),
    tot AS (SELECT CAST(SUM(weight_e6) AS BIGINT) AS wsum FROM w),
    base AS (
      SELECT token, cnt, weight_e6,
             ({NEG_TABLE_SIZE} * weight_e6) // wsum AS s,
             ({NEG_TABLE_SIZE} * weight_e6) % wsum AS r
      FROM w, tot
    ),
    d AS (SELECT CAST({NEG_TABLE_SIZE} - SUM(s) AS BIGINT) AS deficit FROM base),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY r DESC, token) AS rk FROM base
    )
    SELECT token, cnt, weight_e6,
           CAST(s + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
             AS slots
    FROM rk, d
    ORDER BY token
    """,
    doc=f"word2vec-style negative-sampling table: each vocabulary "
    f"token gets slots in a {NEG_TABLE_SIZE}-entry lookup table "
    f"proportional to count^0.75 (the flattened unigram noise "
    f"distribution), allocated by LARGEST-REMAINDER apportionment so "
    f"the slot counts sum to the table size EXACTLY. Every step is "
    f"integer-exact cross-engine: count^0.75 = sqrt(sqrt(count^3)), "
    f"with the cube computed IN DOUBLE on both sides (never BIGINT, "
    f"which Spark non-ANSI would silently wrap past cnt~2.1M while "
    f"DuckDB errors — ADVICE r7). Double multiplication is IEEE "
    f"correctly-rounded, so both engines get the same bits at ANY "
    f"magnitude; for cnt^3 < 2^53 (cnt < ~208k) the cube is exact. "
    f"sqrt is IEEE correctly-rounded in both engines, snapped to "
    f"1e-6 fixed point, base slots and remainders via BIGINT div/mod "
    f"against "
    f"the exact weight total, and the +1 top-up ranked by (exact "
    f"integer remainder DESC, token) — no float sum, no pow(), no "
    f"tie on a double anywhere. Scale shape: one token groupBy, a "
    f"broadcast 1-row total, and a vocabulary-sized global rank "
    f"through the range-partitioned two-phase runner (a vocabulary "
    f"is bounded, but nothing here assumes it fits one task).",
)
def q221_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = c.withColumn(
        "weight_e6",
        F.round(
            F.sqrt(F.sqrt(F.col("cnt").cast("double") * F.col("cnt") * F.col("cnt")))
            * 1_000_000
        ).cast("long"),
    )
    tot = w.agg(F.sum("weight_e6").alias("wsum"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "token", "cnt", "weight_e6",
        F.expr(f"({NEG_TABLE_SIZE} * weight_e6) div wsum").alias("s"),
        F.expr(f"({NEG_TABLE_SIZE} * weight_e6) % wsum").alias("r"),
    )
    d = base.agg(
        (F.lit(NEG_TABLE_SIZE) - F.sum("s")).cast("long").alias("deficit")
    )
    rk = with_global_order(
        base, [("r", "desc"), "token"], rank="rk",
        boundary_key=(sf_dir, "q221"),
    )
    return (
        rk.crossJoin(F.broadcast(d))
        .select(
            "token", "cnt", "weight_e6",
            (
                F.col("s")
                + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)
            ).cast("long").alias("slots"),
        )
        .orderBy("token")
    )


# ---------------------------------------------------------------------------
# q223 — Neyman-optimal annotation-budget allocation per source
# ---------------------------------------------------------------------------

#: total annotation budget to allocate across strata
NEYMAN_BUDGET = 1_000


@register(
    "q223_neyman_allocation",
    f"""
    WITH s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sx,
             SUM(CAST(n_chars AS BIGINT) * n_chars) AS sx2h
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_docs, sx, CAST(sx2h AS BIGINT) AS sx2,
             CAST(ROUND(SQRT(GREATEST(
                      CAST(n_docs AS DOUBLE) * CAST(sx2h AS DOUBLE)
                      - CAST(sx AS DOUBLE) * sx, 0))
                        * 1000) AS BIGINT) AS weight_e3
      FROM s
    ),
    tot AS (SELECT CAST(SUM(weight_e3) AS BIGINT) AS wsum FROM w),
    base AS (
      SELECT source, n_docs, sx, sx2, weight_e3,
             ({NEYMAN_BUDGET} * weight_e3) // wsum AS a,
             ({NEYMAN_BUDGET} * weight_e3) % wsum AS r
      FROM w, tot
    ),
    d AS (SELECT CAST({NEYMAN_BUDGET} - SUM(a) AS BIGINT) AS deficit FROM base),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY r DESC, source) AS rk FROM base
    )
    SELECT source, n_docs, sx, sx2, weight_e3,
           CAST(a + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM rk, d
    ORDER BY source
    """,
    doc=f"Neyman-optimal allocation of an annotation budget "
    f"({NEYMAN_BUDGET} labels) across source strata: stratum h gets "
    f"n_h proportional to N_h * S_h (size times within-stratum "
    f"standard deviation of the document-length response), the "
    f"allocation that minimizes the variance of the stratified "
    f"estimator — how an eval/labeling loop spends its budget where "
    f"the corpus is most heterogeneous instead of uniformly. "
    f"Integer-exact cross-engine: N_h*S_h = sqrt(N_h*SUM(x^2) - "
    f"SUM(x)^2) with the radicand computed IN DOUBLE on both sides "
    f"(never BIGINT, which Spark non-ANSI would silently wrap past "
    f"~3e9 summed chars per source while DuckDB errors — ADVICE r7; "
    f"the N_h cancellation avoids any float mean), and SUM(x^2) "
    f"itself summed WIDE (Spark DECIMAL(38,0) / DuckDB HUGEINT, "
    f"exact to 1e38) so the weight never rides a wrapped 64-bit sum "
    f"either (ADVICE r8 — the published sx2 column stays BIGINT and "
    f"is exact iff SUM(n_chars^2) < 2^63; past that it goes null/"
    f"error, never silently wrong). CONSUMER CONTRACT: a null sx2 "
    f"means OVERFLOW (the exact sum passed 2^63), not missing data; "
    f"and should even the DECIMAL(38,0)/HUGEINT sum overflow "
    f"(SUM(n_chars^2) >= 1e38 — under ANSI Spark and DuckDB both "
    f"error loudly first), weight_e3 and alloc are gated to null for "
    f"that stratum rather than collapsing to a silent zero "
    f"allocation (ADVICE r9). Double "
    f"multiply/subtract are IEEE correctly-rounded, so both engines "
    f"get the same bits at ANY magnitude, and for products < 2^53 "
    f"the radicand is exact; GREATEST(.,0) pins the tiny-negative "
    f"rounding case identically. sqrt IEEE correctly-rounded, "
    f"snapped to 1e-3, and the budget "
    f"apportioned by the same largest-remainder integer div/mod as "
    f"q221 so allocations sum to the budget EXACTLY. One groupBy "
    f"over the corpus, a broadcast 1-row total, a strata-sized "
    f"two-phase rank — nothing global at any corpus size.",
)
def q223_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # sx2 is summed in DECIMAL(38,0) (DuckDB: HUGEINT), not LONG: a
    # LONG sum of per-row squares silently wraps in Spark non-ANSI once
    # SUM(n_chars^2) passes 2^63 (~920 docs of 100M chars) while the
    # oracle errors — the same wrap class the r7 radicand fix closed,
    # one level up (ADVICE r8). The weight derives from the exact wide
    # sum; the published sx2 COLUMN stays BIGINT for schema continuity
    # and is exact iff SUM(n_chars^2) < 2^63 (past it: Spark null /
    # DuckDB error — never a silently wrong allocation).
    sq = F.col("n_chars").cast("decimal(19,0)")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sx"),
        F.sum(sq * sq).alias("sx2_exact"),
    )
    w = s.select(
        "source", "n_docs", "sx",
        # try_cast: a plain decimal->long cast THROWS on overflow even
        # in non-ANSI mode, killing the whole query for one oversized
        # stratum; null-past-the-bound is the declared contract
        F.col("sx2_exact").try_cast("long").alias("sx2"),
        # gate on sx2_exact NOT NULL: if even the DECIMAL(38,0) sum
        # overflows (SUM(n_chars^2) >= 1e38) Spark non-ANSI nulls it,
        # and GREATEST skips nulls, so without the gate the weight
        # would silently collapse to 0 — the one path that violated
        # the "null/error, never silently wrong" contract (ADVICE r9;
        # DuckDB errors loudly at the HUGEINT bound instead)
        F.when(
            F.col("sx2_exact").isNotNull(),
            F.round(
                F.sqrt(
                    F.greatest(
                        F.col("n_docs").cast("double")
                        * F.col("sx2_exact").cast("double")
                        - F.col("sx").cast("double") * F.col("sx"),
                        F.lit(0.0),
                    )
                )
                * 1_000
            ).cast("long"),
        ).alias("weight_e3"),
    )
    tot = w.agg(F.sum("weight_e3").alias("wsum"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "sx", "sx2", "weight_e3",
        F.expr(f"({NEYMAN_BUDGET} * weight_e3) div wsum").alias("a"),
        F.expr(f"({NEYMAN_BUDGET} * weight_e3) % wsum").alias("r"),
    )
    d = base.agg(
        (F.lit(NEYMAN_BUDGET) - F.sum("a")).cast("long").alias("deficit")
    )
    rk = with_global_order(
        base, [("r", "desc"), "source"], rank="rk",
        boundary_key=(sf_dir, "q223"),
    )
    return (
        rk.crossJoin(F.broadcast(d))
        .select(
            "source", "n_docs", "sx", "sx2", "weight_e3",
            (
                F.col("a")
                + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)
            ).cast("long").alias("alloc"),
        )
        .orderBy("source")
    )
