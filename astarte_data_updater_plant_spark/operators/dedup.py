"""Deduplication operators over the documents table.

The pretraining-corpus dedup ladder, each stage designed for 100 TB:

- exact dedup: hash-groupBy on md5(text) — one shuffle on the hash,
  map-side partial aggregation, no driver state.
- MinHash + LSH near-dup: distinct (doc, 3-word shingle) -> one md5
  base hash per shingle -> 8 MinHash coordinates via integer
  permutations (a*h+b) % P -> 4 bands of 2 -> band
  equality join generates candidates -> exact shingle-set Jaccard
  verifies candidates only. Candidate generation never compares all
  pairs: the only joins are equi-joins on band signatures and
  shingles, both shuffle-partitioned by key.

Shingling (not single tokens) is load-bearing at scale: a small
vocabulary makes token SETS collide pathologically (measured on the
synthetic corpus: a 31-word vocabulary put 3k of 5k docs in one LSH
bucket -> O(n^2) candidates; 3-word shingles cap buckets at ~8).

The md5-seeded universal-hash family ((a*h32+b) % P over the first 32
bits of md5) keeps every stage bit-identical to the DuckDB oracle
while hashing each shingle only once.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ranks import with_global_order
from ..functions.skew import guarded_self_pairs
from ..functions.text import (
    MINHASH_PERMS,
    MINHASH_PRIME,
    minhash_perm,
    shingle_h32,
    shingles_from_tokens,
)
from ..plans.fragments import fragment, input_signature
from ..plans.registry import register
from ..sources.tables import load_table

N_HASHES = 8
N_BANDS = 4  # rows per band = N_HASHES // N_BANDS = 2

# q44 character-n-gram Jaccard knobs: 16-char grams are long enough to
# be rare (median df 4 on the synthetic corpus); the document-frequency
# cap bounds every inverted-list bucket, so candidate generation is
# O(sum df^2) instead of O(n^2) — the classic stop-shingle filter.
NGRAM_LEN = 16
NGRAM_DF_MAX = 10
NGRAM_JACCARD_MIN = 0.5


# ---------------------------------------------------------------------------
# Scale-adaptive partition pin for the array-carrying verify joins (r14)
# ---------------------------------------------------------------------------

#: target in-memory (Tungsten) bytes per verify-join task. AQE sizes a
#: reduce stage from its COMPRESSED shuffle INPUT (64 MB advisory,
#: capped at initialPartitionNum) and is blind to the stage's OUTPUT:
#: the verify joins read compact (doc_a, doc_b) pairs but attach the
#: pinned shingle ARRAYS, whose Tungsten rows inflate ~5x over the
#: compressed wire format — measured at q199 R=30 (r14 re-probe,
#: matching the r13 attribution): the 35-task stage that attaches sh_a
#: and shuffle-writes by doc_b reads 104.2M compact rows, writes
#: 104.0M array rows (9.05 GB compressed, ~52 GB Tungsten) and spills
#: 51.8 GB — ~1.5 GB/task of paging against a ~220 MB/task pool share
#: (12g driver, 32 concurrent tasks). 128 MB/task keeps every verify
#: stage under the share with 2x headroom (guide SS5 "more partitions
#: (smaller per-task state)"; SS2.5 partitioning derived from input
#: size, not a constant).
VERIFY_TASK_BYTES = 128 << 20

#: hard ceiling on the pin (tasks): far above any measured need
#: (q199's R=100 estimate is ~1.3k) while bounding the M x R shuffle
#: block count (guide SS2.2)
VERIFY_PIN_MAX = 4096

#: measured Tungsten expansion of q199's verify stage per byte of
#: documents parquet, calibrated on the replicated bench corpus family
#: (the series BENCH_SCALING tracks): ~52 GB at R=30 over 18.6 MB of
#: documents (C ~= 2800). The estimate only sizes TASKS — a 2-3x
#: miscalibration on another corpus still yields per-task buffers
#: within a small multiple of the target, versus the unpinned plan's
#: measured 1.5 GB/task. The q42 family carries no pin: its estimated
#: engage point (~R>=70 of the bench corpus) sits past every measured
#: scale, and the q204 finding (OPTIMIZATION_r14.md) shows verify
#: joins can stream-execute at large set sizes — a pin there would
#: force an exchange the streaming plan never pays.
VERIFY_EXPANSION_Q199 = 2800


def _docs_bytes(sf_dir: str) -> int:
    """On-disk bytes of the documents table — plan-time scale signal,
    summed from the memo's input-signature walk (filesystem metadata
    only, no Spark action)."""
    return sum(
        size
        for rel, size, _mtime in input_signature(sf_dir)
        if rel.split(os.sep)[0] == "documents.parquet"
        and not os.path.basename(rel).startswith(("_", "."))
    )


def _verify_pin(spark: SparkSession, sf_dir: str) -> int | None:
    """Partition count for q199's verify joins at this data scale, or
    None when the default AQE posture already suffices.

    Engages ONLY past the session's initialPartitionNum — below it the
    returned plan is byte-identical to the unpinned one (bench and
    parity scales never pin), above it a user-specified repartition is
    exempt from AQE coalescing, so the join runs at a task count sized
    to the stage's OUTPUT instead of its compressed input. Broadcast
    interplay is safe by construction: at every engage scale the sets
    side is far past the 10 MB adaptive broadcast threshold, so the
    joins are exchange-based with or without the pin — the repartition
    replaces an exchange, never adds one."""
    est = _docs_bytes(sf_dir) * VERIFY_EXPANSION_Q199
    n = int(math.ceil(est / VERIFY_TASK_BYTES))
    try:
        initial = int(
            spark.conf.get(
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
            )
        )
    except Exception:
        initial = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if n <= initial:
        return None
    return min(n, VERIFY_PIN_MAX)


@register(
    "q40_exact_dedup",
    """
    SELECT
      md5(text) AS text_hash,
      COUNT(*) AS n_copies,
      MIN(doc_id) AS canonical_doc
    FROM documents
    GROUP BY md5(text)
    ORDER BY text_hash
    """,
    doc="Exact dedup: content-hash groupBy; min(doc_id) elects the "
    "canonical copy. One shuffle on the 128-bit hash — uniform keys, "
    "no skew, scales linearly.",
)
def q40_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("canonical_doc"))
        .orderBy("text_hash")
    )


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles: array<bigint>) — the distinct 3-word shingle
    SET per document as 32-bit md5 hashes (the shared shingle_h32
    family), kept as an array column. Everything downstream (MinHash,
    band keys, exact Jaccard) computes over the array with
    higher-order functions, so signature generation is a pure map with
    ZERO shuffles — at 100 TB that removes a 50x-row explode and a
    groupBy of the entire shingle stream. Shingles ride as 8-byte
    longs, not ~24-byte strings: the pinned fragment, the verify-join
    shuffles, and the q108 inverted index all carry ~3x fewer bytes.
    Parity with the oracle is EXACT, not approximate — the oracle's
    tok CTE (_SH_SQL) hashes with the same function, so a rare 32-bit
    collision merges the same two shingles on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", F.split("text", " ").alias("toks"))
    # no row filter here: a deterministic filter on the computed array
    # gets pushed below the repartition with split() fully inlined and
    # runs the whole shingle expression serially on the raw scan
    # (measured 10x). Degenerate docs yield an empty array, which every
    # consumer already treats as "no shingles".
    return toked.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.array_distinct(shingles_from_tokens(F.col("toks"), 3)),
                shingle_h32,
            )
        ).alias("shingles"),
        # token count rides along (r13): the split is already in hand
        # here, so size() is free — and q47's election then reads
        # n_tokens off this pinned fragment instead of re-scanning and
        # re-tokenizing the whole documents table (guide SS2.4: one
        # pass serves every consumer). Exactly functions/text.n_tokens
        # (size(split(text,' ')) cast long), so the election's values
        # are bit-identical.
        F.size("toks").cast("long").alias("n_tokens"),
    )


def _banded_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, bkey) — the LSH band keys for every document.

    One (band, bkey) row per band via a single explode — a per-band
    union would re-evaluate the whole MinHash transform once per
    branch (measured 3x slower at sf0.1). Shared as the ``lsh_banded``
    fragment by q42 (self-join near-dup) and q190 (cross-set
    decontamination join).
    """
    sig = minhash_signatures(spark, sf_dir)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                # concat (NOT concat_ws): a <3-token doc has null
                # minhashes, and concat_ws would SKIP the nulls and
                # give every such doc the same "" band key — all empty
                # docs become mutual candidates and the exact-Jaccard
                # verify divides by their 0-size union. concat
                # null-propagates, matching the oracle's `h || ':' || h`
                # exactly: null band keys never equi-join.
                F.concat(
                    F.col(f"h{2 * b}").cast("string"),
                    F.lit(":"),
                    F.col(f"h{2 * b + 1}").cast("string"),
                ).alias("bkey"),
            )
            for b in range(N_BANDS)
        ]
    )
    return (
        sig.select("doc_id", "n_sh", F.explode(band_structs).alias("bb"))
        .select(
            "doc_id",
            F.col("bb.band").alias("band"),
            F.col("bb.bkey").alias("bkey"),
            "n_sh",
        )
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded (doc_id, shingle, n_sh) view, for consumers that need
    the inverted-index form; n_sh (the doc's set size) rides along for
    size-compatibility filters inside candidate joins."""
    return _shingle_sets(spark, sf_dir).select(
        "doc_id",
        F.explode("shingles").alias("shingle"),
        F.size("shingles").alias("n_sh"),
    )


def _int32_shingles() -> Column:
    """The ``shingles`` array with 4-byte elements, for the exact-verify
    joins of q42, q199 and q204. Shingle hashes are 32-bit values
    (``shingle_h32``) held in array<bigint>, so x -> (x - 2^31) cast to
    int is a bijection: array_intersect sizes, and hence every Jaccard
    and containment score, are unchanged, while the array-carrying
    verify rows pack at half the bytes (Q199_CANDGEN_AB_r11.json,
    Q45_COMPONENTS_AB_r12.json, Q204_ATTRIB_AB_r13.json)."""
    return F.transform("shingles", lambda x: (x - F.lit(2147483648)).cast("int"))


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h7): 8 min-wise hashes over the shingle set —
    array_min over a transform, per row, shuffle-free.

    md5 runs ONCE per shingle (the h32 base hash lives inside
    _shingle_sets' own projection, so CollapseProject can't inline it
    8x); each coordinate is then an integer permutation (a*h+b) % P of
    that base array — hashing cost is 1/8th of an md5-per-(seed,
    shingle) family, with the same min-wise guarantees.
    """
    sa = _shingle_sets(spark, sf_dir)
    hashed = sa.select("doc_id", F.col("shingles").alias("hs"))
    cols = [
        F.array_min(F.transform(F.col("hs"), minhash_perm(i))).alias(f"h{i}")
        for i in range(N_HASHES)
    ]
    # a doc with <3 tokens would yield a null signature; null band
    # keys never equi-join, so such docs simply produce no candidates.
    # n_sh (the shingle-set size) rides along for the AllPairs length
    # filter in the band self-join — free here, where the set array is
    # already in hand.
    return hashed.select("doc_id", *cols, F.size("hs").alias("n_sh"))


_SHINGLE_LIST_SQL = (
    "list_distinct(list_transform("
    "range(1, greatest(len(string_split(text,' ')) - 1, 1)), "
    "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]"
    " || ' ' || string_split(text,' ')[i+2]))"
)
#: oracle twin of _shingle_sets: DISTINCT 32-bit md5 hashes per doc —
#: the same shingle_h32 family as the Spark side, so parity is exact
#: even under a hash collision (both engines merge the same shingles).
_SH_STR_SQL = (
    f"SELECT doc_id, unnest({_SHINGLE_LIST_SQL}) AS shingle FROM documents"
)
_SH_SQL = (
    "SELECT DISTINCT doc_id, "
    "('0x' || substr(md5(shingle),1,8))::BIGINT AS shingle "
    f"FROM ({_SH_STR_SQL})"
)
_H32_SQL = f"SELECT doc_id, shingle AS h32 FROM ({_SH_SQL})"
_SIG_SQL = (
    "SELECT doc_id, "
    + ", ".join(
        f"min(({a} * h32 + {b}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    + f" FROM ({_H32_SQL}) GROUP BY doc_id"
)


@register(
    "q41_minhash_signatures",
    f"""
    WITH sig AS ({_SIG_SQL})
    SELECT doc_id, {", ".join(f"h{s}" for s in range(N_HASHES))},
           h0 || ':' || h1 AS band0, h2 || ':' || h3 AS band1,
           h4 || ':' || h5 AS band2, h6 || ':' || h7 AS band3
    FROM documents LEFT JOIN sig USING (doc_id)
    ORDER BY doc_id
    """,
    doc="MinHash signature + LSH band keys per document: one md5 base "
    "hash per distinct 3-word shingle, 8 integer-permutation min-wise "
    "coordinates, banded 4x2. A <3-token doc keeps its row with a NULL "
    "signature and NULL band keys (nulls never equi-join, so it can "
    "never become a candidate downstream) — stated via LEFT JOIN in "
    "the oracle rather than a Spark-side h0 IS NOT NULL filter, "
    "because a filter on the computed signature gets pushed below "
    "load_table's parallelizing repartition and re-evaluates the "
    "whole MinHash expression serially on the raw scan (measured 20x "
    "at sf0.1). Signature generation is a pure map — zero shuffles.",
)
def q41_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = minhash_signatures(spark, sf_dir)
    for b in range(N_BANDS):
        sig = sig.withColumn(
            f"band{b}",
            # null-propagating concat — see _banded_frame: concat_ws
            # would diverge from the oracle's `||` on <3-token docs
            F.concat(
                F.col(f"h{2 * b}").cast("string"),
                F.lit(":"),
                F.col(f"h{2 * b + 1}").cast("string"),
            ),
        )
    return sig.select(
        "doc_id",
        *[f"h{i}" for i in range(N_HASHES)],
        *[f"band{b}" for b in range(N_BANDS)],
    ).orderBy("doc_id")


# The full LSH near-dup pair derivation as oracle SQL CTEs, shared by
# q42 (pairs) and q45 (connected components over the pairs).
_NEAR_DUP_CTES_SQL = f"""
    sig AS ({_SIG_SQL}),
    banded AS (
      SELECT doc_id, band, bkey FROM (
        SELECT doc_id,
               0 AS band, h0 || ':' || h1 AS bkey FROM sig
        UNION ALL SELECT doc_id, 1, h2 || ':' || h3 FROM sig
        UNION ALL SELECT doc_id, 2, h4 || ':' || h5 FROM sig
        UNION ALL SELECT doc_id, 3, h6 || ':' || h7 FROM sig
      ) u
    ),
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    tok AS ({_SH_SQL}),
    tok_counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM tok GROUP BY doc_id),
    shared AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
      FROM candidates c
      JOIN tok ta ON ta.doc_id = c.doc_a
      JOIN tok tb ON tb.doc_id = c.doc_b AND tb.shingle = ta.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    near_dup_pairs AS (
      SELECT s.doc_a, s.doc_b,
             CAST(s.n_shared AS DOUBLE) / (ca.n_sh + cb.n_sh - s.n_shared) AS jaccard
      FROM shared s
      JOIN tok_counts ca ON ca.doc_id = s.doc_a
      JOIN tok_counts cb ON cb.doc_id = s.doc_b
      WHERE CAST(s.n_shared AS DOUBLE) / (ca.n_sh + cb.n_sh - s.n_shared) >= 0.5
    )
"""


@register(
    "q42_lsh_near_dup_pairs",
    f"""
    WITH {_NEAR_DUP_CTES_SQL}
    SELECT doc_a, doc_b, jaccard FROM near_dup_pairs
    ORDER BY doc_a, doc_b
    """,
    doc="Near-dup detection, full LSH topology: band-key equi-join "
    "generates candidate pairs (never all-pairs), exact shingle-set "
    "Jaccard (int arithmetic, hash-stable) verifies, threshold 0.5. "
    "At 100 TB each stage remains a keyed shuffle; band-bucket sizes "
    "stay bounded because identical shingle signatures imply "
    "near-identical documents. The verify arrays ride as "
    "int-narrowed 4-byte elements (a lossless bijection on the 32-bit "
    "shingle hashes), which cut the q47 consumer's verify-shuffle "
    "spill from ~43 GB/run to zero at wall parity at R=30 "
    "(Q45_COMPONENTS_AB_r12.json).",
)
def q42_lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # declared output = the verified pairs in (doc_a, doc_b) order; the
    # deterministic sort exists ONLY for the declared result. Internal
    # consumers (q45/q224 label propagation, q128/q144/q191 joins and
    # aggregations) take _near_dup_pairs instead: r13 measured that the
    # orderBy SURVIVES into their materializations (EliminateSorts does
    # not fire across the union/localCheckpoint boundary), so every
    # cold component build was paying a range exchange + full sort of
    # the pair set for an ordering the next operator destroys
    # (guide SS2.4: "an orderBy used only to make output deterministic").
    return _declared_pair_order(_near_dup_pairs(spark, sf_dir), "doc_a", "doc_b")


def _declared_pair_order(df: DataFrame, *cols: str) -> DataFrame:
    """Deterministic declared ordering WITHOUT re-executing the verify
    reduce underneath it.

    ``orderBy`` is a range exchange, and building its RangePartitioner
    SAMPLES the child RDD in a separate job before the real pass — when
    the child is an expensive reduce (the array-carrying verify
    SortMergeJoin), the whole reduce runs TWICE per action. That is not
    a theory: the r13 scale artifacts show the signature directly —
    q204 at R=80 has two 256-task stages EACH reading the identical
    721.6M-record verify shuffle (spilling 418 + 353 GB), and q199 at
    R=100 two stages each reading 347.3M records (214 + 214 GB); the
    map-side shuffles are reused between the passes, the reduce-side
    join + sort + filter is not (BENCH_SCALING_r13.json). Cutting the
    lineage with a LAZY localCheckpoint materializes the verified pairs
    exactly once (the first action computes them; Spark checkpoints an
    RDD at the end of the first job that computes it), and the range
    sampler then reads the tiny checkpointed pair set instead of
    re-running the verify join. Guide SS2.4 ("an orderBy used only to
    make output deterministic") + SS3.3 (materialize to truncate a
    plan). Rows, schema, and the (unique-keyed, hence total) declared
    order are unchanged; parity re-pinned at three scales (r14).
    Trade-off at cluster scale: a local checkpoint is not
    fault-tolerant — a lost executor fails the job instead of
    recomputing lineage — the same trade the label-propagation loop
    and the fragment pins already make."""
    return df.localCheckpoint(eager=False).orderBy(*cols)


def _near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shingle sets and band keys are pinned fragments: the self-join
    # reads both sides of each, and q45/q47 re-derive from q42 — one
    # materialization serves every consumer in the application
    sa = fragment(
        spark, sf_dir, "shingle_sets", lambda: _shingle_sets(spark, sf_dir)
    )
    banded = fragment(
        spark, sf_dir, "lsh_banded", lambda: _banded_frame(spark, sf_dir)
    )
    # skew-guarded candidate self-join (functions/skew.py): buckets past
    # the cap — a boilerplate shingle shared corpus-wide — get the salted
    # split instead of one straggler task; same pairs, so the oracle's
    # plain self-join is unchanged. The probe aggregates the PINNED
    # fragment, so its materialization cost is the same one the main
    # job pays anyway (a 1/8-sample rebuild was measured SLOWER cold:
    # the fragment gets materialized regardless, so sampling only adds
    # compute).
    # AllPairs length filter INSIDE the band self-join (Bayardo et al.
    # WWW'07): J(A,B) >= 0.5 forces 2*min(|A|,|B|) >= max(|A|,|B|), so
    # size-incompatible collisions (a tweet sharing one band with a
    # page) are dropped before the pair ever materializes — measured
    # ~12.7M -> far fewer candidates at the 10x scale point, which is
    # shed directly off the array-carrying verify shuffle. Lossless,
    # so the oracle's plain self-join is unchanged.
    candidates = guarded_self_pairs(
        banded, ["band", "bkey"], "doc_id",
        probe_key=(sf_dir, "lsh_banded"),
        pair_cond=(2 * F.col("a.n_sh") >= F.col("b.n_sh"))
        & (2 * F.col("b.n_sh") >= F.col("a.n_sh")),
    )
    # exact verify: fetch the two shingle SETS per candidate pair and
    # intersect them as arrays — candidate count is tiny relative to
    # the corpus, so carrying the arrays through two keyed joins beats
    # re-exploding the whole shingle stream
    sh_verify = _int32_shingles()
    sets_a = sa.select(F.col("doc_id").alias("doc_a"), sh_verify.alias("sh_a"))
    sets_b = sa.select(F.col("doc_id").alias("doc_b"), sh_verify.alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    return (
        candidates.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


#: grams ride as 32-bit md5 hashes (the shared shingle_h32 family), not
#: strings: the inverted index carries 8-byte longs instead of
#: ~16-byte strings — ~3x less cached/shuffled bytes for the
#: heaviest dedup stage (the R=10 scaling run spent its spread on this
#: fragment's memory pressure). Parity is EXACT, not approximate: both
#: engines hash with the same function, so a rare 32-bit collision
#: merges the same two grams on both sides.
_GRAMS_SQL = f"""
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(substr(text, i, {NGRAM_LEN})), 1, 8))::BIGINT AS gram
  FROM (
    SELECT doc_id, text,
           unnest(range(1, len(text) - {NGRAM_LEN} + 2)) AS i
    FROM documents WHERE len(text) >= {NGRAM_LEN}
  )
"""


@register(
    "q44_ngram_jaccard_pairs",
    f"""
    WITH grams AS ({_GRAMS_SQL}),
    df AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram),
    rare AS (
      SELECT g.doc_id, g.gram FROM grams g JOIN df USING (gram)
      WHERE df BETWEEN 2 AND {NGRAM_DF_MAX}
    ),
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rare a JOIN rare b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    shared AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
      FROM candidates c
      JOIN grams ga ON ga.doc_id = c.doc_a
      JOIN grams gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT s.doc_a, s.doc_b,
           CAST(s.n_shared AS DOUBLE) / (sa.n + sb.n - s.n_shared) AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_a
    JOIN sizes sb ON sb.doc_id = s.doc_b
    WHERE CAST(s.n_shared AS DOUBLE) / (sa.n + sb.n - s.n_shared)
          >= {NGRAM_JACCARD_MIN}
    ORDER BY doc_a, doc_b
    """,
    doc="Character-n-gram Jaccard near-dup: inverted-index candidate "
    "generation restricted to rare grams (df cap = stop-shingle "
    "filter), exact gram-set Jaccard verification on candidates only. "
    "Every stage is a keyed equi-join/groupBy; the df cap bounds "
    "bucket fan-out, so no stage degrades to all-pairs at scale.",
)
def q44_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= NGRAM_LEN
    )
    # One row per DOC with the distinct gram-hash ARRAY, not one row
    # per (doc, gram): verification below is array_intersect against
    # this frame, so the pinned fragment is the array form and the
    # exploded inverted index is derived from it. At the 10x scaling
    # point the old explode-join-groupBy verify (candidates joined
    # back to the full gram stream twice, then re-aggregated) was the
    # single heaviest shuffle in the repo (~260s); two hash joins to
    # doc-level arrays plus a per-row intersect replace it outright.
    gram_sets = fragment(
        spark,
        sf_dir,
        "char_ngram_sets",
        lambda: docs.select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    F.expr(
                        f"transform(sequence(1, length(text) - {NGRAM_LEN - 1}),"
                        f" i -> substring(text, i, {NGRAM_LEN}))"
                    ),
                    shingle_h32,
                )
            ).alias("grams"),
        ).select("doc_id", "grams", F.size("grams").alias("n")),
    )
    grams = gram_sets.select("doc_id", F.explode("grams").alias("gram"))
    df = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    rare_grams = df.filter(
        (F.col("df") >= 2) & (F.col("df") <= NGRAM_DF_MAX)
    ).select("gram")
    rare = grams.join(rare_grams, "gram")
    a = rare.select(F.col("doc_id").alias("doc_a"), "gram")
    b = rare.select(F.col("doc_id").alias("doc_b"), "gram")
    candidates = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets_a = gram_sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("grams").alias("g_a"),
        F.col("n").alias("na"),
    )
    sets_b = gram_sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("grams").alias("g_b"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect(F.col("g_a"), F.col("g_b")))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        candidates.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .filter(jac >= NGRAM_JACCARD_MIN)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# Transitive closure over the near-dup pair graph as oracle CTEs
# (requires WITH RECURSIVE), shared by q45 (components) and q47
# (canonical-doc election).
_COMPONENT_CTES_SQL = """
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM near_dup_pairs
      UNION
      SELECT doc_b, doc_a FROM near_dup_pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS component_id
      FROM reach GROUP BY a
    )
"""


def _min_label_propagation(pairs: DataFrame) -> DataFrame:
    """Connected-component labels for an undirected edge list.

    ``pairs`` is any two-column (a, b) pair frame; returns
    ``(doc_id, label)`` where label = the component's min node id.
    The plan is q45's Pregel-style iterative min-label propagation
    with pointer-jumping (label := label-of-label per round), i.e.
    O(log n) rounds of pure keyed equi-joins with the lineage cut by
    localCheckpoint each round — no driver-side graph, no quadratic
    closure. Shared by q45 (full corpus) and q224 (the reduced
    touched-components graph), so the incremental operator provably
    runs the SAME machinery on a much smaller input."""
    cols = pairs.columns
    edges = (
        pairs.union(pairs.select(cols[1], cols[0]))
        .toDF("src", "dst")
        .localCheckpoint(eager=False)
    )
    # Seed = one neighbor-min round fused into the vertex derivation:
    # label0 := min(self, neighbors) via a single groupBy over the
    # bidirectional edge list — the same shuffle the old
    # distinct-vertices seed paid, but it starts the loop one
    # propagation round ahead (the old identity seed's first iteration
    # recomputed exactly this groupBy before it could jump). The
    # fixpoint is unchanged — min-label propagation converges to the
    # component min from ANY monotone seed <= identity — so q45/q47
    # parity is untouched; only the round count (and its per-round
    # join+checkpoint+count actions) shrinks. r13 interleaved A/B
    # (AB_LABELPROP_r13.json, 4 alternating fresh-JVM reps): corpus
    # 0.751x median / 0.863x best-of, with the fused tree's raws far
    # tighter (spread 0.28s vs 2.97s — fewer actions, less scheduler
    # noise exposure); fully-cold q47 0.94x/1.05x (inside dispersion);
    # the code-untouched q204 control swung 1.17x in the same session,
    # which is the box's noise floor for the heavy probes.
    # LAZY checkpoint: Spark checkpoints an RDD at the end of the first
    # job that computes it, and the convergence probe's full aggregate
    # below computes every partition — so the sum probe and the
    # checkpoint materialization share ONE action per round instead of
    # the r13 shape's two (eager checkpoint job + probe job). Same
    # mechanism `edges` above already relies on; guide SS7.3 (driver
    # round trips) / SS1.2 (remove a pass). r14, VERDICT r13 ask #5.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_nbr_min"))
        .select(
            F.col("src").alias("doc_id"),
            F.least(F.col("src"), F.col("_nbr_min")).alias("label"),
        )
        .localCheckpoint(eager=False)
    )

    # Convergence probe: per-node labels are MONOTONE NON-INCREASING
    # across rounds (seed: label <= self; propagate: min over self and
    # neighbor labels; jump: label := label(label) and label(u) <= u),
    # and every round keeps the exact vertex set (the jump join's right
    # side covers all vertices, and label values are vertex ids). So
    # the label-table SUM strictly decreases iff ANY label changed —
    # comparing sums detects the fixpoint exactly. This replaces the
    # old probe (join the new table against the previous one on doc_id,
    # filter label != label, count: two more full label-table shuffles
    # per round) with one partially-aggregated pass over the table the
    # round just checkpointed (guide SS2.4: remove shuffles outright).
    # decimal(38,0) keeps the sum exact far past any feasible corpus
    # (sum of N int64 node ids overflows 10^38 only past ~10^19 docs).
    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = _label_sum(labels)
    for _ in range(32):  # safety bound far above log2(corpus)
        # propagate: every vertex takes the min label over itself and
        # its neighbors — one keyed equi-join + partial/final min agg
        nbr = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        prop = (
            labels.join(nbr, labels.doc_id == nbr.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                ).alias("label"),
            )
        )
        # pointer-jump: label := label(label), doubling the hop reach
        parent = prop.select(
            F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
        )
        # lazy: the sum probe below is the round's ONE action — it
        # computes every partition of the jumped table (a full
        # aggregate), which materializes the checkpoint as a side
        # effect (see the seed comment)
        jumped = (
            prop.join(parent, prop.label == parent.p_id)
            .select("doc_id", F.col("p_label").alias("label"))
            .localCheckpoint(eager=False)
        )
        new_sum = _label_sum(jumped)
        # exact change indicator (see the monotonicity argument above):
        # the label sum stops decreasing iff the round was a no-op
        delta = 0 if prev_sum is None else int(prev_sum - new_sum)
        labels = jumped
        prev_sum = new_sum
        if delta == 0:
            break
    return labels


@register(
    "q45_near_dup_components",
    f"""
    WITH RECURSIVE {_NEAR_DUP_CTES_SQL},
    {_COMPONENT_CTES_SQL}
    SELECT doc_id, component_id,
           COUNT(*) OVER (PARTITION BY component_id) AS component_size
    FROM comp
    ORDER BY doc_id
    """,
    doc="Dedup GROUPS, not just pairs: connected components over the "
    "LSH near-dup graph, so each cluster of mutual near-duplicates "
    "elects one canonical doc (the component min). Spark side is "
    "iterative min-label propagation with pointer-jumping "
    "(label := label-of-label each round), the Pregel-style plan that "
    "converges in O(log n) rounds of pure keyed equi-joins — no "
    "driver-side graph, no quadratic closure. Per round the lineage "
    "is cut with localCheckpoint so the plan stays bounded. The "
    "oracle states the same components via a recursive-CTE transitive "
    "closure, affordable at test scale only — which is exactly the "
    "point of the distributed formulation.",
)
def q45_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    def _labels() -> DataFrame:
        pairs = _near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
        return _min_label_propagation(pairs)

    # pinned: the iterative loop runs ACTIONS at build time, and four
    # consumers re-derive it per session (q45 itself, q47's election,
    # q198's funnel, q205's split) — one converged label table serves
    # them all
    labels = fragment(spark, sf_dir, "near_dup_component_labels", _labels)
    w = Window.partitionBy("component_id")
    return (
        labels.select("doc_id", F.col("label").alias("component_id"))
        .withColumn("component_size", F.count(F.lit(1)).over(w))
        .orderBy("doc_id")
    )


@register(
    "q47_dedup_keep_best",
    f"""
    WITH RECURSIVE {_NEAR_DUP_CTES_SQL},
    {_COMPONENT_CTES_SQL},
    lab AS (
      SELECT d.doc_id,
             COALESCE(c.component_id, d.doc_id) AS component_id,
             len(string_split(d.text, ' ')) AS n_tokens
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, component_id, n_tokens,
           (ROW_NUMBER() OVER (
              PARTITION BY component_id
              ORDER BY n_tokens DESC, doc_id) = 1) AS is_canonical
    FROM lab
    ORDER BY doc_id
    """,
    doc="The dedup ladder's final rung: corpus-wide canonical-doc "
    "election. Every document gets its near-dup component label "
    "(singletons label themselves — the left join keeps the whole "
    "corpus, not just paired docs), then ONE representative per "
    "component wins by content quality (most tokens, doc_id "
    "tie-break). Downstream training reads WHERE is_canonical. The "
    "election is a row_number window over the component key — one "
    "shuffle after the component labels exist; no per-group collect, "
    "no driver-side anything, so it scales with the corpus.",
)
def q47_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = q45_near_dup_components(spark, sf_dir).select("doc_id", "component_id")
    # r13: the docs side reads (doc_id, n_tokens) off the pinned
    # shingle_sets fragment — the fragment's tokenize pass (which q42's
    # pair pipeline materializes anyway on every cold build) already
    # computed size(split(text,' ')), so the election drops its own
    # full documents scan + re-split + round-robin exchange (plan nodes
    # 1-3 of plans/r13/q47_dedup_keep_best_before.txt). The fragment
    # covers ALL docs (degenerate texts keep an empty shingle array),
    # so left-join semantics for singletons are unchanged.
    docs = fragment(
        spark, sf_dir, "shingle_sets", lambda: _shingle_sets(spark, sf_dir)
    ).select("doc_id", "n_tokens")
    lab = (
        docs.join(comp, "doc_id", "left")
        .withColumn("component_id", F.coalesce("component_id", "doc_id"))
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("n_tokens").desc(), "doc_id"
    )
    return (
        lab.select(
            "doc_id",
            "component_id",
            "n_tokens",
            (F.row_number().over(w) == 1).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Incremental connected-components maintenance (q224)
# ---------------------------------------------------------------------------

#: docs with doc_id % INCR_BATCH_MOD == 0 stand in for the newly
#: crawled batch (~14% of the corpus); everything else is the
#: already-labeled corpus the batch merges into
INCR_BATCH_MOD = 7


@register(
    "q224_incremental_components",
    f"""
    WITH RECURSIVE {_NEAR_DUP_CTES_SQL},
    {_COMPONENT_CTES_SQL}
    SELECT doc_id, component_id,
           COUNT(*) OVER (PARTITION BY component_id) AS component_size
    FROM comp
    ORDER BY doc_id
    """,
    doc="Incremental connected-components MAINTENANCE (VERDICT r12 ask "
    "#4): at 10B docs nobody re-runs global label propagation per "
    "crawl batch, so the near-dup component table must absorb a new "
    "batch's pairs without touching unaffected components. Docs with "
    f"doc_id % {INCR_BATCH_MOD} == 0 play the new batch; the pair "
    "stream splits into old-old edges (these built the EXISTING label "
    "table, q45's machinery on the old corpus only) and edges "
    "touching the batch. Each new edge's endpoints are contracted "
    "onto their current component labels (a label-preserving left "
    "join — new/unpaired docs are their own node), no-op edges inside "
    "one component drop, and min-label propagation runs ONLY on that "
    "reduced touched-components multigraph — its size scales with the "
    "batch, not the corpus. Because an old component's label IS its "
    "min doc_id, contracting components preserves both connectivity "
    "and the min, so relabeling through the reduced result equals the "
    "full recompute EXACTLY — and the oracle states precisely that "
    "full recompute (q45's transitive closure over ALL pairs): "
    "equality IS the incremental-maintenance theorem. Unaffected "
    "components never enter a shuffle wider than the final left join "
    "against the (batch-bounded) relabel mapping.",
)
def q224_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    new_a = F.col("doc_a") % INCR_BATCH_MOD == 0
    new_b = F.col("doc_b") % INCR_BATCH_MOD == 0
    # the existing state: labels computed over the OLD corpus only
    # (in the streaming deployment this table is the sink of the
    # previous run — s96's growing-index pattern; recomputing it here
    # makes the batch entry self-contained and the theorem testable)
    old_labels = _min_label_propagation(
        pairs.filter(~new_a & ~new_b)
    ).localCheckpoint(eager=False)
    # contract: rewrite each new edge endpoint to its current label;
    # endpoints outside the label table (batch docs, previously
    # unpaired old docs) are their own node
    la = old_labels.select(
        F.col("doc_id").alias("doc_a"), F.col("label").alias("la")
    )
    lb = old_labels.select(
        F.col("doc_id").alias("doc_b"), F.col("label").alias("lb")
    )
    reduced = (
        pairs.filter(new_a | new_b)
        .join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            F.coalesce("la", F.col("doc_a")).alias("a"),
            F.coalesce("lb", F.col("doc_b")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    # propagate only through components the batch touches: the reduced
    # graph's nodes are old component labels + batch-adjacent docs
    mapping = _min_label_propagation(reduced).select(
        F.col("doc_id").alias("node"), F.col("label").alias("new_label")
    )
    # relabel: components absent from the mapping are untouched and
    # keep their label verbatim — the whole point of the operator
    relabeled_old = (
        old_labels.join(mapping, old_labels.label == mapping.node, "left")
        .select(
            "doc_id",
            F.coalesce("new_label", "label").alias("component_id"),
        )
    )
    # reduced-graph nodes that are NOT previously-labeled docs (batch
    # docs and previously-unpaired old docs) read their component off
    # the propagation directly
    extra = mapping.join(
        old_labels.select(F.col("doc_id").alias("node")), "node", "left_anti"
    ).select(
        F.col("node").alias("doc_id"), F.col("new_label").alias("component_id")
    )
    w = Window.partitionBy("component_id")
    return (
        relabeled_old.unionByName(extra)
        .withColumn("component_size", F.count(F.lit(1)).over(w))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (q108)
# ---------------------------------------------------------------------------

#: docs with doc_id % MOD == 0 stand in for the evaluation benchmark
DECONTAM_BENCH_MOD = 97
#: share of a doc's shingles found in the benchmark that flags it
#: (0.1 exercises both flag outcomes on the synthetic corpus: full
#: duplicates of benchmark docs score 1.0, incidental overlap ~0.01)
DECONTAM_FRAC = 0.1


@register(
    "q108_decontamination",
    f"""
    WITH shing AS ({_SH_SQL}),
    bench AS (
      SELECT DISTINCT shingle FROM shing WHERE doc_id % {DECONTAM_BENCH_MOD} = 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shing GROUP BY doc_id),
    hits AS (
      SELECT s.doc_id, COUNT(*) AS n_shared
      FROM shing s JOIN bench b USING (shingle)
      WHERE s.doc_id % {DECONTAM_BENCH_MOD} <> 0
      GROUP BY s.doc_id
    )
    SELECT h.doc_id, z.n_shingles, h.n_shared,
           CAST(h.n_shared AS DOUBLE) / z.n_shingles AS overlap_frac,
           CAST(h.n_shared AS DOUBLE) / z.n_shingles >= {DECONTAM_FRAC}
             AS contaminated
    FROM hits h JOIN sizes z USING (doc_id)
    ORDER BY doc_id
    """,
    doc="Training-data decontamination: flag corpus documents whose "
    "3-word-shingle overlap with an evaluation benchmark exceeds a "
    "threshold (the GPT-3/Llama-style n-gram contamination check). "
    "The benchmark shingle set is DISTINCT and tiny (real eval sets "
    "are a few MB), so the corpus-side probe is a broadcast hash join "
    "on the shingle — no shuffle of the exploded corpus except the "
    "final per-doc count. Shares the pinned doc-shingle fragment with "
    "the MinHash/Jaccard ladder.",
)
def q108_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = fragment(
        spark, sf_dir, "doc_shingles_flat", lambda: _doc_shingles(spark, sf_dir)
    )
    bench = (
        sh.filter(F.col("doc_id") % DECONTAM_BENCH_MOD == 0)
        .select("shingle")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        sh.filter(F.col("doc_id") % DECONTAM_BENCH_MOD != 0)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    frac = F.col("n_shared").cast("double") / F.col("n_shingles")
    return (
        hits.join(sizes, "doc_id")
        .select(
            "doc_id", "n_shingles", "n_shared",
            frac.alias("overlap_frac"),
            (frac >= DECONTAM_FRAC).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "q128_minhash_estimate_error",
    f"""
    WITH {_NEAR_DUP_CTES_SQL}
    SELECT p.doc_a, p.doc_b, p.jaccard,
           CAST(( (CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)) AS DOUBLE)
             / {N_HASHES} AS jaccard_est,
           abs(CAST(( (CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)) AS DOUBLE)
               / {N_HASHES} - p.jaccard) AS abs_err
    FROM near_dup_pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    ORDER BY doc_a, doc_b
    """,
    doc="MinHash estimator diagnostics: for every verified near-dup "
    "pair, the signature-agreement Jaccard estimate (matching "
    "coordinates / 8) against the exact shingle-set Jaccard, with the "
    "absolute error — the measurement that justifies a bands/rows "
    "trade, completing the estimator-quality trio with q107 (IVF "
    "recall) and q119 (PQ recall). Reuses the pinned signature and "
    "shingle fragments; the only new work is two keyed joins over the "
    "(tiny) verified-pair set.",
)
def q128_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _near_dup_pairs(spark, sf_dir)
    sig = minhash_signatures(spark, sf_dir)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_HASHES)]
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_HASHES)]
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    est = matches.cast("double") / N_HASHES
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "jaccard",
            est.alias("jaccard_est"),
            F.abs(est - F.col("jaccard")).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# q144 — contrastive training-pair mining
# ---------------------------------------------------------------------------


@register(
    "q144_contrastive_pairs",
    f"""
    WITH {_NEAR_DUP_CTES_SQL},
    pos AS (
      SELECT doc_a AS anchor_id, min(doc_b) AS pos_id
      FROM near_dup_pairs GROUP BY doc_a
    ),
    neg_order AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS nk
      FROM documents
    ),
    neg AS (
      SELECT doc_id,
             COALESCE(
               LEAD(doc_id) OVER (ORDER BY nk, doc_id),
               FIRST_VALUE(doc_id) OVER (ORDER BY nk, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             ) AS neg_id
      FROM neg_order
    )
    SELECT p.anchor_id, p.pos_id, n.neg_id
    FROM pos p JOIN neg n ON n.doc_id = p.anchor_id
    WHERE n.neg_id <> p.anchor_id AND n.neg_id <> p.pos_id
    ORDER BY anchor_id
    """,
    doc="Contrastive-learning triplet mining: each anchor document "
    "pairs with a POSITIVE (its lowest-id verified LSH near-duplicate "
    "— reusing the q42 banded candidate topology, so positives come "
    "from an equi-join, never an all-pairs scan) and a NEGATIVE "
    "drawn by deterministic hash shuffling (every doc's md5-order "
    "successor — an unbiased 'random other document' that replays "
    "identically on retry, with wraparound at the end of the ring). "
    "This is the (anchor, positive, negative) layout embedding "
    "trainers consume; at scale the positive side rides the shared "
    "pinned near-dup fragments and the negative ring is one sort "
    "of (hash, id) pairs — at cluster scale a range-partitioned "
    "sort, here a single window.",
)
def q144_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pairs = _near_dup_pairs(spark, sf_dir)
    pos = pairs.groupBy(F.col("doc_a").alias("anchor_id")).agg(
        F.min("doc_b").alias("pos_id")
    )
    # the hash ring as a range-partitioned two-phase rank + successor
    # equi-join (rn % n + 1 wraps the tail to position 1) — the LEAD over
    # a bare Window.orderBy this replaces serialized the whole corpus
    # onto one task. The (doc_id, hash) key frame is pinned as a
    # fragment: with_global_order references its input from the sample
    # probe, the rank branch, and the per-bucket summary, so an
    # unpinned lineage would re-scan documents three times (ADVICE r5).
    ring_keys = fragment(
        spark,
        sf_dir,
        "q144_ring_keys",
        lambda: load_table(spark, sf_dir, "documents").select(
            "doc_id",
            shingle_h32(F.col("doc_id").cast("string")).alias("nk"),
        ),
    )
    ring = with_global_order(
        ring_keys,
        ["nk", "doc_id"],
        rank="rn",
        total="n",
    boundary_key=(sf_dir, "q144")).withColumn("succ", F.col("rn") % F.col("n") + 1)
    neg = ring.join(
        ring.select(F.col("rn").alias("succ"), F.col("doc_id").alias("neg_id")),
        "succ",
    ).select("doc_id", "neg_id")
    return (
        pos.join(neg, pos.anchor_id == neg.doc_id)
        .filter((F.col("neg_id") != F.col("anchor_id")) & (F.col("neg_id") != F.col("pos_id")))
        .select("anchor_id", "pos_id", "neg_id")
        .orderBy("anchor_id")
    )


# ---------------------------------------------------------------------------
# q190 — fuzzy (LSH) decontamination against an evaluation set
# ---------------------------------------------------------------------------

#: q190's eval-set selector: doc_id % 7 (distinct from q108's % 97 so
#: the fuzzy sweep has verifiable straddling near-dup pairs at every
#: test scale — % 97 leaves zero near-dups crossing the eval/train cut
#: at sf0.01, which would pin only the empty result)
DECONTAM_LSH_MOD = 7

#: the banded CTE over the shared signature SQL, standalone form for
#: cross-set joins (q42 embeds the same shape inside its self-join CTEs)
_BANDED_CTE_SQL = """banded AS (
      SELECT doc_id, band, bkey FROM (
        SELECT doc_id,
               0 AS band, h0 || ':' || h1 AS bkey FROM sig
        UNION ALL SELECT doc_id, 1, h2 || ':' || h3 FROM sig
        UNION ALL SELECT doc_id, 2, h4 || ':' || h5 FROM sig
        UNION ALL SELECT doc_id, 3, h6 || ':' || h7 FROM sig
      ) u
    )"""


@register(
    "q190_lsh_decontamination",
    f"""
    WITH sig AS ({_SIG_SQL}),
    {_BANDED_CTE_SQL},
    cands AS (
      SELECT DISTINCT t.doc_id AS doc_id, e.doc_id AS eval_doc_id
      FROM banded t JOIN banded e ON t.band = e.band AND t.bkey = e.bkey
      WHERE t.doc_id % {DECONTAM_LSH_MOD} <> 0
        AND e.doc_id % {DECONTAM_LSH_MOD} = 0
    ),
    tok AS ({_SH_SQL}),
    tok_counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM tok GROUP BY doc_id),
    shared AS (
      SELECT c.doc_id, c.eval_doc_id, COUNT(*) AS n_shared
      FROM cands c
      JOIN tok ta ON ta.doc_id = c.doc_id
      JOIN tok tb ON tb.doc_id = c.eval_doc_id AND tb.shingle = ta.shingle
      GROUP BY c.doc_id, c.eval_doc_id
    )
    SELECT s.doc_id, s.eval_doc_id,
           CAST(s.n_shared AS DOUBLE) / (ca.n_sh + cb.n_sh - s.n_shared)
             AS jaccard
    FROM shared s
    JOIN tok_counts ca ON ca.doc_id = s.doc_id
    JOIN tok_counts cb ON cb.doc_id = s.eval_doc_id
    WHERE CAST(s.n_shared AS DOUBLE) / (ca.n_sh + cb.n_sh - s.n_shared) >= 0.5
    ORDER BY 1, 2
    """,
    doc="Fuzzy decontamination — the NEAR-duplicate complement to "
    "q108's exact n-gram check (the Llama-style contamination sweep "
    "catches paraphrased or lightly edited benchmark leaks that exact "
    "n-gram overlap misses): training docs whose MinHash bands collide "
    "with any evaluation doc's bands become candidates, exact "
    "shingle-set Jaccard >= 0.5 verifies. The eval side of the band "
    "join is BROADCAST (real eval sets are a few thousand docs however "
    "big the corpus), so the corpus-side probe never shuffles the "
    "training bands — the same asymmetric topology as q108, upgraded "
    "from exact overlap to LSH similarity. Shares the pinned "
    "lsh_banded + shingle_sets fragments with the q42 ladder, so "
    "running the dedup pass and the decontamination sweep together "
    "materializes signatures once.",
)
def q190_lsh_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    sa = fragment(
        spark, sf_dir, "shingle_sets", lambda: _shingle_sets(spark, sf_dir)
    )
    banded = fragment(
        spark, sf_dir, "lsh_banded", lambda: _banded_frame(spark, sf_dir)
    )
    train = banded.filter(F.col("doc_id") % DECONTAM_LSH_MOD != 0)
    ev = (
        banded.filter(F.col("doc_id") % DECONTAM_LSH_MOD == 0)
        .select(
            F.col("doc_id").alias("eval_doc_id"), "band", "bkey"
        )
    )
    cands = (
        train.join(F.broadcast(ev), ["band", "bkey"])
        .select("doc_id", "eval_doc_id")
        .distinct()
    )
    sets_t = sa.select("doc_id", F.col("shingles").alias("sh_t"))
    sets_e = sa.select(
        F.col("doc_id").alias("eval_doc_id"), F.col("shingles").alias("sh_e")
    )
    inter = F.size(F.array_intersect(F.col("sh_t"), F.col("sh_e")))
    union = F.size("sh_t") + F.size("sh_e") - inter
    jac = inter.cast("double") / union
    return (
        cands.join(sets_t, "doc_id")
        .join(F.broadcast(sets_e.join(
            F.broadcast(ev.select("eval_doc_id").distinct()), "eval_doc_id"
        )), "eval_doc_id")
        .filter(jac >= 0.5)
        .select("doc_id", "eval_doc_id", jac.alias("jaccard"))
        .orderBy("doc_id", "eval_doc_id")
    )


# ---------------------------------------------------------------------------
# q191 — cross-source duplication matrix
# ---------------------------------------------------------------------------


@register(
    "q191_cross_source_dup_matrix",
    f"""
    WITH {_NEAR_DUP_CTES_SQL}
    SELECT least(da.source, db.source) AS src_a,
           greatest(da.source, db.source) AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM near_dup_pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY 1, 2
    ORDER BY src_a, src_b
    """,
    doc="Cross-source duplication heat map — which sources copy from "
    "which: every verified near-dup pair (the q42 ladder, shared "
    "pinned fragments) is attributed to its unordered source pair and "
    "counted. The artifact a curation team reads before weighting "
    "sources (a mirror site shows up as an off-diagonal spike; "
    "boilerplate-heavy domains as a diagonal one). Two broadcast "
    "dimension joins + one keyed aggregate on top of the existing "
    "pair topology — nothing new shuffles at scale except the "
    "~|pairs| attribution rows.",
)
def q191_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _near_dup_pairs(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# q195 — LSH banding S-curve audit (empirical P(detect) per Jaccard bin)
# ---------------------------------------------------------------------------

#: document-frequency window for the ground-truth pair generator: a
#: shingle shared by 2..SCURVE_DF_MAX docs proposes its doc pairs. The
#: cap bounds candidate generation at O(sum df^2) — the same
#: stop-shingle bound as q44 — and is an AUDIT-SAMPLING choice, not a
#: correctness one (pairs whose every shared shingle is boilerplate-hot
#: are out of audit scope; the banding curve is measured on the rest).
SCURVE_DF_MAX = 10


@register(
    "q195_lsh_scurve_audit",
    f"""
    WITH tok AS ({_SH_SQL}),
    df AS (
      SELECT shingle FROM tok GROUP BY shingle
      HAVING COUNT(*) BETWEEN 2 AND {SCURVE_DF_MAX}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM tok a
      JOIN df USING (shingle)
      JOIN tok b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
    ),
    tok_counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM tok GROUP BY doc_id),
    shared AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_shared
      FROM pairs p
      JOIN tok ta ON ta.doc_id = p.doc_a
      JOIN tok tb ON tb.doc_id = p.doc_b AND tb.shingle = ta.shingle
      GROUP BY p.doc_a, p.doc_b
    ),
    sig AS ({_SIG_SQL}),
    judged AS (
      SELECT least(CAST(floor(
               CAST(s.n_shared AS DOUBLE)
               / (ca.n_sh + cb.n_sh - s.n_shared) * 10) AS BIGINT), 9)
               AS jac_bin,
             CASE WHEN (ga.h0 = gb.h0 AND ga.h1 = gb.h1)
                    OR (ga.h2 = gb.h2 AND ga.h3 = gb.h3)
                    OR (ga.h4 = gb.h4 AND ga.h5 = gb.h5)
                    OR (ga.h6 = gb.h6 AND ga.h7 = gb.h7)
                  THEN 1 ELSE 0 END AS detected
      FROM shared s
      JOIN tok_counts ca ON ca.doc_id = s.doc_a
      JOIN tok_counts cb ON cb.doc_id = s.doc_b
      JOIN sig ga ON ga.doc_id = s.doc_a
      JOIN sig gb ON gb.doc_id = s.doc_b
    )
    SELECT b.jac_bin,
           CAST(COALESCE(j.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(j.n_detected, 0) AS BIGINT) AS n_detected,
           CAST(COALESCE(j.n_detected * 1000000 // j.n_pairs, 0) AS BIGINT)
             AS detect_rate_e6
    FROM (SELECT unnest(range(0, 10)) AS jac_bin) b
    LEFT JOIN (
      SELECT jac_bin, COUNT(*) AS n_pairs, SUM(detected) AS n_detected
      FROM judged GROUP BY jac_bin
    ) j USING (jac_bin)
    ORDER BY jac_bin
    """,
    doc="Empirical S-curve of the MinHash banding scheme: ground-truth "
    "pairs come from a df-capped shingle inverted index (shares >= 1 "
    "shingle seen in 2..10 docs — O(sum df^2) candidate generation, "
    "the q44 stop-shingle bound, INDEPENDENT of the banding under "
    "audit), exact shingle-set Jaccard bins each pair into deciles, "
    "and 'detected' = the pair collides in >= 1 of the 4 bands of the "
    "production q42 scheme. The per-bin detection rate is the measured "
    "1-(1-j^2)^4 curve — the calibration artifact that tells a corpus "
    "team what recall the dedup ladder actually has at each similarity "
    "level BEFORE trusting it on a new crawl (q128 audits the "
    "estimator variance per pair; this audits the candidate-generation "
    "recall per similarity bin, which q128 cannot see because verified "
    "candidates are conditioned on detection). All joins are keyed "
    "equi-joins on doc ids against the shared pinned shingle_sets / "
    "signature fragments; the output is a fixed 10-row frame with "
    "explicit zero rows for empty bins (the zero-class house rule).",
)
def q195_lsh_scurve_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    sa = fragment(
        spark, sf_dir, "shingle_sets", lambda: _shingle_sets(spark, sf_dir)
    )
    tok = sa.select("doc_id", F.explode("shingles").alias("shingle"))
    df_ok = (
        tok.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= SCURVE_DF_MAX))
        .select("shingle")
    )
    idx = tok.join(df_ok, "shingle")
    pairs = (
        idx.alias("a")
        .join(
            idx.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sets_a = sa.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.size("shingles").alias("na"),
    )
    sets_b = sa.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.size("shingles").alias("nb"),
    )
    sig = minhash_signatures(spark, sf_dir)
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    detected = (
        ((F.col("a0") == F.col("b0")) & (F.col("a1") == F.col("b1")))
        | ((F.col("a2") == F.col("b2")) & (F.col("a3") == F.col("b3")))
        | ((F.col("a4") == F.col("b4")) & (F.col("a5") == F.col("b5")))
        | ((F.col("a6") == F.col("b6")) & (F.col("a7") == F.col("b7")))
    )
    judged = (
        pairs.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select(
            F.least(F.floor(jac * 10).cast("long"), F.lit(9)).alias("jac_bin"),
            detected.cast("int").alias("detected"),
        )
    )
    agg = judged.groupBy("jac_bin").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("detected").alias("n_detected"),
    )
    bins = spark.range(10).select(F.col("id").alias("jac_bin"))
    return (
        bins.join(agg, "jac_bin", "left")
        .select(
            "jac_bin",
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce(F.col("n_detected"), F.lit(0))
            .cast("long")
            .alias("n_detected"),
            F.coalesce(
                F.expr("CAST(n_detected * 1000000 DIV n_pairs AS BIGINT)"),
                F.lit(0),
            ).alias("detect_rate_e6"),
        )
        .orderBy("jac_bin")
    )


# ---------------------------------------------------------------------------
# q198 — dedup funnel report (docs/tokens surviving each ladder rung)
# ---------------------------------------------------------------------------


@register(
    "q198_dedup_funnel",
    f"""
    WITH RECURSIVE {_NEAR_DUP_CTES_SQL},
    {_COMPONENT_CTES_SQL},
    tokc AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    ex AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    lab AS (
      SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS component_id,
             len(string_split(d.text, ' ')) AS n_tokens
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    canon AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (
          PARTITION BY component_id ORDER BY n_tokens DESC, doc_id) AS rn
        FROM lab
      ) r WHERE rn = 1
    ),
    shing AS ({_SH_SQL}),
    bench AS (
      SELECT DISTINCT shingle FROM shing
      WHERE doc_id % {DECONTAM_BENCH_MOD} = 0
    ),
    hits AS (
      SELECT s.doc_id, COUNT(*) AS n_shared
      FROM shing s JOIN bench USING (shingle)
      WHERE s.doc_id % {DECONTAM_BENCH_MOD} <> 0
      GROUP BY s.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shing GROUP BY doc_id),
    contam AS (
      SELECT h.doc_id FROM hits h JOIN sizes z USING (doc_id)
      WHERE CAST(h.n_shared AS DOUBLE) / z.n_shingles >= {DECONTAM_FRAC}
    ),
    s1 AS (SELECT doc_id FROM ex),
    s2 AS (SELECT s1.doc_id FROM s1 JOIN canon USING (doc_id)),
    s3 AS (
      SELECT doc_id FROM s2
      WHERE doc_id % {DECONTAM_BENCH_MOD} <> 0
        AND doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    raw AS (SELECT COUNT(*) AS rd, SUM(n_tokens) AS rt FROM tokc),
    stages AS (
      SELECT 0 AS stage, 'raw' AS stage_name,
             COUNT(*) AS n_docs, SUM(n_tokens) AS n_tokens FROM tokc
      UNION ALL
      SELECT 1, 'exact_canonical', COUNT(*), SUM(t.n_tokens)
      FROM s1 JOIN tokc t USING (doc_id)
      UNION ALL
      SELECT 2, 'near_canonical', COUNT(*), SUM(t.n_tokens)
      FROM s2 JOIN tokc t USING (doc_id)
      UNION ALL
      SELECT 3, 'decontaminated', COUNT(*), SUM(t.n_tokens)
      FROM s3 JOIN tokc t USING (doc_id)
    )
    SELECT s.stage, s.stage_name,
           CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           CAST(s.n_docs * 10000 // r.rd AS BIGINT) AS docs_pct_e4,
           CAST(s.n_tokens * 10000 // r.rt AS BIGINT) AS tokens_pct_e4
    FROM stages s CROSS JOIN raw r
    ORDER BY s.stage
    """,
    doc="The dedup ladder's funnel report: documents and tokens "
    "surviving each rung — raw corpus, exact-canonical (the q40 "
    "min-doc-per-content-hash election), near-dup canonical (ALSO "
    "elected by the q47 component-wide vote), and decontaminated "
    "(minus the q108 eval-overlap flags and the eval docs "
    "themselves). This is the one-page artifact a curation run "
    "reports ('exact dedup removed X%, near-dup Y more, "
    "decontamination Z') — four bounded aggregates over the SAME "
    "pinned fragments the ladder already materializes (shingle sets, "
    "bands, components), so the report costs four keyed joins on top "
    "of work the pipeline has done anyway, and every percentage is "
    "an exact integer basis-point quotient.",
)
def q198_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import n_tokens as _ntok

    docs = load_table(spark, sf_dir, "documents")
    tokc = docs.select("doc_id", _ntok(F.col("text")).cast("long").alias("n_tokens"))
    s1 = q40_exact_dedup(spark, sf_dir).select(
        F.col("canonical_doc").alias("doc_id")
    )
    canon = (
        q47_dedup_keep_best(spark, sf_dir)
        .filter(F.col("is_canonical"))
        .select("doc_id")
    )
    s2 = s1.join(canon, "doc_id")
    contam = (
        q108_decontamination(spark, sf_dir)
        .filter(F.col("contaminated"))
        .select("doc_id")
    )
    s3 = s2.filter(F.col("doc_id") % DECONTAM_BENCH_MOD != 0).join(
        contam, "doc_id", "left_anti"
    )

    def measure(stage: int, name: str, ids: DataFrame) -> DataFrame:
        return (
            ids.join(tokc, "doc_id")
            .agg(
                F.lit(stage).alias("stage"),
                F.lit(name).alias("stage_name"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("n_tokens"),
            )
        )

    raw = tokc.agg(
        F.count(F.lit(1)).alias("rd"), F.sum("n_tokens").alias("rt")
    )
    stages = (
        measure(0, "raw", tokc.select("doc_id"))
        .unionByName(measure(1, "exact_canonical", s1))
        .unionByName(measure(2, "near_canonical", s2))
        .unionByName(measure(3, "decontaminated", s3))
    )
    return (
        stages.crossJoin(F.broadcast(raw))
        .select(
            "stage", "stage_name", "n_docs", "n_tokens",
            F.expr("CAST(n_docs * 10000 DIV rd AS BIGINT)").alias("docs_pct_e4"),
            F.expr("CAST(n_tokens * 10000 DIV rt AS BIGINT)").alias(
                "tokens_pct_e4"
            ),
        )
        .orderBy("stage")
    )


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (q199)
# ---------------------------------------------------------------------------

#: Jaccard threshold for the prefix-filtered join — higher than q42's
#: LSH cut so the two candidate generators are exercised at different
#: operating points
PREFIX_JACCARD_MIN = 0.6


def _ordered_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, os: array<struct<df, sh>>, n): every document's shingle
    set in GLOBAL rarest-first order (ascending document frequency,
    hash tie-break). The (df, sh) struct sort is per-document work
    after one keyed join — the global order is defined by the PAIR,
    never by a global sort. Shared (as the ``ordered_shingles``
    fragment) by every prefix-filter consumer: q199's Jaccard prefixes
    and q204's containment prefixes slice different lengths off the
    same ordered array."""
    sets = fragment(
        spark, sf_dir, "shingle_sets", lambda: _shingle_sets(spark, sf_dir)
    )
    flat = sets.select("doc_id", F.explode("shingles").alias("sh"))
    dfreq = flat.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    return (
        flat.join(dfreq, "sh")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "sh"))).alias("os"))
        .select("doc_id", "os", F.size("os").alias("n"))
    )


@register(
    "q199_prefix_filter_jaccard",
    f"""
    WITH sh AS ({_SH_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    shared AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT s.doc_a, s.doc_b,
           CAST(s.n_shared AS DOUBLE) / (na.n + nb.n - s.n_shared) AS jaccard
    FROM shared s
    JOIN sizes na ON na.doc_id = s.doc_a
    JOIN sizes nb ON nb.doc_id = s.doc_b
    WHERE CAST(s.n_shared AS DOUBLE) / (na.n + nb.n - s.n_shared)
          >= {PREFIX_JACCARD_MIN}
    ORDER BY doc_a, doc_b
    """,
    doc="EXACT set-similarity join via prefix filtering (the "
    "AllPairs/PPJoin scale path, Bayardo et al. WWW'07 / Xiao et al. "
    "WWW'08): each document indexes only the FIRST "
    "n - ceil(t*n) + 1 of its shingles under a global "
    "rarest-first order (ascending document frequency, hash "
    "tie-break); two sets with Jaccard >= t must share a prefix "
    "element under any common total order, so the equi-join on "
    "prefix shingles is a LOSSLESS candidate generator — unlike "
    "LSH banding (q42) there is no recall loss to audit, and "
    "unlike the full inverted index (q44's oracle shape) the "
    "index carries only the (1-t) rarest fraction of each "
    "posting list, which is also the SMALL-df fraction, so "
    "candidate volume collapses super-linearly with t. The "
    "oracle states the same result via the naive "
    "all-sharing-pairs join — affordable at test scale only, "
    "which is the point: equality of the two IS the lossless- "
    "ness proof, run at every parity gate. Every Spark stage "
    "is a keyed shuffle (df count, per-doc sort, prefix "
    "explode, skew-guarded self-join, array-intersect verify "
    "on candidates only); the per-doc rarest-first sort rides "
    "array_sort over a collected struct array — per-document "
    "state, never a global order. Two lossless refinements ride on "
    "top (Q199_CANDGEN_AB_r11.json): asymmetric AllPairs prefixes "
    "(the smaller side of a pair only joins through its "
    "n - ceil(2t/(1+t)*n) + 1 shortest prefix — 0.928x wall at "
    "R=30) and int-narrowed verify arrays (32-bit shingle hashes "
    "ride as 4-byte ints through the verify joins — a deterministic "
    "39.5% spill cut on the array-carrying shuffle, the operator's "
    "dominant memory cost).",
)
def q199_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sets = fragment(
        spark, sf_dir, "shingle_sets", lambda: _shingle_sets(spark, sf_dir)
    )
    ordered = fragment(
        spark, sf_dir, "ordered_shingles", lambda: _ordered_shingles(spark, sf_dir)
    )
    n = F.col("n")
    plen = (n - F.ceil(F.lit(PREFIX_JACCARD_MIN) * n) + 1).cast("int")

    def _prefixes() -> DataFrame:
        return ordered.select(
            "doc_id",
            "n",
            F.posexplode(
                F.slice(F.transform("os", lambda s: s["sh"]), F.lit(1), plen)
            ).alias("pos", "psh"),
        )

    # pinned: the skew probe and both sides of the self-join read it
    pref = fragment(spark, sf_dir, "prefix_shingles", _prefixes)
    # Two LOSSLESS in-join filters from the PPJoin family (Xiao et al.
    # WWW'08), both exact integer cross-multiplications at t = 0.6 =
    # 3/5, dropped into the join condition so disqualified collisions
    # never materialize as pairs:
    # - length filter: J >= t forces 5*min(|A|,|B|) >= 3*max(|A|,|B|);
    # - positional filter: at the FIRST common element (0-based
    #   positions pa/pb in the shared rarest-first order) everything
    #   earlier is disjoint, so overlap <= 1 + min(n_a-1-pa, n_b-1-pb),
    #   and J >= t needs overlap >= t/(1+t)*(n_a+n_b) = 3/8*(n_a+n_b).
    #   A pair whose true Jaccard passes always survives via its first
    #   common element; later collisions of the same pair may prune,
    #   which only sheds duplicate candidate rows.
    ub = 1 + F.least(
        F.col("a.n") - 1 - F.col("a.pos"), F.col("b.n") - 1 - F.col("b.pos")
    )
    pair_cond = (
        (5 * F.col("a.n") >= 3 * F.col("b.n"))
        & (5 * F.col("b.n") >= 3 * F.col("a.n"))
        & (8 * ub >= 3 * (F.col("a.n") + F.col("b.n")))
    )
    # Asymmetric prefixes (Bayardo et al. WWW'07 s3.1; Xiao et al.
    # WWW'08), a third lossless in-join filter: a pair (x, y) with
    # J >= t and |x| <= |y| has overlap >= ceil(2t/(1+t)*|x|), so the
    # SMALLER side (ties broken by doc_id, the pair identity) only
    # needs its SHORT prefix n - ceil(2t/(1+t)*n) + 1. The prefix lemma
    # puts a common element inside both sides' prefixes, and the
    # pair's FIRST common element precedes it in the shared order, so
    # that row exists in the joined window and passes this filter
    # (Q199_CANDGEN_AB_r11.json). The epsilon keeps float noise from
    # over-rounding the ceil, which would shorten the prefix past the
    # lossless bound (the safe direction is a longer one).
    frac = 2 * PREFIX_JACCARD_MIN / (1 + PREFIX_JACCARD_MIN)

    def _slen(nc):
        return nc - F.ceil(F.lit(frac) * nc - F.lit(1e-9)) + 1

    pair_cond = pair_cond & F.when(
        (F.col("a.n") < F.col("b.n"))
        | (
            (F.col("a.n") == F.col("b.n"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        ),
        F.col("a.pos") < _slen(F.col("a.n")),
    ).otherwise(F.col("b.pos") < _slen(F.col("b.n")))
    candidates = guarded_self_pairs(
        pref, ["psh"], "doc_id", probe_key=(sf_dir, "prefix_shingles"),
        pair_cond=pair_cond,
    )
    sh_verify = _int32_shingles()
    sets_a = sets.select(
        F.col("doc_id").alias("doc_a"), sh_verify.alias("sh_a")
    )
    sets_b = sets.select(
        F.col("doc_id").alias("doc_b"), sh_verify.alias("sh_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    # scale-adaptive task-count pin on the two array-carrying verify
    # stages (see _verify_pin): the r14 R=30 re-probe measured the
    # unpinned join1 reduce at 35 AQE-coalesced tasks paging 51.8 GB
    # while WRITING 104M array rows — per-task output, not input, is
    # what sizes these stages
    pin = _verify_pin(spark, sf_dir)
    if pin:
        candidates = candidates.repartition(pin, "doc_a")
    mid = candidates.join(sets_a, "doc_a")
    if pin:
        mid = mid.repartition(pin, "doc_b")
    return _declared_pair_order(
        mid.join(sets_b, "doc_b")
        .filter(jac >= PREFIX_JACCARD_MIN)
        .select("doc_a", "doc_b", jac.alias("jaccard")),
        "doc_a", "doc_b",
    )


# ---------------------------------------------------------------------------
# Containment near-dup (q204) — asymmetric quote/inclusion detection
# ---------------------------------------------------------------------------

#: containment threshold: >= this fraction of the contained doc's
#: shingles appear in the container
CONTAIN_MIN = 0.8
#: ignore tiny shingle sets (trivially contained)
CONTAIN_MIN_SH = 8


@register(
    "q204_containment_pairs",
    f"""
    WITH sh AS ({_SH_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dir AS (
      SELECT p.da AS contained_doc, p.db AS container_doc,
             p.inter, za.n AS n_contained
      FROM pairs p JOIN sizes za ON za.doc_id = p.da
      UNION ALL
      SELECT p.db, p.da, p.inter, zb.n
      FROM pairs p JOIN sizes zb ON zb.doc_id = p.db
    )
    SELECT contained_doc, container_doc,
           CAST(inter AS DOUBLE) / n_contained AS containment
    FROM dir
    WHERE n_contained >= {CONTAIN_MIN_SH}
      AND CAST(inter AS DOUBLE) / n_contained >= {CONTAIN_MIN}
    ORDER BY contained_doc, container_doc
    """,
    doc="ASYMMETRIC near-dup: shingle-set containment "
    "|A intersect B| / |A| — the quote/inclusion detector that "
    "Jaccard misses by construction (a paragraph fully embedded in a "
    "10x longer page has tiny Jaccard but containment 1.0; dedup "
    "pipelines drop the contained copy, search pipelines keep the "
    "container). Candidate generation is the CONTAINMENT prefix "
    "filter: only the contained side's first n - ceil(t*n) + 1 "
    "rarest shingles probe the full inverted index (pigeonhole: if "
    "none of A's prefix hits B, the shared count is at most "
    "ceil(t*|A|) - 1 < t*|A|) — lossless, with NO prefix on the "
    "index side, so each ordered (contained, container) pair is "
    "generated directly and scored once. The first cut of this "
    "operator joined the FULL inverted index against itself "
    "(every sharing pair materialized); the r6 scaling bench "
    "OOM'd it at the 10x point — the probe-side prefix is what "
    "makes the operator viable at corpus scale, since prefix "
    "shingles are by construction the small-df fraction of each "
    "posting list (AQE skew-join covers the boilerplate-doc case "
    "where a prefix still lands on a hot shingle). Verify is one "
    "array_intersect over the two pinned sets; the min-set-size "
    "floor is applied on the probe side BEFORE the join. The "
    "oracle states the same result via the naive all-sharing-"
    "pairs join scored in both directions — equality IS the "
    "losslessness proof. The verify arrays ride int-narrowed (the "
    "same lossless 32-bit bijection as q42/q199): at R=60 that took "
    "the verify spill from 1.09 TB/run to zero at half the wall "
    "(Q204_ATTRIB_AB_r13.json).",
)
def q204_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sets = fragment(
        spark, sf_dir, "shingle_sets", lambda: _shingle_sets(spark, sf_dir)
    )
    flat = fragment(
        spark, sf_dir, "doc_shingles_flat", lambda: _doc_shingles(spark, sf_dir)
    )
    ordered = fragment(
        spark, sf_dir, "ordered_shingles", lambda: _ordered_shingles(spark, sf_dir)
    )
    n = F.col("n")
    plen = (n - F.ceil(F.lit(CONTAIN_MIN) * n) + 1).cast("int")
    # the probe prefix n - ceil(t*n) + 1 is already the MINIMAL
    # lossless one for containment, and the index side can take NO
    # prefix at all: |A intersect B| / |A| >= t constrains only A, so
    # any posting of an arbitrarily large B may be the one A's prefix
    # hits — there is no q199-style asymmetric shortening on either
    # side, only the int-narrowed verify arrays below
    probe = (
        ordered.filter(n >= CONTAIN_MIN_SH)
        .select(
            F.col("doc_id").alias("contained_doc"),
            F.col("n").alias("n_a"),
            F.explode(
                F.slice(F.transform("os", lambda s: s["sh"]), F.lit(1), plen)
            ).alias("shingle"),
        )
    )
    # size filter inside the probe join: containment >= 0.8 = 4/5
    # forces |B| >= |A cap B| >= 0.8*|A|, i.e. 5*|B| >= 4*|A| in exact
    # integers — a short doc can never be 80%-contained in a shorter
    # one, so those index hits are dropped before the pair exists
    candidates = (
        probe.join(
            flat.select(
                F.col("doc_id").alias("container_doc"),
                "shingle",
                F.col("n_sh").alias("n_b"),
            ),
            "shingle",
        )
        .filter(
            (F.col("contained_doc") != F.col("container_doc"))
            & (5 * F.col("n_b") >= 4 * F.col("n_a"))
        )
        .select("contained_doc", "container_doc")
        .distinct()
    )
    sh_verify = _int32_shingles()
    sets_a = sets.select(
        F.col("doc_id").alias("contained_doc"),
        sh_verify.alias("sh_a"),
    )
    sets_b = sets.select(
        F.col("doc_id").alias("container_doc"),
        sh_verify.alias("sh_b"),
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    cont = inter.cast("double") / F.size("sh_a")
    return _declared_pair_order(
        candidates.join(sets_a, "contained_doc")
        .join(sets_b, "container_doc")
        .filter(cont >= CONTAIN_MIN)
        .select("contained_doc", "container_doc", cont.alias("containment")),
        "contained_doc", "container_doc",
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split (q205)
# ---------------------------------------------------------------------------

#: split fan: hash % 10 -> 0-7 train, 8 val, 9 test
SPLIT_MOD = 10
SPLIT_VAL = 8
SPLIT_TEST = 9


_SPLIT_CASE = (
    "CASE WHEN {h} % 10 <= 7 THEN 'train' "
    "WHEN {h} % 10 = 8 THEN 'val' ELSE 'test' END"
)
_H_OF = "('0x' || substr(md5(CAST({x} AS VARCHAR)), 1, 8))::BIGINT"


@register(
    "q205_leakage_safe_split",
    f"""
    WITH RECURSIVE {_NEAR_DUP_CTES_SQL},
    {_COMPONENT_CTES_SQL},
    lab AS (
      SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS component_id
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    assign AS (
      SELECT doc_id, component_id,
             {_SPLIT_CASE.format(h=_H_OF.format(x="component_id"))} AS comp_split,
             {_SPLIT_CASE.format(h=_H_OF.format(x="doc_id"))} AS naive_split
      FROM lab
    ),
    schemes AS (
      SELECT 'component' AS scheme, doc_id, component_id, comp_split AS split
      FROM assign
      UNION ALL
      SELECT 'doc_naive', doc_id, component_id, naive_split FROM assign
    ),
    spans AS (
      SELECT scheme, component_id,
             COUNT(DISTINCT split) AS n_splits
      FROM schemes GROUP BY scheme, component_id
    )
    SELECT s.scheme,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT s.component_id) AS BIGINT) AS n_components,
           CAST(SUM(CASE WHEN s.split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_train,
           CAST(SUM(CASE WHEN s.split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_val,
           CAST(SUM(CASE WHEN s.split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_test,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM spans p
            WHERE p.scheme = s.scheme AND p.n_splits > 1)
             AS n_leaky_components
    FROM schemes s
    GROUP BY s.scheme
    ORDER BY s.scheme
    """,
    doc="Leakage-safe corpus splitting: train/val/test assignment by "
    "hash of the NEAR-DUP COMPONENT id (q45's connected components; "
    "singletons label themselves), contrasted against the naive "
    "per-document hash split on the same corpus. A component split "
    "has zero components spanning splits BY CONSTRUCTION (all near-"
    "duplicates of a test doc land in test, so the model can't "
    "memorize a train-side twin of an eval doc — the classic "
    "contamination bug in web-corpus evals); the naive row "
    "quantifies exactly how many duplicate groups the per-doc hash "
    "tears across splits. Both schemes use the deterministic md5-h32 "
    "split hash, so the assignment is reproducible shard-by-shard "
    "with no global state — the property that lets a 100 TB corpus "
    "be split embarrassingly parallel.",
)
def q205_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = q45_near_dup_components(spark, sf_dir).select(
        "doc_id", "component_id"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    lab = docs.join(comp, "doc_id", "left").withColumn(
        "component_id", F.coalesce("component_id", "doc_id")
    )

    def split_of(col: str):
        h = shingle_h32(F.col(col).cast("string")) % SPLIT_MOD
        return (
            F.when(h <= 7, F.lit("train"))
            .when(h == SPLIT_VAL, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    assign = lab.select(
        "doc_id",
        "component_id",
        split_of("component_id").alias("comp_split"),
        split_of("doc_id").alias("naive_split"),
    )
    schemes = assign.select(
        F.lit("component").alias("scheme"),
        "doc_id",
        "component_id",
        F.col("comp_split").alias("split"),
    ).unionByName(
        assign.select(
            F.lit("doc_naive").alias("scheme"),
            "doc_id",
            "component_id",
            F.col("naive_split").alias("split"),
        )
    )
    leaky = (
        schemes.groupBy("scheme", "component_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .groupBy("scheme")
        .agg(F.count(F.lit(1)).cast("long").alias("n_leaky_components"))
    )
    summary = schemes.groupBy("scheme").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("component_id").cast("long").alias("n_components"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("long")
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )
    return (
        summary.join(leaky, "scheme", "left")
        .withColumn(
            "n_leaky_components",
            F.coalesce("n_leaky_components", F.lit(0)).cast("long"),
        )
        .orderBy("scheme")
    )
