"""SimHash document fingerprints (64-bit, md5 bit family).

Charikar-style similarity hash: each 3-word shingle votes +1/-1 on 64
bit positions according to its md5 bits; the sign of each position's
tally becomes the fingerprint bit. Near-dup docs differ in few bits
(Hamming distance), so at scale candidate pairs come from equi-joins
on fingerprint prefixes — same bucket-join topology as MinHash-LSH.

Everything is integer arithmetic over md5 nibbles, so Spark and the
DuckDB oracle agree bit-for-bit. The 64 per-position tallies are
generated as column expressions from one exploded (doc, shingle-hash)
frame: one shuffle on doc_id, 64 algebraic aggregates (map-side
partial), no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import shingles_from_tokens
from ..plans.fragments import fragment
from ..functions.skew import guarded_self_pairs
from ..plans.registry import register
from ..sources.tables import load_table

N_BITS = 64
_HEX = "0123456789abcdef"


def _nibble_sql(hash_col: str, i: int) -> str:
    """DuckDB: value of hex digit i (0-based) of the md5 as 0..15."""
    return f"(strpos('{_HEX}', substr({hash_col}, {i + 1}, 1)) - 1)"


def _bit_sql(hash_col: str, bit: int) -> str:
    """Bit `bit` (0..63) of the first 16 hex chars, as a +1/-1 vote."""
    nib, off = divmod(bit, 4)
    return f"CASE WHEN ({_nibble_sql(hash_col, nib)} // {2 ** off}) % 2 = 1 THEN 1 ELSE -1 END"


def _tally_sql() -> str:
    return ", ".join(f"SUM({_bit_sql('h', b)}) AS s{b}" for b in range(N_BITS))


def _hexchar_sql(nib_expr: str) -> str:
    return f"substr('{_HEX}', CAST({nib_expr} AS INT) + 1, 1)"


def _simhash_hex_sql() -> str:
    """Assemble 16 hex chars from the 64 sign bits (s_b >= 0 -> 1)."""
    parts = []
    for nib in range(16):
        bits = [f"(CASE WHEN s{nib * 4 + o} >= 0 THEN 1 ELSE 0 END) * {2 ** o}" for o in range(4)]
        parts.append(_hexchar_sql(" + ".join(bits)))
    return " || ".join(parts)


# Fingerprint derivation as oracle CTEs, shared by q43 (fingerprints)
# and q46 (banded near-dup pairs over the fingerprints).
_SIMHASH_CTES_SQL = f"""
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(string_split(text,' ')) - 1, 1)),
        i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
             || ' ' || string_split(text,' ')[i+2]))) AS shingle
      FROM documents
    ), hashed AS (
      SELECT doc_id, md5(shingle) AS h FROM sh
    ), tally AS (
      SELECT doc_id, {_tally_sql()}
      FROM hashed GROUP BY doc_id
    ), fingerprints AS (
      SELECT doc_id, {_simhash_hex_sql()} AS simhash FROM tally
    )
"""


@register(
    "q43_simhash",
    f"""
    WITH {_SIMHASH_CTES_SQL}
    SELECT doc_id, simhash FROM fingerprints
    ORDER BY doc_id
    """,
    doc="64-bit SimHash per document from md5 shingle bits; integer "
    "votes + sign, fully hash-stable. Scale path for near-dup: bucket "
    "by fingerprint prefix, verify by Hamming distance in-bucket.",
)
def q43_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(spark, sf_dir).orderBy("doc_id")


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash hex16) — shared by q43 and q46."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", F.split("text", " ").alias("toks"))
    sh = toked.select(
        "doc_id",
        F.explode(F.array_distinct(shingles_from_tokens(F.col("toks"), 3))).alias("shingle"),
    )
    hashed = sh.select("doc_id", F.md5(F.col("shingle")).alias("h"))

    def nibble(i: int):
        return F.instr(F.lit(_HEX), F.substring(F.col("h"), i + 1, 1)) - 1

    def bit_vote(bit: int):
        nib, off = divmod(bit, 4)
        is_set = ((nibble(nib) / (2**off)).cast("int") % 2) == 1
        return F.when(is_set, F.lit(1)).otherwise(F.lit(-1))

    tally = hashed.groupBy("doc_id").agg(
        *[F.sum(bit_vote(b)).alias(f"s{b}") for b in range(N_BITS)]
    )
    hex_arr = F.array(*[F.lit(c) for c in _HEX])
    hex_chars = []
    for nib in range(16):
        val = None
        for o in range(4):
            term = F.when(F.col(f"s{nib * 4 + o}") >= 0, F.lit(2**o)).otherwise(F.lit(0))
            val = term if val is None else (val + term)
        hex_chars.append(F.element_at(hex_arr, (val + 1).cast("int")))
    simhash = F.concat(*hex_chars)
    return tally.select("doc_id", simhash.alias("simhash"))


N_SIM_BANDS = 4  # 4 bands x 16 bits: any pair within Hamming 3 is guaranteed a band hit
HAMMING_MAX = 16


def _ham_nib_sql(a: str, b: str, i: int) -> str:
    return f"bit_count(xor({_nibble_sql(a, i)}, {_nibble_sql(b, i)}))"


_HAMMING_SQL = " + ".join(_ham_nib_sql("x.simhash", "y.simhash", i) for i in range(16))


def _to_bands(fp: DataFrame) -> DataFrame:
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.substring("simhash", 1 + 4 * b, 4).alias("bval"),
            )
            for b in range(N_SIM_BANDS)
        ]
    )
    return fp.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.b").alias("b"), F.col("bb.bval").alias("bval")
    )


def simhash_band_candidates(
    fp: DataFrame,
    probe_key: tuple[str, str] | None = None,
    probe_fp: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from the 4x16-bit band equi-join
    over the fingerprints — shared by q46 (Hamming verify) and q87
    (edit-distance verify). ``probe_fp`` (a cheap deterministic 1/8
    fingerprint sample rebuilt from the scan) keeps the skew probe from
    materializing the full fingerprint fragment on a cold run."""
    bands = _to_bands(fp)
    # skew-guarded (functions/skew.py): a pathological fingerprint band
    # shared corpus-wide salt-splits instead of stalling one task; pair
    # semantics identical to the plain self-join the oracle states
    probe = _to_bands(probe_fp) if probe_fp is not None else None
    return guarded_self_pairs(
        bands, ["b", "bval"], "doc_id", probe_key=probe_key,
        probe_bands=probe, probe_scale=8 if probe is not None else 1,
    )


# Band-candidate CTEs over the fingerprints, the oracle twin of
# simhash_band_candidates.
_SIMHASH_CAND_CTES_SQL = f"""
    bands AS (
      SELECT doc_id, b, substr(simhash, 1 + 4 * b, 4) AS bval
      FROM fingerprints, (SELECT unnest(range(0, {N_SIM_BANDS})) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.bval = c.bval AND a.doc_id < c.doc_id
    )
"""


@register(
    "q46_simhash_near_dup",
    f"""
    WITH {_SIMHASH_CTES_SQL},
    {_SIMHASH_CAND_CTES_SQL}
    SELECT cand.doc_a, cand.doc_b,
           CAST({_HAMMING_SQL} AS BIGINT) AS hamming
    FROM cand
    JOIN fingerprints x ON x.doc_id = cand.doc_a
    JOIN fingerprints y ON y.doc_id = cand.doc_b
    WHERE {_HAMMING_SQL} <= {HAMMING_MAX}
    ORDER BY doc_a, doc_b
    """,
    doc="SimHash near-dup pairs, the banded scale topology: the 64-bit "
    "fingerprint splits into 4 16-bit bands, candidates come from a "
    "keyed equi-join on (band, value) — any pair within Hamming "
    "distance 3 is pigeonhole-guaranteed a band collision, farther "
    "pairs probabilistically — and exact Hamming distance "
    "(bit_count(xor) per nibble, integer-exact on both engines) "
    "verifies candidates only. Same candidate-generation/verify "
    "separation as MinHash-LSH (q42) but with O(1)-size fingerprints "
    "instead of shingle sets, which is what you ship when state per "
    "doc must be constant at 100 TB.",
)
def q46_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = fragment(
        spark, sf_dir, "simhash_fp", lambda: simhash_fingerprints(spark, sf_dir)
    )
    cand = simhash_band_candidates(fp, probe_key=(sf_dir, "simhash_bands"))

    def nib_of(col: str, i: int):
        return F.instr(F.lit(_HEX), F.substring(F.col(col), i + 1, 1)) - 1

    hamming = None
    for i in range(16):
        term = F.bit_count(nib_of("sim_a", i).bitwiseXOR(nib_of("sim_b", i)))
        hamming = term if hamming is None else (hamming + term)
    xa = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"))
    xb = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"))
    return (
        cand.join(xa, "doc_a")
        .join(xb, "doc_b")
        .withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


#: Accept a pair when 10*levenshtein <= 3*max(len) — integer-exact
#: formulation of "edit distance within 30% of the longer text".
LEV_NUM, LEV_DEN = 3, 10


@register(
    "q87_edit_distance_near_dup",
    f"""
    WITH {_SIMHASH_CTES_SQL},
    {_SIMHASH_CAND_CTES_SQL}
    SELECT cand.doc_a, cand.doc_b,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance
    FROM cand
    JOIN documents da ON da.doc_id = cand.doc_a
    JOIN documents db ON db.doc_id = cand.doc_b
    WHERE {LEV_DEN} * levenshtein(da.text, db.text)
          <= {LEV_NUM} * greatest(len(da.text), len(db.text))
    ORDER BY doc_a, doc_b
    """,
    doc="Fuzzy matching with an exact metric: Levenshtein edit "
    "distance verifies near-duplicate candidates, accepting pairs "
    "within 30% of the longer text (stated in integer arithmetic so "
    "both engines cut identically). Computing O(n*m) edit distance "
    "on ALL pairs is unthinkable at corpus scale, so the SimHash "
    "band join supplies the candidates and the quadratic metric "
    "touches only those — the candidate-generation/verify split "
    "again, now with the costliest verifier in the ladder. The "
    "record-linkage primitive for noisy near-identical text "
    "(OCR scans, crawl re-fetches, template drift).",
)
def q87_edit_distance_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = fragment(
        spark, sf_dir, "simhash_fp", lambda: simhash_fingerprints(spark, sf_dir)
    )
    cand = simhash_band_candidates(fp, probe_key=(sf_dir, "simhash_bands"))
    docs = load_table(spark, sf_dir, "documents")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    lev = F.levenshtein("text_a", "text_b")
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(
            LEV_DEN * lev <= LEV_NUM * F.greatest(F.length("text_a"), F.length("text_b"))
        )
        .select("doc_a", "doc_b", lev.cast("bigint").alias("edit_distance"))
        .orderBy("doc_a", "doc_b")
    )
