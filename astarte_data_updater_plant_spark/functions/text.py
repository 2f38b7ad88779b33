"""Text primitives shared by the text-analysis and dedup operators.

Everything here compiles to Catalyst higher-order functions
(``split`` / ``transform`` / ``filter`` / ``aggregate``) so per-document
work happens inside whole-stage codegen with no shuffle and no Python.
Tokenization is single-space split — the synthetic corpus is
space-joined words — and MUST stay in lockstep with the DuckDB oracle
(``string_split(text, ' ')``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Stopword list for quality scoring / language ID. Order matters for
#: deterministic tie-breaks; keep in sync with oracle SQL literals.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

#: Language marker words (n-gram heuristic in word form). The corpus is
#: synthetic spark-vocabulary text, so scores are mostly 0 — the point
#: is the deterministic argmax machinery, not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of"),
    "es": ("el", "la", "de", "y"),
    "fr": ("le", "la", "et", "de"),
    "de": ("der", "die", "und", "das"),
    "zh": ("de", "le", "he", "shi"),
}


def tokens(col: Column) -> Column:
    return F.split(col, " ")


def distinct_tokens(col: Column) -> Column:
    return F.array_distinct(tokens(col))


def n_tokens(col: Column) -> Column:
    # long, not int: the DuckDB oracle's len() is BIGINT, and the
    # driver's value hash is Arrow-dtype-sensitive (see
    # tests/oracle_utils.dtype_skews).
    return F.size(tokens(col)).cast("long")


def stopword_count(col: Column) -> Column:
    toks = tokens(col)
    return F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("long")


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """k-word shingles from a pre-materialized token array.

    Pass a column REFERENCE to an already-projected token array —
    inlining ``split(...)`` here makes Catalyst re-evaluate the split
    for every element_at inside the lambda (measured 3-4x slowdown).

    ``transform(sequence(1, n-k+1), i -> concat(tok[i..i+k-1]))`` —
    1-indexed to match DuckDB list semantics exactly.
    """
    n = F.size(toks)
    # Guard: sequence(1, 0) is the DESCENDING array [1, 0] in Spark, and
    # element_at(toks, 0) then throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT.
    # Docs with fewer than k tokens must yield an empty shingle array,
    # matching the DuckDB oracle's range() semantics.
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )

    def build(i: Column) -> Column:
        parts = [F.element_at(toks, i + j) for j in range(k)]
        return F.concat_ws(" ", *parts)

    return F.transform(idx, build)


def shingles(col: Column, k: int = 3) -> Column:
    """k-word shingles of a text column (prefer shingles_from_tokens
    over a projected token array in hot paths)."""
    return shingles_from_tokens(tokens(col), k)


#: Smallest prime above 2^32 — the universal-hash modulus shared with
#: the DuckDB oracle. a*h32 < 2^30 * 2^32 = 2^62 never overflows a
#: signed 64-bit in either engine.
MINHASH_PRIME = 4294967311

#: Fixed (a, b) permutation constants (a < 2^30): h_i = (a*h + b) % P.
MINHASH_PERMS = (
    (1000000007, 12821),
    (999999937, 55871),
    (998244353, 34543),
    (985661441, 81919),
    (976224257, 17),
    (943718401, 2029),
    (935329793, 50021),
    (897581057, 65537),
)


def shingle_h32(s: Column) -> Column:
    """32-bit integer hash of a shingle: first 8 hex chars of md5,
    parsed base-16. Computed ONCE per shingle; the k MinHash
    coordinates are then k cheap integer permutations of it, instead
    of k full md5 evaluations (measured ~8x less hashing in the LSH
    pipeline). Bit-identical to the oracle's
    ``('0x' || substr(md5(s),1,8))::BIGINT``."""
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10).cast("bigint")


def minhash_perm(i: int):
    """Closure factory: 1-arg lambda for F.transform (a 2-arg lambda
    would bind the array index as the 2nd parameter)."""
    a, b = MINHASH_PERMS[i]
    return lambda h: (F.lit(a).cast("bigint") * h + F.lit(b)) % F.lit(MINHASH_PRIME)
