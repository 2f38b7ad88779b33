"""Skew-aware join: key salting for hot keys.

The reference never joins fact x fact (Cassandra's partition key does
the hashing), but at 100 TB our engine does — and a handful of hot
devices/shingles/buckets can stall a shuffle join on one straggler
task. AQE's skew-join splitting (enabled in session.py) handles most
cases at runtime; this helper is the explicit form for joins AQE
cannot split (e.g. when the skewed side must aggregate first, or on
engines/configs without AQE).

Standard construction (public knowledge, e.g. the Spark docs' skew
recipes): the LARGE side gets a deterministic salt in [0, N) derived
from row identity, the SMALL side is replicated N times, and the join
key becomes (key, salt). Equivalence to the unsalted join holds
because every (key, salt) pair on the left meets exactly one replica
on the right.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.fragments import memo
from ..sources.tables import local_rows

DEFAULT_SALT = 16


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: list[str],
    *,
    salt_from: str | Column,
    n_salts: int = DEFAULT_SALT,
    how: str = "inner",
) -> DataFrame:
    """Join ``large`` x ``small`` on ``on`` with an ``n_salts``-way
    salt spreading each hot key across tasks.

    ``salt_from`` is a column of the large side used to derive a
    DETERMINISTIC salt (reproducible runs, unlike ``rand()``); pick a
    high-cardinality column such as a row id. The small side is
    replicated ``n_salts``x, so keep it the dimension side.
    """
    salt_col = F.pmod(
        F.xxhash64(F.col(salt_from) if isinstance(salt_from, str) else salt_from),
        F.lit(n_salts),
    ).cast("int")
    left = large.withColumn("__salt", salt_col)
    right = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = left.join(right, on + ["__salt"], how)
    return out.drop("__salt")


#: buckets above this row count get the salted-split treatment in
#: guarded_self_pairs — far above anything a healthy LSH banding
#: produces (3-word shingles cap buckets at ~8 on the synthetic
#: corpus), so the guard is a no-op until a pathological corpus
#: (one boilerplate shingle in 30% of docs) actually appears
SELF_PAIR_BUCKET_CAP = 256

#: hard bound on the hot-key probe's driver collect: guarding is a
#: physical-distribution hint, so capping the list at the N HOTTEST
#: buckets keeps the result exact (unguarded buckets just take the
#: plain join) while bounding driver memory and the broadcast even on
#: a corpus where thousands of buckets exceed the cap (ADVICE r5)
MAX_HOT_KEYS = 1024


def guarded_self_pairs(
    bands: DataFrame,
    key_cols: list[str],
    id_col: str,
    *,
    cap: int = SELF_PAIR_BUCKET_CAP,
    n_salts: int = DEFAULT_SALT,
    probe_key: tuple[str, str] | None = None,
    probe_bands: DataFrame | None = None,
    probe_scale: int = 1,
    pair_cond: Column | None = None,
) -> DataFrame:
    """All (id_a < id_b) pairs sharing a bucket key, skew-guarded.

    ``pair_cond`` (over the ``a.``/``b.`` aliases, e.g. the AllPairs
    length filter ``2 * a.n >= b.n``) is AND'd into the join condition
    itself, so disqualified pairs are dropped inside the join instead
    of being materialized, deduped, and shipped to a verify stage —
    the columns it references must be carried on ``bands``. Callers
    must only pass LOSSLESS predicates (ones implied by the final
    similarity threshold): the oracle stays the plain self-join.

    The LSH candidate generators self-join on bucket keys; a healthy
    banding bounds bucket sizes by construction, but one pathological
    key (a boilerplate shingle shared by 30% of the corpus) turns the
    equi-join into a single straggler task materializing B^2 rows.
    This helper splits the join by MEASURED bucket size:

    - cold buckets (size <= cap): the plain equi-join, unchanged;
    - hot buckets: the q58 salting pattern adapted to a self-join —
      the left side takes a deterministic n_salts-way salt from its
      row id, the right side replicates across every salt, so every
      cross pair still meets exactly once while the hot bucket's work
      spreads over n_salts tasks.

    Pair semantics are EXACTLY the unguarded join's (the oracle SQL
    stays the plain self-join); only the physical distribution
    changes. The hot-key list is measured ONCE at plan-build time (a
    bounded collect — pathological keys are few by definition, and the
    band frames at the call sites are pinned fragments, so the probe is
    one cached aggregate): on a healthy corpus the guard costs nothing —
    the returned plan IS the plain self-join (measured: the always-on
    cold/hot split tripled q42 at sf0.1 guarding against a skew that
    wasn't there). ``probe_key`` ``(sf_dir, call_site)`` memoizes the
    list per input snapshot of ``sf_dir`` (plans/fragments.memo).
    """

    def pairs(df: DataFrame, extra_key: list[str]) -> DataFrame:
        a = df.alias("a")
        b = df.alias("b")
        cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        for k in key_cols + extra_key:
            cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
        if pair_cond is not None:
            cond = cond & pair_cond
        return a.join(b, cond).select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )

    def probe() -> list:
        # probe_bands lets callers supply a CHEAP deterministic sample
        # (e.g. 1/probe_scale of documents, filter pushed to the scan)
        # so a cold probe never has to materialize the full band frame;
        # the threshold scales with the sample. A barely-hot bucket the
        # sample misses is harmless (the plain join handles it); the
        # pathological corpus-wide bucket the guard exists for is
        # unmissable at any sane sample rate.
        src = probe_bands if probe_bands is not None else bands
        thresh = max(1, cap // probe_scale)
        sizes = src.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__bsz"))
        # bounded collect: keep only the MAX_HOT_KEYS HOTTEST buckets
        # (TakeOrdered, not a full sort) — correctness never depends on
        # the list, so truncation only leaves the (1025th-hottest and
        # colder) buckets on the plain-join path
        return [
            r[:-1]
            for r in sizes.filter(F.col("__bsz") > thresh)
            .orderBy(F.col("__bsz").desc(), *key_cols)
            .limit(MAX_HOT_KEYS)
            .collect()
        ]

    if probe_key is None:
        hot_keys = probe()
    else:
        sf_dir, site = probe_key
        hot_keys = memo(
            bands.sparkSession, sf_dir, f"hot_keys:{site}:{cap}", probe
        )
    if not hot_keys:
        return pairs(bands, []).distinct()

    hot = F.broadcast(
        local_rows(bands.sparkSession, hot_keys, bands.select(*key_cols).schema)
    )
    cold = bands.join(hot, key_cols, "left_anti")
    cold_pairs = pairs(cold, [])

    hot_rows = bands.join(hot, key_cols, "left_semi")
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).cast("int")
    left = hot_rows.withColumn("__salt", salt)
    right = hot_rows.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    a = left.alias("a")
    b = right.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        F.col("a.__salt") == F.col("b.__salt")
    )
    for k in key_cols:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    if pair_cond is not None:
        cond = cond & pair_cond
    hot_pairs = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
    )
    return cold_pairs.unionByName(hot_pairs).distinct()
