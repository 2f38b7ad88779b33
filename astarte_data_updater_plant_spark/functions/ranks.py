"""Fully-parallel global ordering primitives (rank / ntile / prefix sum).

``Window.orderBy(...)`` with no ``partitionBy`` compiles to a WindowExec
on ONE partition — Spark moves the entire input to a single task ("Moving
all data to a single partition" warning), a one-executor bottleneck at
100 TB however correct it is locally.  Spark does NOT range-partition
empty-partition windows for you.

This module provides the exact semantics of a global ``row_number()`` /
``ntile(n)`` / running ``sum()`` as a two-phase plan that stays parallel.

Why not ``repartitionByRange``: Spark's RangePartitioner draws its
boundary sample with a seed that includes the RDD id, so two physical
builds of the *same* range exchange can land DIFFERENT boundaries.  A
rank plan references its partitioned input from several branches (the
rank rows, the per-partition counts, the grand total); unless every
branch collapses onto one reused exchange — which depends on fragile
canonical-plan equality that column pruning and constant folding break —
offsets keyed by one partitioning get applied to rows from another and
every rank silently corrupts (observed: duplicated/lost rows at sf0.01).

Instead the partitioning here is an explicit, DETERMINISTIC bucket
column, a pure function of the row's sort key:

1. Boundary discovery (ONE bounded driver action at plan-build time):
   a bottom-k-by-hash sketch — the ``32·B`` rows with the smallest
   ``xxhash64(key)`` (deterministic, unlike random sampling; keys are
   unique by the total-order requirement, so this is a uniform sample)
   via ``orderBy(hash).limit(32·B)``, which compiles to a distributed
   TakeOrdered (per-partition top-k, driver merge — no count pass, no
   full shuffle); the sorted sample yields ``B-1`` lexicographic cut
   points (~32·B key tuples on the driver, independent of table size).
2. ``bucket = size(filter(boundaries, b -> b < key_struct))`` — a pure
   projection; every branch that recomputes it gets identical buckets
   by construction.  Struct comparison is lexicographic over the key.
3. Per-bucket ``row_number``/running sums over
   ``Window.partitionBy(bucket)`` — a KEYED window: one deterministic
   hash shuffle, fully parallel.
4. Per-bucket counts/sums aggregate map-side to ~B rows; exclusive
   offsets come from a broadcast theta-join over that tiny frame
   (B x B nested loop) and broadcast back.

Global position = bucket offset + local position.  Exact, deterministic
across branches, actions, and retries; the only full-data movement is
the one hash shuffle any distributed sort pays.

Requirements / bounds:
- ``sort_cols`` must be a TOTAL order (include a unique tie-breaker) for
  ``rank`` to be deterministic, and keys must be NON-NULL (no NULLS
  FIRST semantics).  For min/max-of-ties rank semantics (Mann-Whitney
  average ranks) tie positions stay contiguous — ties bucket together —
  so ``min(rank) over (partition by key)`` is the exact lower rank.
- DESC columns are passed as ``(col, "desc")`` and must be numeric: the
  helper negates them into ascending keys (exact for ints; for doubles
  exact except NaN, which the non-null total-order requirement already
  excludes).
- Bucket balance follows the sample like any sampled range sort
  (~32 samples per cut point); a massively duplicated full key would
  skew one bucket, but the total-order requirement already excludes
  duplicated full keys.
- NTILE math divides longs as doubles; exact while bucket sizes stay
  under 2^53 rows (always).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.fragments import memo

__all__ = ["with_global_order", "global_ntile_expr"]

#: target sample keys per cut point (the same order of magnitude Spark's
#: own range sampler uses); driver holds ~SAMPLES_PER_BUCKET * buckets
#: key tuples regardless of table size
SAMPLES_PER_BUCKET = 32

def _normalize(sort_cols) -> list[Column]:
    """(col | str | (col, "desc")) -> ascending key Columns."""
    out = []
    for c in sort_cols:
        if isinstance(c, tuple):
            col, direction = c
            col = F.col(col) if isinstance(col, str) else col
            if direction == "desc":
                col = -col
            out.append(col)
        else:
            out.append(F.col(c) if isinstance(c, str) else c)
    return out


def with_global_order(
    df: DataFrame,
    sort_cols: Sequence,
    *,
    rank: str | None = None,
    total: str | None = None,
    ntile: tuple[int, str] | None = None,
    cumsums: Iterable[tuple[str, str, str]] = (),
    num_partitions: int | None = None,
    boundary_key: tuple[str, str] | None = None,
) -> DataFrame:
    """Attach exact global-order columns without a single-partition sort.

    sort_cols: str | Column (ascending) or ``(col, "desc")`` (numeric)
    rank:   output column for the global ``row_number()`` (LONG, 1-based)
    total:  output column for the global row count (LONG, on every row)
    ntile:  ``(n_buckets, out_col)`` — SQL NTILE(n) semantics (LONG,
            1-based; the first ``total % n`` buckets take the extra row)
    cumsums: ``(value_col, out_col, kind)`` with kind ``"inclusive"`` or
            ``"exclusive"`` — exact running SUM(value) over the global
            order (exclusive = sum of strictly-preceding rows, 0 first)
    boundary_key: opt-in memo key ``(sf_dir, call_site)``, e.g.
            ``(sf_dir, "q126")``, for an input derived from ``sf_dir``:
            repeated plan builds over the same input snapshot reuse the
            bucket column (plans/fragments.memo) and skip the boundary
            probe action and the projection's ``.schema`` analysis.
    """
    cumsums = list(cumsums)
    if not (rank or total or ntile or cumsums):
        raise ValueError("request at least one output column")
    sc = _normalize(sort_cols)
    spark = df.sparkSession
    n_buckets = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    if boundary_key is None:
        bucket = _bucket_column(df, sc, n_buckets)
    else:
        # the memoized Column is a pure projection over the cut
        # literals baked into it; phases 2-3 are exact for ANY cut
        # list, so the memo is a performance hint, never a result input
        sf_dir, site = boundary_key
        bucket = memo(
            spark, sf_dir, f"rank_bucket:{site}:{n_buckets}",
            lambda: _bucket_column(df, sc, n_buckets),
        )
    return _attach_order_outputs(df, sc, bucket, rank, total, ntile, cumsums)


def _bucket_column(df: DataFrame, sc: list[Column], n_buckets: int) -> Column:
    """Phase 1: ONE bounded probe action discovers the cut list, and
    the bucket column compares each row's key struct against it."""
    keyed = df.select(*[c.alias(f"_gk{i}") for i, c in enumerate(sc)])
    key_fields = keyed.schema.fields
    boundaries: list[tuple] = []
    if n_buckets > 1:
        # bottom-k by xxhash64(key): a deterministic uniform sample
        # of exactly min(n_rows, 32*B) rows in a single TakeOrdered
        # action (per-partition top-k + driver merge) — no separate
        # count() pass sizing a stride. Ties on the hash break on
        # the full key (a total order), so the sample is bit-stable
        # across retries.
        k_names = [f.name for f in key_fields]
        sample = (
            keyed.withColumn("_gh", F.xxhash64(*[F.col(n) for n in k_names]))
            .orderBy("_gh", *k_names)
            .limit(n_buckets * SAMPLES_PER_BUCKET)
            .drop("_gh")
            .collect()
        )
        # null-safe, matching Spark's ascending null ordering
        # (nulls FIRST) so the driver-picked cuts agree with the
        # executor-side struct comparison — a bare tuple(r) sort
        # raises TypeError the moment a sampled key is null
        # (surfaced by q223's gated-null weight, ADVICE r9)
        sample.sort(
            key=lambda r: tuple(
                (v is not None, 0 if v is None else v) for v in r
            )
        )
        # a 1-row (or all-identical-key) sample still yields ONE
        # cut after dedupe: phases 2-4 are exact for ANY cut list,
        # and a non-empty list keeps the bucket column a real
        # expression — with boundaries=[] the bucket is lit(0),
        # Catalyst constant-folds the window's partition spec away,
        # and the plan regresses to the banned single-partition
        # WindowExec (caught by the repo-wide sweep when r13's
        # q145 histogram input collapsed to one distinct score)
        if sample:
            step = len(sample) / n_buckets
            cuts = []
            for i in range(1, n_buckets):
                t = tuple(sample[min(int(i * step), len(sample) - 1)])
                if not cuts or t != cuts[-1]:
                    cuts.append(t)
            boundaries = cuts
        else:
            # EMPTY input: synthesize one all-NULL sentinel cut so
            # even an empty-snapshot plan keeps a real (non-foldable)
            # bucket expression — phases 2-4 are exact for ANY cut
            # list, and with boundaries=[] the lit(0) bucket would
            # constant-fold the window's partition spec back into
            # the banned single-partition WindowExec shape
            # (ADVICE r13: the 1-row/all-tied guard above did not
            # cover the zero-row sample)
            boundaries = [tuple(None for _ in key_fields)]

    key_struct = F.struct(
        *[c.alias(f"_gk{i}") for i, c in enumerate(sc)]
    )
    if boundaries:
        blits = F.array(
            *[
                F.struct(
                    *[
                        F.lit(v).cast(key_fields[j].dataType).alias(f"_gk{j}")
                        for j, v in enumerate(b)
                    ]
                )
                for b in boundaries
            ]
        )
        # bucket = number of cut points strictly below my key: a pure,
        # deterministic projection — every branch recomputes it equally
        return F.size(F.filter(blits, lambda b: b < key_struct))
    return F.lit(0)


def _attach_order_outputs(
    df: DataFrame,
    sc: list[Column],
    bucket: Column,
    rank: str | None,
    total: str | None,
    ntile: tuple[int, str] | None,
    cumsums: list,
) -> DataFrame:
    """Phases 2-3 of ``with_global_order`` over a ready bucket column:
    keyed window for local position, ~B-row summary -> exclusive
    offsets, broadcast-joined back. Split out so a memoized bucket
    column skips phase 1 entirely."""
    part = df.withColumn("_go_b", bucket)

    # --- phase 2: keyed window for local position / running sums --------
    w = Window.partitionBy("_go_b").orderBy(*sc)
    local = part.withColumn("_go_lrn", F.row_number().over(w).cast("long"))
    if cumsums:
        w_run = w.rowsBetween(Window.unboundedPreceding, 0)
        for vc, out, _kind in cumsums:
            local = local.withColumn(
                f"_go_run_{out}", F.sum(vc).over(w_run).cast("long")
            )

    # --- phase 3: ~B-row per-bucket summary -> exclusive offsets --------
    aggs = [F.count(F.lit(1)).cast("long").alias("_go_cnt")]
    for vc, out, _kind in cumsums:
        aggs.append(F.sum(vc).cast("long").alias(f"_go_psum_{out}"))
    summary = part.groupBy("_go_b").agg(*aggs)

    right_cols = [
        F.col("_go_b").alias("_go_rb"),
        F.col("_go_cnt").alias("_go_rcnt"),
    ]
    for _vc, out, _kind in cumsums:
        right_cols.append(F.col(f"_go_psum_{out}").alias(f"_go_rpsum_{out}"))
    right = summary.select(*right_cols)
    off_aggs = [
        F.coalesce(F.sum("_go_rcnt"), F.lit(0)).cast("long").alias("_go_off")
    ]
    for _vc, out, _kind in cumsums:
        off_aggs.append(
            F.coalesce(F.sum(f"_go_rpsum_{out}"), F.lit(0))
            .cast("long")
            .alias(f"_go_soff_{out}")
        )
    offsets = (
        summary.join(
            F.broadcast(right), F.col("_go_rb") < F.col("_go_b"), "left"
        )
        .groupBy("_go_b")
        .agg(*off_aggs)
    )

    out_df = local.join(F.broadcast(offsets), "_go_b")
    grank = (F.col("_go_off") + F.col("_go_lrn")).cast("long")
    if rank:
        out_df = out_df.withColumn(rank, grank)
    if total or ntile:
        tot = summary.agg(
            F.coalesce(F.sum("_go_cnt"), F.lit(0)).cast("long").alias("_go_tot")
        )
        out_df = out_df.crossJoin(F.broadcast(tot))
        if total:
            out_df = out_df.withColumn(total, F.col("_go_tot"))
        if ntile:
            n, out = ntile
            out_df = out_df.withColumn(
                out, global_ntile_expr(grank, F.col("_go_tot"), n)
            )
        out_df = out_df.drop("_go_tot")
    for _vc, out, kind in cumsums:
        run = F.col(f"_go_soff_{out}") + F.col(f"_go_run_{out}")
        if kind == "exclusive":
            run = run - F.col(_vc).cast("long")
        out_df = out_df.withColumn(out, run.cast("long"))
    drop = ["_go_b", "_go_lrn", "_go_off"]
    for _vc, out, _kind in cumsums:
        drop += [f"_go_run_{out}", f"_go_soff_{out}"]
    return out_df.drop(*drop)


def global_ntile_expr(rank: Column, total: Column, n: int) -> Column:
    """SQL NTILE(n) from an exact global rank and total count.

    With q = total div n and r = total mod n, the first r buckets have
    q+1 rows and the rest q — identical to WindowExec's NTILE, so an
    oracle's ``NTILE(n) OVER (ORDER BY ...)`` matches bit-for-bit.
    """
    q = F.floor(total / n).cast("long")
    r = (total % n).cast("long")
    boundary = r * (q + 1)
    first = F.floor((rank - 1) / (q + 1)).cast("long") + 1
    rest = r + F.floor((rank - boundary - 1) / q).cast("long") + 1
    return F.when(rank <= boundary, first).otherwise(rest).cast("long")
