"""Invariants of the bench_scaling dataset builder.

The two-point scaling bench (BENCH_SCALING_r06.json) is only meaningful
if the R-fold replication preserves workload shape: fact volumes scale
by exactly R, dimensions stay fixed, referential integrity holds within
every copy, and the per-copy text tagging keeps near-dup structure from
inflating across copies (a naive copy would square the LSH pair count).
These tests pin those properties at R=2 on sf0.001 so a builder
regression can't silently invalidate a future round's curve.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

import bench_scaling
from bench_scaling import build_scaled, run_child

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def scaled(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("scale2"))
    r1, r2 = f"{root}/r1", f"{root}/r2"
    build_scaled(spark, SRC, r1, 1)
    build_scaled(spark, SRC, r2, 2)
    return r1, r2


def _count(d: str, tbl: str) -> int:
    (n,) = duckdb.sql(f"SELECT COUNT(*) FROM '{d}/{tbl}.parquet/*.parquet'").fetchone()
    return n


def test_fact_tables_scale_by_r_dims_fixed(scaled):
    r1, r2 = scaled
    for tbl in ("lineitem", "orders", "customer", "documents", "embeddings", "events"):
        assert _count(r2, tbl) == 2 * _count(r1, tbl), tbl
    for tbl in ("region", "nation"):
        assert _count(r2, tbl) == _count(r1, tbl), tbl


def test_referential_integrity_within_copies(scaled):
    _r1, r2 = scaled
    (orphans,) = duckdb.sql(
        f"""SELECT COUNT(*) FROM '{r2}/orders.parquet/*.parquet' o
            WHERE NOT EXISTS (SELECT 1 FROM '{r2}/customer.parquet/*.parquet' c
                              WHERE c.c_custkey = o.o_custkey)"""
    ).fetchone()
    assert orphans == 0
    (orphans,) = duckdb.sql(
        f"""SELECT COUNT(*) FROM '{r2}/lineitem.parquet/*.parquet' l
            WHERE NOT EXISTS (SELECT 1 FROM '{r2}/orders.parquet/*.parquet' o
                              WHERE o.o_orderkey = l.l_orderkey)"""
    ).fetchone()
    assert orphans == 0


def test_keys_unique_after_replication(scaled):
    _r1, r2 = scaled
    for tbl, key in (
        ("customer", "c_custkey"),
        ("orders", "o_orderkey"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("events", "event_id"),
    ):
        n, d = duckdb.sql(
            f"SELECT COUNT(*), COUNT(DISTINCT {key}) "
            f"FROM '{r2}/{tbl}.parquet/*.parquet'"
        ).fetchone()
        assert n == d, tbl


def test_near_dup_pairs_scale_exactly_linearly(spark, scaled):
    """Cross-copy shingle overlap must be ZERO: the q42 pair count at
    R=2 equals exactly 2x the R=1 count (each copy reproduces the
    original near-dup structure, no cross-copy cliques)."""
    from astarte_data_updater_plant_spark.plans.fragments import clear_memos
    from astarte_data_updater_plant_spark.plans.registry import queries_map

    r1, r2 = scaled
    q42 = queries_map()["q42_lsh_near_dup_pairs"]
    clear_memos()
    n1 = q42(spark, r1).count()
    n2 = q42(spark, r2).count()
    clear_memos()
    assert n1 > 0
    assert n2 == 2 * n1


def test_child_scratch_sweep_spares_other_sessions(tmp_path):
    """A sweep child gets its own SPARK_LOCAL_DIRS under the parent's
    root, and only that directory is deleted when the child exits: a
    concurrent session's scratch outside the root survives."""
    root = tmp_path / "root"
    root.mkdir()
    other = tmp_path / "blockmgr-concurrent"
    other.mkdir()
    (other / "shuffle_0_0_0.data").write_text("live")
    child = (
        "import os; d = os.environ['SPARK_LOCAL_DIRS']; "
        "os.makedirs(os.path.join(d, 'blockmgr-child')); print(d)"
    )
    r = run_child(
        [sys.executable, "-c", child], str(root), "q42",
        capture_output=True, text=True, check=True,
    )
    local = r.stdout.strip()
    assert os.path.dirname(local) == str(root)
    assert not os.path.exists(local)
    assert (other / "shuffle_0_0_0.data").read_text() == "live"


def test_unknown_option_is_a_usage_error(monkeypatch):
    """An unrecognised ``--`` argument, such as a retired experiment
    mode's flag, exits with a usage error instead of starting the
    multi-hour sweep under that string as its round label."""

    def _no_sweep(*_a, **_k):
        raise AssertionError("the sweep started")

    monkeypatch.setattr(bench_scaling, "get_spark", _no_sweep)
    monkeypatch.setattr(sys, "argv", ["bench_scaling.py", "--q199-ab"])
    with pytest.raises(SystemExit) as exc:
        bench_scaling.main()
    assert exc.value.code != 0
    assert "unknown option --q199-ab" in str(exc.value.code)
    assert "usage:" in str(exc.value.code)
