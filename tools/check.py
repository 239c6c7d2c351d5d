#!/usr/bin/env python
"""Run the local parity gate: every registered query vs its DuckDB oracle.

Usage: python tools/check.py [--sf DIR] [--family F] [name ...]
Mirrors the driver's t2 check (row count + columns + exact values).
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--family", default=None,
        help='one family, named in full ("2.11 llm dedup") or by its '
             'section number ("2.1"; "2.11" selects all four 2.11 families)',
    )
    ap.add_argument(
        "--json", default=None, metavar="PATH",
        help="write per-query results as JSON (the CHECK_rN.json artifact)",
    )
    ap.add_argument(
        "--merge-into", default=None, metavar="PATH",
        help="update the named queries' records in an existing CHECK "
             "artifact in place (per-op upkeep between full sweeps)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from hdfs_mr_spark.check import check_query, oracle_connection
    from hdfs_mr_spark.registry import all_specs
    from hdfs_mr_spark.session import get_spark

    specs = all_specs()
    if args.names:
        specs = {k: v for k, v in specs.items() if k in args.names}
    if args.family:
        specs = {
            k: v for k, v in specs.items()
            if args.family in (v.family, v.family.split()[0])
        }

    spark = get_spark("parity-check")
    con = oracle_connection(args.sf)
    n_pass = n_fail = 0
    records = {}
    for name, spec in sorted(specs.items()):
        t0 = time.time()
        res = check_query(spec, spark, con, args.sf)
        dt = time.time() - t0
        mark = "PASS" if res.ok else "FAIL"
        if res.ok:
            n_pass += 1
        else:
            n_fail += 1
        records[name] = {
            "ok": res.ok, "mode": res.mode, "family": spec.family,
            "sec": round(dt, 2), "detail": res.detail,
        }
        print(f"{mark} [{res.mode:9s}] {name:28s} {dt:6.2f}s  {res.detail}")
    print(f"\n{n_pass} passed, {n_fail} failed / {len(specs)} checked @ {args.sf}")
    if args.json:
        import json

        with open(args.json, "w") as f:
            json.dump(
                {
                    "sf": args.sf, "passed": n_pass, "failed": n_fail,
                    "total": len(specs), "queries": records,
                },
                f, indent=1, sort_keys=True,
            )
            f.write("\n")
    if args.merge_into:
        # per-op artifact upkeep (VERDICT r9 item 5): update this
        # round's CHECK artifact in place, so the registry<->artifact
        # gate (tests/test_parity.py) stays green between the round's
        # full sweeps and an op can never be registered without a
        # recorded oracle verdict
        import json
        import os

        merged = {"sf": args.sf, "queries": {}}
        if os.path.exists(args.merge_into):
            with open(args.merge_into) as f:
                merged = json.load(f)
        merged["queries"].update(records)
        merged["passed"] = sum(1 for r in merged["queries"].values() if r["ok"])
        merged["failed"] = sum(
            1 for r in merged["queries"].values() if not r["ok"])
        merged["total"] = len(merged["queries"])
        with open(args.merge_into, "w") as f:
            json.dump(merged, f, indent=1, sort_keys=True)
            f.write("\n")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
