#!/usr/bin/env python
"""Generate COVERAGE.md: one row per registered query — family, file:line,
latest CHECK_r*.json verdict, and steady-state time in the newest headline
BENCH_r<N>.json record where measured. The auditable crosswalk from
SURVEY.md §2's inventory to the code and the committed correctness
artifact.

Usage: python tools/coverage_snapshot.py

tests/test_lockstep.py::test_coverage_md_is_current fails until the file is
regenerated after any change that moves a query's line.
"""

from __future__ import annotations

import inspect
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def _newest(pattern: str, rank) -> Path | None:
    """The artifact matching ``pattern`` whose ``rank(path)`` is highest
    (None ranks are skipped)."""
    ranked = [(rank(p), p) for p in REPO.glob(pattern)]
    ranked = [r for r in ranked if r[0] is not None]
    return max(ranked)[1] if ranked else None


def _check_rank(p: Path):
    # latest round's sweep; prefer the plain (sf0.01) artifact over
    # sf-suffixed siblings of the same round
    m = re.match(r"CHECK_r(\d+)", p.name)
    return m and (int(m.group(1)), p.name == f"CHECK_r{m.group(1)}.json")


def _bench_rank(p: Path):
    # headline records only (BENCH_r16.json, not BENCH_r16_c8.json or a
    # stress record), newest round by number, not by name
    m = re.fullmatch(r"BENCH_r(\d+)\.json", p.name)
    return m and int(m.group(1))


def render() -> str:
    """COVERAGE.md's text for the registry and artifacts as they are."""
    from hdfs_mr_spark.registry import all_specs

    check_path = _newest("CHECK_r*.json", _check_rank)
    check_name = check_path.name if check_path else "-"
    check = json.loads(check_path.read_text()).get("queries", {}) if check_path else {}
    bench_path = _newest("BENCH_r*.json", _bench_rank)
    bench_name = bench_path.name if bench_path else "-"
    raw = json.loads(bench_path.read_text()) if bench_path else {}
    bench = raw.get("parsed", raw).get("queries", {})

    rows = []
    for name, spec in all_specs().items():
        fn = inspect.unwrap(spec.fn)
        src = Path(inspect.getsourcefile(fn)).resolve().relative_to(REPO)
        line = inspect.getsourcelines(fn)[1]
        c = check.get(name)
        status = ("PASS" if c["ok"] else "FAIL") if c is not None else "-"
        b = bench.get(name)
        rows.append((spec.family, name, f"{src}:{line}", status,
                     f"{b:.2f}" if b is not None else "-"))
    rows.sort()

    out = [
        "# Coverage crosswalk (auto-generated)\n",
        "`python tools/coverage_snapshot.py` — every registered query, its",
        f"implementation site, its verdict in the committed {check_name}",
        "full-sweep artifact (sf0.01 DuckDB oracle), and its steady-state",
        f"time in the headline bench record {bench_name} (sf{raw.get('sf', '-')})",
        "where it is in that suite.\n",
        f"Total: {len(rows)} queries; "
        f"{sum(1 for r in rows if r[3] == 'PASS')} PASS in {check_name} "
        f"(rows marked '-' postdate that sweep or were checked separately).\n",
        f"| family | query | impl | {check_name} | {bench_name} s |",
        "|---|---|---|---|---|",
    ]
    for fam, name, loc, status, b in rows:
        out.append(f"| {fam} | `{name}` | {loc} | {status} | {b} |")
    return "\n".join(out) + "\n"


def main() -> int:
    text = render()
    (REPO / "COVERAGE.md").write_text(text)
    print("wrote COVERAGE.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
