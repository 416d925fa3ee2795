"""Pre-driver correctness audit: run EVERY catalog entry against its
DuckDB oracle at the driver's correctness scale (sf0.01 by default) and
report per-entry row/schema/value matches — the same comparison the
driver records in CORRECTNESS_r{N}.json, but over the FULL catalog
instead of the driver's 50-entry window.

Usage: python tools/oracle_audit.py [sf_dir] [name...]

Names, when given, limit the audit to those entries. ``audit`` is the
same run as a function (``tests/test_queries.py`` calls it in the slow
tier).
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

from kafka_flink_harshevents_spark.queries import all_oracles, all_queries  # noqa: E402
from kafka_flink_harshevents_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def values_equal(x, y) -> bool:
    if isinstance(x, float) or isinstance(y, float):
        try:
            fx, fy = float(x), float(y)
        except (TypeError, ValueError):
            return str(x) == str(y)
        if math.isnan(fx) and math.isnan(fy):
            return True
        return abs(fx - fy) < 1e-9
    return str(x) == str(y)


def audit(spark, sf_dir: str, names=None) -> dict[str, str]:
    """Entry name → ``PASS`` / ``FAIL`` / ``ERROR`` / ``rows-only``
    (no oracle) for every catalog entry, or the ``names`` given; each
    entry's detail line is printed."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries, oracles = all_queries(), all_oracles()
    if names:
        queries = {name: queries[name] for name in names}
    status: dict[str, str] = {}
    for name, fn in queries.items():
        try:
            sdf = fn(spark, sf_dir).toPandas()
            if name not in oracles:
                status[name] = "rows-only"
                print(f"{name}: rows-only ({len(sdf)} rows)")
                continue
            edf = con.execute(oracles[name]).fetchdf()
            cols = sorted(sdf.columns)
            ok = cols == sorted(edf.columns) and len(sdf) == len(edf)
            if ok:
                a = sdf[cols].sort_values(cols, ignore_index=True)
                b = edf[cols].sort_values(cols, ignore_index=True)
                for c in cols:
                    if not all(values_equal(x, y) for x, y in zip(a[c], b[c])):
                        ok = False
                        break
            status[name] = "PASS" if ok else "FAIL"
            print(
                f"{name}: PASS ({len(sdf)} rows)" if ok else
                f"{name}: FAIL (spark {len(sdf)} rows, duck {len(edf)} rows)"
            )
        except Exception as exc:  # keep auditing — report at the end
            status[name] = "ERROR"
            print(f"{name}: ERROR {type(exc).__name__}: {str(exc)[:200]}")
    return status


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    status = audit(get_spark(app_name="oracle-audit"), sf_dir, sys.argv[2:])
    failures = [n for n, s in status.items() if s in ("FAIL", "ERROR")]
    n_rows_only = sum(s == "rows-only" for s in status.values())
    print(
        f"\nAUDIT @ {sf_dir}: {len(status) - len(failures) - n_rows_only} "
        f"pass, {len(failures)} fail, {n_rows_only} rows-only, "
        f"total {len(status)}"
    )
    if failures:
        print("failures:", failures)
        sys.exit(1)


if __name__ == "__main__":
    main()
