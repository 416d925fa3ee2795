"""Pre-driver correctness audit: run EVERY catalog entry against its
DuckDB oracle at the driver's correctness scale (sf0.01 by default) and
report per-entry row/schema/value matches — the same comparison the
driver records in CORRECTNESS_r{N}.json, but over the FULL catalog
instead of the driver's 50-entry window.

Usage: python tools/oracle_audit.py [sf_dir] [name...]

Names, when given, limit the audit to those entries.
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, ".")

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


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="oracle-audit")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries, oracles = all_queries(), all_oracles()
    if len(sys.argv) > 2:
        queries = {name: queries[name] for name in sys.argv[2:]}
    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    for name, fn in queries.items():
        try:
            sdf = fn(spark, sf_dir).toPandas()
            if name not in oracles:
                n_rows_only += 1
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
            if ok:
                n_pass += 1
                print(f"{name}: PASS ({len(sdf)} rows)")
            else:
                n_fail += 1
                failures.append(name)
                print(f"{name}: FAIL (spark {len(sdf)} rows, duck {len(edf)} rows)")
        except Exception as exc:  # keep auditing — report at the end
            n_fail += 1
            failures.append(name)
            print(f"{name}: ERROR {type(exc).__name__}: {str(exc)[:200]}")

    print(
        f"\nAUDIT @ {sf_dir}: {n_pass} pass, {n_fail} fail, "
        f"{n_rows_only} rows-only, total {len(queries)}"
    )
    if failures:
        print("failures:", failures)
        sys.exit(1)


if __name__ == "__main__":
    main()
