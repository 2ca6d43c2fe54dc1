"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at a given SF, compare
row count + schema-ish + order-insensitive values. A gate whose oracle
could not be generated (rows-only) fails the run like a mismatch.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # corpus-dependent lazy oracles (IVF centroids, LM/BPE reference
    # tables) derive their embedded constants from the gate's own input;
    # pin them to THIS run's SF or a non-default sf_dir silently compares
    # a sf0.01-derived oracle against sf0.001 Spark output
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as e
    from otel_logger_spark.session import get_spark

    spark = get_spark("correctness-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    queries = e.queries()
    oracles = e.oracle_sql()
    failures, rows_only = [], []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            got = normalize(fn(spark, sf_dir).toPandas())
        except Exception as ex:
            failures.append(name)
            print(f"[FAIL] {name}: spark error: {ex}")
            continue
        sql = oracles.get(name)
        if sql is None:
            # every gate has an oracle (otel_logger_spark/gates.py): a
            # missing one means its generator failed, not a pass
            rows_only.append(name)
            print(f"[rows-only] {name}: {len(got)} rows, no oracle")
            continue
        try:
            exp = normalize(con.sql(sql).df())
        except Exception as ex:
            failures.append(name)
            print(f"[FAIL] {name}: duckdb error: {ex}")
            continue
        if list(got.columns) != list(exp.columns):
            failures.append(name)
            print(f"[FAIL] {name}: columns {list(got.columns)} vs {list(exp.columns)}")
            continue
        if len(got) != len(exp):
            failures.append(name)
            print(f"[FAIL] {name}: rows {len(got)} vs {len(exp)}")
            continue
        bad = None
        for c in got.columns:
            a, b = got[c], exp[c]
            try:
                same = (a.fillna("__N__") == b.fillna("__N__")).all() if a.dtype == object else a.equals(b)
            except Exception:
                same = list(a) == list(b)
            if not same:
                bad = c
                break
        if bad:
            failures.append(name)
            print(f"[FAIL] {name}: column {bad} differs")
            m = got[bad] != exp[bad]
            print("  got:", got[m].head(3).to_dict("records"))
            print("  exp:", exp[m].head(3).to_dict("records"))
            print("  dtypes:", got[bad].dtype, exp[bad].dtype)
        else:
            print(f"[ok] {name}: {len(got)} rows")
    print(
        f"\n{len(failures)} failures"
        + (": " + ", ".join(failures) if failures else "")
        + f"; {len(rows_only)} rows-only"
        + (": " + ", ".join(rows_only) if rows_only else "")
    )
    spark.stop()
    sys.exit(1 if failures or rows_only else 0)


if __name__ == "__main__":
    main()
