"""Local differential checker: Spark query vs DuckDB oracle, mimicking the
driver's compare (row count + schema + order-insensitive value compare with
columns sorted by name).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from covid19_spark.plans.registry import QUERY_REGISTRY  # noqa: E402
from covid19_spark.session import get_spark  # noqa: E402
from covid19_spark.sources.tables import TABLE_NAMES  # noqa: E402


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"row count: spark={len(spark_df)} oracle={len(oracle_df)}")
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(
            f"columns: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
        )
        return problems
    a, b = _normalize(spark_df), _normalize(oracle_df)
    if len(a) == len(b):
        for col in a.columns:
            av, bv = a[col], b[col]
            try:
                # Stringify values (not plain ==): the driver hashes value
                # REPRESENTATIONS, so 1500 (int64) vs 1500.0 (float64 from a
                # HUGEINT fetch) must fail here like it fails there. str()
                # also distinguishes -0.0 and 'nan'.
                sa = av.map(lambda v: "__null__" if pd.isna(v) else str(v))
                sb = bv.map(lambda v: "__null__" if pd.isna(v) else str(v))
                eq = sa == sb
            except Exception as e:  # noqa: BLE001
                problems.append(f"col {col}: compare error {e}")
                continue
            n_bad = int((~eq).sum())
            if n_bad:
                idx = eq[~eq].index[:3]
                examples = [(col, i, av[i], bv[i]) for i in idx]
                problems.append(f"col {col}: {n_bad} mismatched values, e.g. {examples}")
    return problems


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and args[0].startswith("/") else "/root/testdata/sf0.01"
    names = [a for a in args if not a.startswith("/")] or list(QUERY_REGISTRY)

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failed = []
    for name in names:
        spec = QUERY_REGISTRY[name]
        sdf = spec.fn(spark, sf_dir).toPandas()
        if spec.oracle is None:
            print(f"[rows-only] {name}: {len(sdf)} rows")
            continue
        odf = con.execute(spec.oracle).fetchdf()
        problems = compare(name, sdf, odf)
        if problems:
            failed.append(name)
            print(f"[FAIL] {name}")
            for p in problems:
                print(f"    {p}")
        else:
            print(f"[ok] {name}: {len(sdf)} rows match")
    print(f"\n{len(names) - len(failed)}/{len(names)} queries match")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
