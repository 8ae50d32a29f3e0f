"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` at sf0.01 and
compares against its ``oracle_sql()`` via DuckDB: row count, column
names, and exact order-insensitive value equality (stricter than any
plausible driver hash). Run before committing __spark_entry__ changes.

    python tools/oracle_check.py [query_name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            # numeric-coerce first: DuckDB DECIMAL comes back as
            # object-dtype Decimals — stringifying would sort one side
            # lexicographically against the other's numeric sort and
            # misalign every row
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = _canon(spark_pdf), _canon(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if np.issubdtype(av.dtype, np.floating) or np.issubdtype(
                bv.dtype, np.floating
            ):
                av = av.astype(np.float64)
                bv = bv.astype(np.float64)
                bad = ~(
                    np.isclose(av, bv, rtol=0, atol=0, equal_nan=True)
                )
                if bad.any():
                    i = int(np.argmax(bad))
                    problems.append(
                        f"col {c}: {int(bad.sum())} mismatches, first at row {i}: "
                        f"spark={av[i]!r} duck={bv[i]!r}"
                    )
            else:
                bad = av != bv
                if bad.any():
                    i = int(np.argmax(bad))
                    problems.append(
                        f"col {c}: {int(bad.sum())} mismatches, first at row {i}: "
                        f"spark={av[i]!r} duck={bv[i]!r}"
                    )
    return problems


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per corpus table in ``sf_dir``,
    named as the oracle texts name them."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"create view {t} as select * from read_parquet('{path}')"
            )
    return con


def main() -> int:
    import __spark_entry__ as entry
    from chameleon_entity_linking_spark.plans.session import get_spark

    spark = get_spark(app_name="oracle_check", cores=8, shuffle_partitions=16)
    con = duck_views(SF_DIR)

    queries = entry.queries()
    oracles = entry.oracle_sql()
    only = set(sys.argv[1:])
    unknown = only - set(queries)
    if unknown:
        # a typo must not make the gate vacuously green
        print(f"✗ unknown query names: {sorted(unknown)}")
        print(f"  known: {sorted(queries)}")
        return 2
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, SF_DIR)
        spark_pdf = sdf.toPandas()
        if name not in oracles:
            print(f"~ {name}: no oracle (rows-only) -> {len(spark_pdf)} rows")
            continue
        duck_pdf = con.execute(oracles[name]).fetchdf()
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            failed.append(name)
            print(f"✗ {name} ({len(spark_pdf)} rows)")
            for p in problems:
                print(f"    {p}")
        else:
            print(f"✓ {name} ({len(spark_pdf)} rows)")
    print()
    if failed:
        print("FAILED:", ", ".join(failed))
        return 1
    print("all queries match their oracles")
    return 0


if __name__ == "__main__":
    sys.exit(main())
