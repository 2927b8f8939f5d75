"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB over the same parquet tables, then compares
row count, column names, and an order-insensitive value digest. Every
result line carries a short hash of the Spark-side normalized rows, so
``diff`` of two runs' outputs lists the queries whose results changed.

Usage: python tools/crosscheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(df):
    """Driver-faithful digest: pandas DataFrame -> sorted list of row strings.

    The driver converts both sides to pandas, sorts columns by name, then
    hashes the STRINGIFIED cells — so dtype differences survive into the
    digest (DuckDB HUGEINT -> float64 '1.0' vs Spark BIGINT int64 '1' is a
    real mismatch, which is exactly the class of bug that slipped through
    the old int/float-lenient normalizer in round 3). No rounding, no
    -0.0 forgiveness here: queries must make both sides bit-identical.
    """
    df = df[sorted(df.columns)]
    out = []
    for row in df.itertuples(index=False, name=None):
        out.append("|".join(str(v) for v in row))
    out.sort()
    return out


def digest(rows) -> str:
    """Short hash of normalized rows."""
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:12]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from roll_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    print(f"cpus={cpus}", flush=True)
    spark = get_spark(cpus=cpus, app_name="crosscheck")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name} [{'-' * 12}]: spark error {type(e).__name__}: {e}")
            continue
        a = normalize(spdf)
        tag = f"{name} [{digest(a)}]"
        if name not in oracles:
            print(f"weak  {tag}: rows={len(spdf)} (no oracle, rows-only check)")
            continue
        try:
            opdf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {tag}: duckdb error {e}")
            continue
        if sorted(spdf.columns) != sorted(opdf.columns):
            failures.append(name)
            print(f"FAIL  {tag}: schema {sorted(spdf.columns)} vs {sorted(opdf.columns)}")
            continue
        if len(spdf) != len(opdf):
            failures.append(name)
            print(f"FAIL  {tag}: rowcount {len(spdf)} vs {len(opdf)}")
            continue
        b = normalize(opdf)
        if a != b:
            failures.append(name)
            bad = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL  {tag}: value mismatch ({sum(1 for x, y in zip(a, b) if x != y)} rows), e.g.")
            for x, y in bad:
                print(f"      spark : {x}\n      oracle: {y}")
        else:
            print(f"OK    {tag}: rows={len(spdf)}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
