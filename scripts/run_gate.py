"""Self-check: run every __spark_entry__ query against its DuckDB oracle —
the same comparison the driver's correctness gate performs (row count,
column names, order-insensitive values).

Usage: PYTHONPATH=. python scripts/run_gate.py [sf_dir]   (default sf0.01)
Prints one line per query and exits non-zero on any mismatch.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(
        (tuple(r[i] for i in order) for r in rows),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


#: Arrow types a driver-side value hasher serializes identically to the
#: matching Spark type.  DuckDB silently promotes SUM/window aggregates to
#: HUGEINT, which Arrow surfaces as decimal128(38,0) — equal VALUES then
#: hash differently from Spark's int64 (VERDICT r5: the chunk_spans red
#: cell).  Oracles must CAST aggregates, or the Spark query must emit the
#: same decimal type (the chunk_spans fix).
_SAFE_ARROW_TYPES = {"int32", "int64", "double", "bool", "string", "large_string"}


def oracle_type_issues(oracle_schema, spark_schema=None) -> list[str]:
    """Columns of a DuckDB Arrow result whose type a value hasher would
    serialize differently from Spark's output: anything outside
    _SAFE_ARROW_TYPES, unless the Spark side emits the identical Arrow type
    (then both sides hash the same representation)."""
    spark_types = (
        {f.name: str(f.type) for f in spark_schema} if spark_schema is not None else {}
    )
    bad = []
    for f in oracle_schema:
        t = str(f.type)
        if t in _SAFE_ARROW_TYPES or t.startswith("timestamp"):
            continue
        if spark_types.get(f.name) == t:
            continue
        bad.append(f"{f.name}: oracle={t} spark={spark_types.get(f.name)}")
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as em

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("gate-selfcheck")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracles = em.oracle_sql()
    failures = []
    for name, q in sorted(em.queries().items()):
        sdf = q(spark, sf_dir)
        sn, sv = norm(sdf.columns, [tuple(r) for r in sdf.collect()])
        if name not in oracles:
            # rows-only queries (streaming / image decode — no DuckDB
            # oracle by design); mirror the driver's weaker check
            ok = len(sv) > 0
            print(f"{name:30s} {'ROWS-ONLY' if ok else 'EMPTY':8s} rows={len(sv)}")
            if not ok:
                failures.append(name)
            continue
        res = con.sql(oracles[name])
        # type gate BEFORE the value comparison: a HUGEINT/decimal oracle
        # column hashes differently driver-side even when values are equal
        # (run_gate's fetchall() ints would mask it — VERDICT r5 item 2).
        # The schema comes from a LIMIT 0 wrapper, so the oracle query
        # itself runs once, for fetchall().
        from pyspark.sql.pandas.types import to_arrow_schema

        type_bad = oracle_type_issues(
            con.sql(f"SELECT * FROM ({oracles[name]}) __q LIMIT 0").fetch_arrow_table().schema,
            to_arrow_schema(sdf.schema),
        )
        dn, dv = norm(res.columns, res.fetchall())
        ok = sn == dn and sv == dv and not type_bad
        print(f"{name:30s} {'OK' if ok else 'MISMATCH':8s} rows={len(sv)}")
        if not ok:
            failures.append(name)
            if type_bad:
                print(f"  oracle arrow types unsafe for value hashing: {type_bad}")
            if sn != dn:
                print(f"  columns: spark={sn} duckdb={dn}")
            elif len(sv) != len(dv):
                print(f"  rows: spark={len(sv)} duckdb={len(dv)}")
    print("entry rows:", em.entry(spark).count())
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
