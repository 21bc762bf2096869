"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01 and its ``oracle_sql()`` in
DuckDB over the same parquet tables, comparing row count, column names, and
order-insensitive values (sorted rows, floats rounded). Spark runs on
``$SPARK_GRAFT_CPUS`` cores, else all of them (``session.get_spark``). Usage:

    python tools/check_oracle.py [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v + 0.0:.6g}"  # normalizes -0.0 (driver may not — avoid emitting it)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main(sf_dir: str = "/root/testdata/sf0.01", names: list[str] | None = None):
    import __spark_entry__ as e
    from stream_reader_mzxml_spark.session import get_spark

    spark = get_spark(app_name="check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = e.queries(), e.oracle_sql()
    selected = names or list(qs)
    n_fail = 0
    for name in selected:
        fn = qs[name]
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        sc, sr = norm_rows(scols, srows)
        oc, orr = norm_rows(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: columns differ spark={sc} duck={oc}")
            n_fail += 1
        elif len(sr) != len(orr):
            print(f"FAIL {name}: rowcount spark={len(sr)} duck={len(orr)}")
            n_fail += 1
        elif sr != orr:
            diff = [(a, b) for a, b in zip(sr, orr) if a != b][:3]
            print(f"FAIL {name}: values differ; first diffs: {diff}")
            n_fail += 1
        else:
            print(f"ok   {name}: {len(sr)} rows match")
    print(f"\n{len(selected) - n_fail}/{len(selected)} passed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(
        main(
            sf_dir=os.environ.get("CHECK_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
            names=sys.argv[1:] or None,
        )
    )
