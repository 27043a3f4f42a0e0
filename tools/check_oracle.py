"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
on DuckDB over the same parquet tables, then compares row count, schema
(sorted column names) and an order-insensitive value hash. Usage:

    python tools/check_oracle.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import connectors_spark too (UDF / mapInArrow bodies):
# they see PYTHONPATH, not the driver's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if pd.isna(v):
        return "NULL"
    if isinstance(v, float):
        # canonical float text: 12 significant digits kills 1-ulp noise
        return f"{v:.12g}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    lines = sorted(
        "|".join(norm_cell(row[c]) for c in cols)
        for _, row in df.iterrows()
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main():
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i:i + 2]
    sf_dir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.01"
    name_filter = argv[1] if len(argv) > 1 else ""
    results = {}

    import __spark_entry__ as entry
    from connectors_spark.session import get_spark

    spark = get_spark(
        "check_oracle", master="local[8]", shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, osql = entry.queries(), entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if name_filter and name_filter not in name:
            continue
        import time as _time
        _t0 = _time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"err": f"spark {type(e).__name__}: {e}"}
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            continue
        _spark_sec = round(_time.time() - _t0, 3)
        if name not in osql:
            results[name] = {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": len(got),
                             "oracle_rows": None, "err": "no_oracle"}
            print(f"weak  {name}: rows={len(got)} (no oracle, rows-only check)")
            continue
        try:
            exp = con.execute(osql[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"err": f"duckdb {type(e).__name__}: {e}"}
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            continue
        problems = []
        if len(got) != len(exp):
            problems.append(f"rows {len(got)} != {len(exp)}")
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(f"cols {sorted(got.columns)} != {sorted(exp.columns)}")
        if not problems:
            hg, he = value_hash(got), value_hash(exp)
            if hg != he:
                problems.append(f"hash {hg} != {he}")
        results[name] = {
            "spark_sec": _spark_sec,
            "rows_match": len(got) == len(exp),
            "schema_match": sorted(got.columns) == sorted(exp.columns),
            "hash_match": not problems,
            "spark_rows": len(got),
            "oracle_rows": len(exp),
            "err": "; ".join(problems) or None,
        }
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
            # show a small diff aid
            try:
                g = got.reindex(sorted(got.columns), axis=1)
                e = exp.reindex(sorted(exp.columns), axis=1)
                print("  spark head:\n", g.head(3).to_string())
                print("  duckdb head:\n", e.head(3).to_string())
            except Exception:  # noqa: BLE001
                pass
        else:
            print(f"OK    {name}: rows={len(got)} spark_sec={_spark_sec}")
    print(f"\n{len(failures)} failures / {len(qs)} queries")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(results, f, indent=2)
        print(f"wrote {json_out} ({len(results)} entries)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
