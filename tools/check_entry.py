"""Local mirror of the driver's correctness harness: run every
__spark_entry__ query on Spark AND its oracle_sql on DuckDB, compare
row count, column names, and an order-insensitive value hash.

Usage: python tools/check_entry.py [--json=OUT.json] [sf_dir] [query_name ...]
(query names filter the run to a subset; entry() smoke runs only on a
full, unfiltered pass; --json writes a machine-readable per-query
artifact so a round's full correctness surface survives as a committed
file instead of only a terminal scroll)
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    # sort columns by name (driver semantics), normalize values, sort rows
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            return f"{v:.6f}"
        return str(v)

    lines = sorted("\x01".join(norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def main(sf_dir: str, only: list[str] | None = None,
         json_out: str | None = None) -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from uckg_spark.session import build_session

    spark = build_session(master="local[8]", shuffle_partitions=8, extra_conf={
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "8",
    })
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    if only:
        unknown = [n for n in only if n not in qs]
        if unknown:
            print(f"FAIL unknown query names: {unknown}")
            return 1
        qs = {n: qs[n] for n in only}
    failures = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            results[name] = {"status": "FAIL",
                             "detail": f"spark error {type(e).__name__}: {e}"}
            failures += 1
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"SKIP {name}: rows-only ({len(srows)} rows)")
            results[name] = {"status": "ROWS_ONLY", "rows": len(srows)}
            continue
        try:
            cur = con.execute(sql)
            dcols = [d[0] for d in cur.description]
            drows = [tuple(r) for r in cur.fetchall()]
            # the grading driver fetches via pandas/Arrow, which converts
            # DuckDB HUGEINT/DECIMAL columns to float64/decimal128 —
            # fetchall() preserves ints, so a query can pass here yet fail
            # the driver (rounds 1-2 `sessionize`). Hash the pandas fetch
            # too and flag any divergence between the two oracle paths.
            pdf = con.execute(sql).df()
            prows = [tuple(r) for r in pdf.itertuples(index=False)]
        except Exception as e:
            print(f"FAIL {name}: duckdb error {e}")
            results[name] = {"status": "FAIL", "detail": f"duckdb error {e}"}
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} vs {len(drows)}")
        def sample_diff(rows_a, rows_b, la, lb):
            aset = {tuple(str(x) for x in r) for r in rows_a}
            bset = {tuple(str(x) for x in r) for r in rows_b}
            return f"{la}-only {list(aset - bset)[:2]} {lb}-only {list(bset - aset)[:2]}"

        if not problems and value_hash(srows, scols) != value_hash(drows, dcols):
            problems.append("value hash mismatch (fetchall path)")
            problems.append(sample_diff(srows, drows, "spark", "duck"))
        if not problems and value_hash(srows, scols) != value_hash(prows, list(pdf.columns)):
            problems.append(
                "value hash mismatch on the PANDAS fetch path only — "
                "likely an uncast HUGEINT/DECIMAL oracle column (add ::BIGINT)")
            # diff against the PANDAS rows — srows vs drows are hash-equal
            # when this branch fires, so that diff is always empty
            problems.append(sample_diff(srows, prows, "spark", "pandas"))
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            results[name] = {"status": "FAIL", "rows": len(srows),
                             "detail": "; ".join(problems)}
            failures += 1
        else:
            print(f"OK   {name} ({len(srows)} rows)")
            results[name] = {"status": "OK", "rows": len(srows)}
    # entry smoke (full pass only)
    if not only:
        try:
            n = entry_mod.entry(spark).count()
            print(f"OK   entry() → {n} rows")
            results["entry()"] = {"status": "OK", "rows": n}
        except Exception as e:
            print(f"FAIL entry(): {e}")
            results["entry()"] = {"status": "FAIL", "detail": str(e)}
            failures += 1
    if json_out:
        import json as _json
        by_status: dict[str, int] = {}
        for r in results.values():
            by_status[r["status"]] = by_status.get(r["status"], 0) + 1
        with open(json_out, "w") as fh:
            _json.dump({"sf_dir": sf_dir, "summary": by_status,
                        "n_queries": len(results), "failures": failures,
                        "results": results}, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {json_out}: {by_status}")
    return failures


if __name__ == "__main__":
    argv = sys.argv[1:]
    json_out = None
    for a in list(argv):
        if a.startswith("--json="):
            json_out = a.split("=", 1)[1]
            argv.remove(a)
    sf = argv[0] if argv else "/root/testdata/sf0.001"
    sys.exit(1 if main(sf, argv[1:] or None, json_out) else 0)
