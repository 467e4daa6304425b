"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, schema
(column names), and an order-insensitive value multiset.

Usage: python3 tools/verify_oracle.py [query ...]

A full-registry run (no query args) also writes CORRECTNESS_LOCAL.json at
the repo root — the committed artifact of record for queries past the
external driver's ~50-entry window (see the registry-order note in
queries.py).
"""

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    import datetime
    import decimal

    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if isinstance(v, (datetime.datetime,)):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (datetime.date,)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, (int, bool, str, bytes)):
        return v
    return str(v)


def df_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(norm_cell(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return [cols[i] for i in order], out


def main():
    import duckdb

    from readability_1_spark.queries import QUERIES
    from readability_1_spark.session import get_spark

    names = sys.argv[1:] or list(QUERIES)
    spark = get_spark(app_name="verify_oracle", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    failures = []
    results = {}
    for name in names:
        fn, sql = QUERIES[name]
        t0 = time.time()
        sdf = None
        try:
            # Persisted so that the dtype check's toPandas() reads the
            # collected rows instead of running the query a second time.
            sdf = fn(spark, SF_DIR).persist()
            srows = sdf.collect()
            scols = sdf.columns
            pdf = None
            if sql is not None:
                try:
                    pdf = sdf.toPandas()
                except Exception:
                    pass
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            results[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": None, "oracle_rows": None,
                "err": f"spark error: {str(e)[:300]}",
            }
            continue
        finally:
            if sdf is not None:
                sdf.unpersist()
        t1 = time.time()
        if sql is None:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {t1-t0:.1f}s)")
            results[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(srows), "oracle_rows": None,
                "err": "rows-only (no oracle SQL)",
            }
            continue
        try:
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            results[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": len(srows), "oracle_rows": None,
                "err": f"duckdb error: {str(e)[:300]}",
            }
            continue
        sc, sm = df_to_multiset(scols, srows)
        dc, dm = df_to_multiset(dcols, drows)
        status = []
        # Driver-hash emulation: the driver compares pandas representations,
        # where DuckDB HUGEINT -> float64 but Spark non-null BIGINT -> int64.
        # Flag any column whose pandas dtype *kind* differs between engines.
        try:
            ddf = con.execute(sql).df()
            for c in set(ddf.columns) & set(pdf.columns):
                dk = ddf[c].dtype.kind
                pk = pdf[c].dtype.kind
                # nullable ints become float64/object on either side; treat
                # int-vs-float as the driver does: a representation mismatch
                # unless the column actually contains nulls on the int side.
                if dk != pk and {dk, pk} <= {"i", "f", "u"}:
                    int_side = ddf[c] if dk in "iu" else pdf[c]
                    if not int_side.isna().any():
                        status.append(f"dtype-kind mismatch col={c}: duck={ddf[c].dtype} spark={pdf[c].dtype}")
        except Exception:
            pass
        if len(srows) != len(drows):
            status.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sc != dc:
            status.append(f"schema {sc} vs {dc}")
        elif sm != dm:
            only_s = [k for k in sm if sm[k] != dm.get(k, 0)][:3]
            only_d = [k for k in dm if dm[k] != sm.get(k, 0)][:3]
            status.append(f"values spark-only={only_s} duck-only={only_d}")
        if status:
            failures.append((name, "; ".join(str(s)[:500] for s in status)))
            print(f"FAIL {name}: {'; '.join(str(s)[:400] for s in status)}")
        else:
            print(f"PASS {name} ({len(srows)} rows, spark {t1-t0:.1f}s)")
        results[name] = {
            "rows_match": len(srows) == len(drows),
            "schema_match": sc == dc,
            "hash_match": not status,
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": "; ".join(str(s)[:300] for s in status) or None,
        }
    print(f"\n{len(names)-len(failures)}/{len(names)} queries pass")
    if not sys.argv[1:]:  # full-registry run -> artifact of record
        out = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "CORRECTNESS_LOCAL.json",
        )
        with open(out, "w") as f:
            json.dump(
                {"sf_dir": SF_DIR, "n_pass": len(names) - len(failures),
                 "n_total": len(names), "queries": results},
                f, indent=1,
            )
        print(f"wrote {out}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
