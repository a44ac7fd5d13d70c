"""Local replica of the driver's DuckDB-oracle correctness check.

Runs every __spark_entry__.queries() entry at --sf (default sf0.01),
runs the matching oracle_sql() in DuckDB over the same parquet files,
and compares row count, column names, and order-insensitive values.
Each line ends with the entry's time and the number of Spark jobs the
entry itself ran (build and collect, not its accuracy hook). The entry
and its accuracy hook each run in their own ``staged()`` scope, so no
entry's staged frames outlive it.

Usage: python tools/check_correctness.py [--sf DIR] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import atexit
import shutil
import sys
import tempfile
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    if len(spark_pdf) != len(oracle_pdf):
        return f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    s_cols = sorted(c.lower() for c in spark_pdf.columns)
    o_cols = sorted(c.lower() for c in oracle_pdf.columns)
    if s_cols != o_cols:
        return f"columns: spark={s_cols} oracle={o_cols}"
    s = normalize(spark_pdf.rename(columns=str.lower))
    o = normalize(oracle_pdf.rename(columns=str.lower))
    for c in s.columns:
        sv, ov = s[c], o[c]
        if str(sv.dtype).startswith("float") or str(ov.dtype).startswith("float"):
            sv = pd.to_numeric(sv, errors="coerce").round(6)
            ov = pd.to_numeric(ov, errors="coerce").round(6)
            eq = (sv.fillna(-9e99) - ov.fillna(-9e99)).abs() < 1e-9
        else:
            try:
                svn = pd.to_numeric(sv, errors="raise")
                ovn = pd.to_numeric(ov, errors="raise")
                eq = svn.fillna(-9e99) == ovn.fillna(-9e99)
            except (ValueError, TypeError):
                eq = sv.fillna("\0") == ov.fillna("\0")
        if not bool(eq.all()):
            bad = (~eq).idxmax()
            return (
                f"value mismatch col={c} row={bad}: "
                f"spark={sv[bad]!r} oracle={ov[bad]!r} "
                f"({int((~eq).sum())} rows differ)"
            )
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--skip", default=None, help="comma list to exclude")
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from automotive_translation_pipeline_spark.operators.staging import staged
    from automotive_translation_pipeline_spark.session import get_spark

    # Managed tables (staging, the ANN index) go to a temporary warehouse
    # that is removed at exit, so no run leaves state for the next one.
    warehouse = tempfile.mkdtemp(prefix="check_correctness_warehouse_")
    atexit.register(shutil.rmtree, warehouse, ignore_errors=True)
    spark = get_spark(
        cpus=args.cpus, extra_conf={"spark.sql.warehouse.dir": warehouse}
    )
    con = duck_conn(args.sf)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    skip = set(args.skip.split(",")) if args.skip else set()

    sc = spark.sparkContext
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if (only and name not in only) or name in skip:
            continue
        t0 = time.time()
        # The entry's own jobs (build and collect) run under one job
        # group; the accuracy hook's jobs are not counted.
        group = f"check_correctness.{name}"
        sc.setJobGroup(group, name)
        try:
            with staged():
                spark_pdf = fn(spark, args.sf).toPandas()
        except Exception:
            print(f"FAIL  {name}: SPARK ERROR\n{traceback.format_exc()}")
            n_fail += 1
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))

        def took() -> str:
            return f"[{time.time() - t0:.1f}s, {jobs} jobs]"

        if name not in oracles:
            # Rows-only by nature — run its bounded accuracy contract
            # (recall / sketch-error / rank-bound) instead of an oracle.
            from automotive_translation_pipeline_spark.accuracy import (
                ACCURACY_CHECKS,
            )

            hook = ACCURACY_CHECKS.get(name)
            if hook is None:
                print(f"rows  {name}: {len(spark_pdf)} rows (no oracle, "
                      f"NO ACCURACY HOOK) {took()}")
                n_rowsonly += 1
                continue
            try:
                with staged():
                    ok, detail = hook(spark, args.sf)
            except Exception:
                print(f"FAIL  {name}: ACCURACY HOOK ERROR\n"
                      f"{traceback.format_exc()}")
                n_fail += 1
                continue
            verdict = "accuracy PASS" if ok else "ACCURACY FAIL"
            print(f"rows  {name}: {len(spark_pdf)} rows ({verdict}: "
                  f"{detail}) {took()}")
            if ok:
                n_rowsonly += 1
            else:
                n_fail += 1
            continue
        try:
            oracle_pdf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL  {name}: ORACLE ERROR\n{traceback.format_exc()}")
            n_fail += 1
            continue
        err = compare(spark_pdf, oracle_pdf)
        if err:
            print(f"FAIL  {name}: {err} {took()}")
            n_fail += 1
        else:
            print(f"pass  {name}: {len(spark_pdf)} rows {took()}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
