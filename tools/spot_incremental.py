"""SPOT the incremental-dedup path at big SF: a 10% daily drop probed
against a PERSISTED banded index (VERDICT r8 #8 — the plan proofs say
the probe never shuffles or windows the corpus; this produces the
sixth-decade numbers backing the headline 100 TB incremental claim).

Protocol, one SF per invocation (fresh JVM, like spot_bench --isolate):

1. INDEX BUILD (timed once, the amortized one-time cost): band the 90%
   corpus slice with ``lsh_banded_table`` and write the (doc_id, band,
   bucket) table to parquet — the persisted artifact a production
   pipeline writes once and probes forever.
2. PROBE (the per-drop cost, the number that must stay index-scan-sized):
   read the index parquet back (minhash_lsh_probe uses a pre-banded
   index as-is), band + broadcast the 10% batch, count distinct
   candidate pairs to a noop sink. ``--n`` runs through
   ``bench.measure`` (cache cleared, wall and process-tree CPU); min
   and median wall and median CPU reported.

The 10%/90% split is the same deterministic md5 bucket the
``dedup_incremental_lsh`` oracle uses, so the probe semantics here are
the exact oracled entry — only the index side comes from parquet
instead of being banded in-plan.

    python tools/spot_incremental.py --sf .testdata/sf30
    python tools/spot_incremental.py --sf .testdata/sf100

Prints one JSON line with index_build_s, index_rows, batch_rows and
the probe runs' (wall, cpu) readings and summaries.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--index-dir", default="/tmp/atp_incr_index")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from bench import measure, summarize
    from automotive_translation_pipeline_spark.operators.dedup import (
        lsh_banded_table,
        minhash_lsh_probe,
    )
    from automotive_translation_pipeline_spark.session import get_spark
    from automotive_translation_pipeline_spark.sources import load_testdata

    spark = get_spark(app_name="atp_spot_incremental", cpus=args.cpus)
    docs = load_testdata(spark, args.sf)["documents"]
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        % 10
    )
    corpus = docs.filter(bucket != 0)
    batch = docs.filter(bucket == 0)

    index_path = os.path.join(
        args.index_dir, args.sf.rstrip("/").rsplit("/", 1)[-1]
    )
    shutil.rmtree(index_path, ignore_errors=True)
    t0 = time.time()
    lsh_banded_table(
        corpus, "text", "doc_id", num_hashes=16, bands=4, k=3
    ).write.mode("overwrite").parquet(index_path)
    index_build_s = round(time.time() - t0, 3)

    index = spark.read.parquet(index_path)
    index_rows = index.count()
    batch_rows = batch.count()

    def probe(spark, _sf_dir):
        return minhash_lsh_probe(
            index, batch, text_col="text", id_col="doc_id",
            num_hashes=16, bands=4, k=3,
        )

    runs = [measure(spark, probe, args.sf) for _ in range(args.n)]
    probe_min_s, probe_median_s, probe_cpu_s = summarize(runs)
    print(json.dumps({
        "sf_dir": args.sf,
        "cpus": args.cpus,
        "index_build_s": index_build_s,
        "index_rows": index_rows,
        "batch_rows": batch_rows,
        "probe_min_s": probe_min_s,
        "probe_median_s": probe_median_s,
        "probe_cpu_s": probe_cpu_s,
        "runs": runs,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
