"""Train and freeze the PQ codebook committed at
automotive_translation_pipeline_spark/resources/pq_codebook_v1.json.

The ann_cosine_pq oracle promotion (round 10, VERDICT r9 #2) needs the
TRAINED centroids to be a fixed constant both engines can share — the
ann_cosine_lsh pattern, where the SRP planes are inlined into the
DuckDB oracle as VALUES literals. Lloyd centroids fit on data can't be
replayed in SQL, so the codebook is trained ONCE here (pyarrow +
the same _lloyd_codebook numpy core the live trainer uses) and
committed; the catalog entry and the oracle both consume the frozen
file. Retrain deliberately (new file version) if the embedding
distribution ever changes.

    python tools/train_pq_codebook.py \
        --parquet /root/testdata/sf0.1/embeddings.parquet
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from automotive_translation_pipeline_spark.operators.similarity import (  # noqa: E402
    _lloyd_codebook,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--parquet", default="/root/testdata/sf0.1/embeddings.parquet"
    )
    ap.add_argument("--m", type=int, default=8)
    ap.add_argument("--n-codes", type=int, default=32)
    ap.add_argument("--train-sample", type=int, default=2048)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "automotive_translation_pipeline_spark",
            "resources",
            "pq_codebook_v1.json",
        ),
    )
    args = ap.parse_args()

    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(args.parquet, columns=["embedding"])
    X = np.array(
        tbl.column("embedding").to_pylist()[: args.train_sample],
        dtype=np.float64,
    )
    codebook = _lloyd_codebook(
        X, m=args.m, n_codes=args.n_codes, seed=args.seed
    )
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(
            {
                "provenance": {
                    "tool": "tools/train_pq_codebook.py",
                    "parquet": args.parquet,
                    "train_rows": int(len(X)),
                    "m": args.m,
                    "n_codes": args.n_codes,
                    "seed": args.seed,
                    "note": "first train_rows file-order rows, "
                    "L2-normalized, 12 Lloyd iterations per subspace "
                    "(_lloyd_codebook)",
                },
                "codebook": codebook,
            },
            fh,
        )
    print(
        f"wrote {args.out}: {args.m} x {args.n_codes} x "
        f"{len(codebook[0][0])} centroids from {len(X)} rows"
    )


if __name__ == "__main__":
    main()
