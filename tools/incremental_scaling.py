"""Scaling evidence for incremental batch-vs-index MinHash dedup.

Measures the claim behind ``operators/dedup.py::incremental_minhash_pairs``
— per-batch cost is O(batch + matched buckets), NOT O(index) — by holding
the batch fixed and growing the persisted index ~9×, timing the full
pair materialization at each index size.

Fixture: synthetic documents whose token sequences derive from the doc
id, so distinct ids give (near-)disjoint shingle sets; 10% of each
copy's ids alias back to copy-0 ids, so exactly that slice of the batch
has true near-duplicates in the index — the realistic "some of the batch
is dup" regime. The index is written to parquet and read back: the
steady-state form where the index is a table, not an in-memory build.

Run:  python tools/incremental_scaling.py [n_per_copy]
Prints one JSON line per index size: {"index_rows": N, "batch_rows": B,
"pairs": P, "sec": S}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def synth_copy(spark, n: int, copy: int):
    """n docs for one corpus copy; ids offset by copy*1e6. Ids divisible
    by 10 reuse the copy-0 token stream (cross-copy near-dups); all
    other ids get id-derived, effectively-unique token streams."""
    ids = spark.range(n).select(
        (F.col("id") + copy * 1_000_000).alias("doc_id")
    )
    base = F.when(
        F.col("doc_id") % 10 == 0, F.col("doc_id") % 1_000_000
    ).otherwise(F.col("doc_id"))
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(29)),
        lambda i: F.concat(
            F.lit("w"), ((base * F.lit(31) + i) % F.lit(100003)).cast("string")
        ),
    )
    return ids.select("doc_id", F.array_join(toks, " ").alias("text"))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    from bgg_data_warehouse_spark.session import get_spark, tune_session
    from bgg_data_warehouse_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_sketch,
    )

    spark = get_spark("incr-scaling", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    tune_session(spark)
    conf = dict(shingle_k=3, num_hashes=16)
    work = tempfile.mkdtemp(prefix="incr_scaling_")
    try:
        batch_df = synth_copy(spark, n, 0)
        batch_sketch = minhash_sketch(batch_df, "doc_id", "text", **conf)
        batch_path = os.path.join(work, "batch")
        batch_sketch.write.mode("overwrite").parquet(batch_path)

        # persist each copy's sketch once (the steady-state index IS a
        # table on storage); the index at size k = copies 1..k
        copy_paths = []
        for j in range(1, 10):
            p = os.path.join(work, f"copy{j}")
            minhash_sketch(
                synth_copy(spark, n, j), "doc_id", "text", **conf
            ).write.mode("overwrite").parquet(p)
            copy_paths.append(p)

        results = []
        for k in (1, 3, 6, 9):
            index = spark.read.parquet(*copy_paths[:k])
            batch = spark.read.parquet(batch_path)

            def run() -> tuple[int, float]:
                # drop the previous measurement's pinned sketches —
                # accumulated cache pressure otherwise pollutes later
                # sizes (bench.py's reset discipline)
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                n_pairs = incremental_minhash_pairs(
                    index, batch, num_hashes=16, bands=4, jaccard_threshold=0.8
                ).count()
                return n_pairs, time.perf_counter() - t0

            n_pairs, t1 = run()
            _, t2 = run()  # min-of-2: same policy as bench.py
            row = {
                "index_rows": k * n,
                "batch_rows": n,
                "pairs": n_pairs,
                "sec": round(min(t1, t2), 3),
            }
            results.append(row)
            print(json.dumps(row), flush=True)
        base = results[0]["sec"]
        print(
            json.dumps(
                {
                    "metric": "incremental_dedup_scaling",
                    "index_growth": round(
                        results[-1]["index_rows"] / results[0]["index_rows"], 1
                    ),
                    "cost_growth": round(results[-1]["sec"] / base, 2),
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
