"""Decompose stream_ann_cell_assign's wall time (VERDICT r12 task 6).

The r12 full-registry exponent table flagged stream_ann_cell_assign at
alpha 0.51 and adjudicated it as streaming-harness setup/commit
overhead (absolute growth sub-linear: wall 2x for 4x data; the batch
twin sits <= 0.2). This tool makes the census PROVE the adjudication:
it runs the entry's exact dataflow while RETAINING the StreamingQuery
handle, then splits each micro-batch's durationMs from
`lastProgress`/`recentProgress` into

  - in-batch work: `addBatch` (plan execution over the arriving data —
    the only component that is allowed to scale with the data), and
  - harness setup/commit: triggerExecution - addBatch (offset log,
    WAL commit, source listing, query planning, sink commit).

Usage: python tools/stream_ann_decompose.py [sf_dir ...]
Prints one markdown row per (sf, rep) and a summary; the in-batch
budget is pinned in tests/test_stream_ann_decompose.py.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def run_decomposed(spark, sf_dir: str) -> dict:
    """stream_ann_cell_assign's dataflow (streaming/doc_chunks.py) with
    the query handle retained so per-batch progress survives.
    Returns {'batches': [...], 'in_batch_ms': N, 'overhead_ms': N,
    'n_rows': N, 'qname': <memory-sink table>}."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming.doc_chunks import (
        ann_cell_census,
    )
    from etl_pipeline_from_mongo_json_to_postgre_spark.streaming.harness import (
        drain_to_memory,
    )

    qname = f"decomp_{abs(hash(sf_dir)) % 10_000}"
    q = drain_to_memory(ann_cell_census(spark, sf_dir), qname, "complete")
    batches = []
    for p in q.recentProgress:
        d = p["durationMs"]
        trig = int(d.get("triggerExecution", 0))
        add = int(d.get("addBatch", 0))
        batches.append({
            "batchId": p["batchId"],
            "numInputRows": p["numInputRows"],
            "triggerExecution_ms": trig,
            "addBatch_ms": add,
            "overhead_ms": trig - add,
        })
    n_rows = spark.table(qname).agg(F.sum("n_vecs")).collect()[0][0]
    return {
        "batches": batches,
        "in_batch_ms": sum(b["addBatch_ms"] for b in batches),
        "overhead_ms": sum(b["overhead_ms"] for b in batches),
        "n_rows": n_rows,
        "qname": qname,
    }


def main() -> int:
    from etl_pipeline_from_mongo_json_to_postgre_spark.session import (
        get_spark,
        tune_for_oracle,
    )

    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.001", "/root/testdata/sf0.1"]
    # the census runs outside the registry boundary, so tune
    # here as the boundary would (shuffle partitions max(cores, 8))
    spark = tune_for_oracle(get_spark(app_name="stream_ann_decompose"))
    print("| sf_dir | rep | batches | input rows | in-batch (addBatch) ms "
          "| setup/commit ms | overhead share |")
    print("|---|---|---|---|---|---|---|")
    for sf_dir in sf_dirs:
        for rep in (1, 2):
            r = run_decomposed(spark, sf_dir)
            tot = r["in_batch_ms"] + r["overhead_ms"]
            share = r["overhead_ms"] / tot if tot else float("nan")
            print(f"| {sf_dir} | {rep} | {len(r['batches'])} | "
                  f"{r['n_rows']} | {r['in_batch_ms']} | "
                  f"{r['overhead_ms']} | {share:.2f} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
