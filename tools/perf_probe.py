"""Optimization probe (guide §1): per-query noop-timed reps,
``explain("formatted")`` capture, and per-rep job counts.

Usage:
    python tools/perf_probe.py [entry ...] [--reps N]
        [--plans DIR] [--out FILE]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 by default.

For every entry, on ONE warmed session (session.get_spark, the engine's
one session factory):
  - best-of-N noop wall (the bench methodology),
  - planning time (df construction + executedPlan materialization),
  - number of Spark jobs the timed action launches (fixed-overhead
    proxy: each job is a driver round-trip + at least one stage),
    counted through the status tracker, which works with the UI off,
and with --plans DIR writes DIR/<entry>.txt (DIR must be outside the
repository). Probe-only; nothing here is used by bench.py or the driver.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_ENTRIES = [
    "graph_pagerank_parts", "graph_label_propagation", "kmeans_train",
    "graph_kcore_parts", "ann_pq_trained_recall",
    "sim_cosine_pairs_lsh", "dedup_embedding_cosine",
    "audit_report_assembly", "audit_status_pivot",
    "ann_ivf_topk", "dedup_minhash_pairs", "stream_sessionize_native",
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume", "p1_mapped_projection",
    "dedup_minhash_signature", "dedup_simhash", "mm_feature_extract",
    "ann_cosine_topk", "j6_range_join", "j1_outer_join", "j5_asof_join",
    "f5_json_extract", "mm_binary_stats", "w1_running_total",
    "u2_dedup_first", "u1_explode_words", "tumbling_window_agg",
    "text_fingerprint", "text_quality_score", "a1_pivot_status_count",
]


def explain_formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("entries", nargs="*", default=None)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None, metavar="DIR",
                    help="write DIR/<entry>.txt (DIR outside the repository)")
    ap.add_argument("--out", default=None, help="write JSON results here")
    args = ap.parse_args()
    entries = args.entries or DEFAULT_ENTRIES
    if args.plans:
        plans_dir = os.path.realpath(args.plans)
        if os.path.commonpath([plans_dir, REPO]) == REPO:
            ap.error(f"--plans {args.plans} is inside the repository")
        os.makedirs(plans_dir, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from etl_pipeline_from_mongo_json_to_postgre_spark.session import get_spark

    spark = get_spark(app_name="perf_probe", cpus=cpus)

    from __spark_entry__ import queries

    registry = queries()
    sc = spark.sparkContext

    known = [e for e in entries if e in registry]
    if not known:
        # ADVICE r13: a bare [0] here raised IndexError and masked the
        # real problem (every requested entry name unknown)
        unknown = sorted(set(entries) - set(registry))
        print(f"perf_probe: no requested entry is in the registry; "
              f"unknown names: {unknown}", file=sys.stderr)
        raise SystemExit(2)
    registry[known[0]](spark, sf_dir).count()  # warm JVM + parquet footers

    results: dict[str, dict] = {}
    seen: set[str] = set()
    load0 = round(os.getloadavg()[0], 2)
    for name in entries:
        if name in seen or name not in registry:
            continue
        seen.add(name)
        t_plan0 = time.time()
        df = registry[name](spark, sf_dir)
        df._jdf.queryExecution().executedPlan()
        plan_s = time.time() - t_plan0
        if args.plans:
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                fh.write(explain_formatted(registry[name](spark, sf_dir)))
        best, best_jobs = None, 0
        for rep in range(args.reps):
            sc.setJobDescription(f"probe:{name}:rep{rep}")
            jb = set(sc.statusTracker().getJobIdsForGroup(None))
            t0 = time.time()
            d = registry[name](spark, sf_dir)
            d.write.format("noop").mode("overwrite").save()
            el = time.time() - t0
            ja = set(sc.statusTracker().getJobIdsForGroup(None))
            if best is None or el < best:
                best, best_jobs = el, len(ja - jb)
            sc.setJobDescription(None)
        row = {"best": round(best, 3), "plan_s": round(plan_s, 3),
               "jobs_per_rep": best_jobs}
        results[name] = row
        print(json.dumps({name: row}), flush=True)

    payload = {"sf_dir": sf_dir, "cpus": cpus,
               "load_avg_1m_start": load0,
               "load_avg_1m_end": round(os.getloadavg()[0], 2),
               "results": results}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(payload, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
