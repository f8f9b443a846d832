#!/usr/bin/env python3
"""sf1 measurement tier (VERDICT r10 item 6): bench the scan/shuffle/
compute-bound keys on the 10x fixture so §2/§3 optimizations are
measurable and the 8-vs-32-core ratio is meaningful (at sf0.1 the suite
total is dominated by fixed per-query overhead — BENCH_r10_c8 measured
the 8-core total FASTER than the 32-core one).

This is a SEPARATE, additions-only tier: the driver's `bench.py`
contract (HEADLINE set, sf0.1, methodology, summary line) is untouched.

    python scripts/gen_sf1.py                    # build /tmp/sf1 once
    SPARK_GRAFT_CPUS=32 python scripts/bench_sf1.py [--n 2] [--out FILE]
    SPARK_GRAFT_CPUS=8  python scripts/bench_sf1.py ...

Timing is bench.py's own loop (``bench.timed_runs``): each key runs --n
times end-to-end into the noop sink, min recorded, caches cleared
between runs.

Key selection: data-sized work only — relational core + windowed top-k,
tf-idf/BM25, heavy-hitters/retention, brute-force + IVF ANN, k-means,
power iteration, and the SCALE-PATH dedup families (banded MinHash, LSH
verification, df-capped Jaccard). The uncapped quadratic pair ops and
the perceptron (int64 margin bound documented at ~2e4 training docs)
are deliberately excluded at 50k docs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import timed_runs, warm_up
from redis_dataflow_realtime_analytics_spark.session import get_spark

SF1_KEYS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q13_customer_distribution",
    "q18_large_volume_customers",
    "q21_suppliers_kept_waiting",
    "top_orders_per_customer",
    "running_revenue_per_supplier",
    "text_tfidf_top_terms",
    "text_bm25_topk",
    "events_heavy_hitter_users",
    "user_retention_cohorts",
    "ann_topk_bruteforce",
    "ann_ivf_topk",
    "kmeans_exact_centroids",
    "embedding_top_component_exact",
    "dedup_minhash_neardup_pairs",
    "dedup_lsh_exact_jaccard_pairs",
    "dedup_ngram_jaccard_pairs_capped",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--sf-dir", default="/tmp/sf1")
    ap.add_argument("--out", default=None, help="append the result record to this JSONL file")
    ap.add_argument("names", nargs="*", help="subset of SF1_KEYS (default: all)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(args.sf_dir, "_COMPLETE")):
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from gen_sf1 import build

        sys.stderr.write(f"building {args.sf_dir} from sf0.1...\n")
        build(dst=args.sf_dir)

    spark = get_spark(app_name="bench-sf1")
    warm_up(spark)

    times: dict[str, float] = {}
    for name in args.names or SF1_KEYS:
        spark.sparkContext.setJobDescription(f"sf1:{name}")
        times[name] = round(min(timed_runs(spark, name, args.sf_dir, args.n)), 3)
        print(json.dumps({"query": name, "sec": times[name]}, separators=(",", ":")), flush=True)
        spark.sparkContext.setJobDescription(None)

    record = {
        "metric": "sf1_tier_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "sf": 1,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "n": args.n,
        "queries": times,
        "ts": round(time.time(), 1),
    }
    print(json.dumps({k: record[k] for k in ("metric", "value", "unit", "sf", "cpus")},
                     separators=(",", ":")))
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps(record, separators=(",", ":")) + "\n")


if __name__ == "__main__":
    main()
