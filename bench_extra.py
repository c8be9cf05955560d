#!/usr/bin/env python
"""Round-6 optimization harness (bench.py is FROZEN for measurement — this
file exists so optimization work can time individual queries, isolate them
with the noop sink, and dump .explain("formatted") plans without touching
the driver's methodology).

Usage:
  python bench_extra.py --queries curate_corpus,dedup_apply --repeats 3
  python bench_extra.py --queries top --noop
  python bench_extra.py --queries all --explain plans/r06 --suffix before

The session/config and SF_DIR/CPUS env contract mirror bench.py exactly so
numbers are comparable; timings use the same QUERIES[name](spark, SF_DIR)
.count() methodology unless --noop is given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

TOP = [
    "curate_corpus",
    "dedup_apply",
    "dedup_components",
    "curate_corpus_v2",
    "semantic_dedup",
    "remove_shared_windows",
    "cms_join_size",
    "minhash_jaccard_est",
    "hll_merge",
    "ngram_jaccard_top_pairs",
    "embed_contamination",
    "bpe_train_merges",
    "extract_pipeline",
    "tfidf_pairs",
    "bpe_encode_counts",
    "pagerank",
    "contamination_report",
    "heavy_hitters",
    "record_linkage",
    "winnow_pairs",
    "cms_word_counts",
    "incremental_dedup",
    "ccnet_buckets",
    "triangle_count",
    "dsir_select",
    "shared_window_pairs",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="top")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--explain", default=None, help="dir to write plan dumps")
    ap.add_argument("--suffix", default="before", help="plan dump suffix")
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    from samu_ocr_extraction_poc_spark.contract import QUERIES
    from samu_ocr_extraction_poc_spark.session import get_spark

    if args.queries == "top":
        names = TOP
    elif args.queries == "all":
        names = list(QUERIES)
    else:
        names = [n.strip() for n in args.queries.split(",") if n.strip()]

    spark = get_spark("bench-extra", cores=CPUS, shuffle_partitions=max(CPUS, 16))
    # same warmup as bench.py
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    QUERIES["q1_pricing_summary"](spark, SF_DIR).count()
    QUERIES["extract_pipeline"](spark, SF_DIR).count()

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in names:
            df = QUERIES[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
            print(f"explained {name}", flush=True)

    out: dict[str, dict] = {}
    for name in names:
        ts = []
        for _ in range(args.repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            df = QUERIES[name](spark, SF_DIR)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            ts.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = {
            "min": min(ts),
            "median": round(statistics.median(ts), 3),
            "samples": ts,
        }
        print(f"{name}: min={min(ts)} samples={ts}", flush=True)

    total_min = round(sum(v["min"] for v in out.values()), 3)
    print(json.dumps({"total_min": total_min, "loadavg": os.getloadavg()[0]}))
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
