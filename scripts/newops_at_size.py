#!/usr/bin/env python
"""At-size evidence for the round-7 operators (BENCH/newops_at_size.json):
cross_doc_spans at SF=32 (1.6M generated docs, ~86M positional grams):
wall time + docs/s for the full linear pipeline (digest shuffle ->
per-digest document-frequency window -> per-doc window union).

    python scripts/newops_at_size.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

RANDOM_DIR = "/tmp/robokop_driver/sf32.0"


def spans_at_size(spark, sf_dir: str) -> dict:
    from robokop_build_spark.operators.dedup import cross_doc_spans

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n = docs.count()
    t0 = time.time()
    out = cross_doc_spans(docs, "doc_id", "text", n=8, min_df=2)
    agg = out.selectExpr(
        "count(*) AS docs",
        "sum(CASE WHEN dup_tokens > 0 THEN 1 ELSE 0 END) AS docs_with_dup",
        "sum(n_tokens) AS tokens",
        "sum(dup_tokens) AS dup_tokens",
    ).collect()[0]
    sec = round(time.time() - t0, 2)
    return {
        "op": "cross_doc_spans",
        "corpus": sf_dir,
        "n_docs": n,
        "wall_s": sec,
        "docs_per_sec": round(n / sec, 1),
        "tokens": agg["tokens"],
        "docs_with_dup": agg["docs_with_dup"],
        "dup_tokens": agg["dup_tokens"],
    }


def main() -> None:
    from robokop_build_spark.datagen.driver_tables import ensure_driver_tables_spark
    from robokop_build_spark.session import get_spark

    spark = get_spark(app_name="newops-at-size")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_driver_tables_spark(spark, RANDOM_DIR, 32.0)
    results = [spans_at_size(spark, RANDOM_DIR)]
    out = {"results": results, "ts": time.time()}
    with open(os.path.join(REPO, "BENCH", "newops_at_size.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
