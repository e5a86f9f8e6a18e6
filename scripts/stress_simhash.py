#!/usr/bin/env python
"""SimHash physical-strategy stress: explode vs map-side at 10× scale.

The explode formulation multiplies every (doc, token) row 60× and pays a
(doc, bit) shuffle; the map-side pandas UDF computes the fingerprint with
zero shuffle and zero blowup.  This script replicates the sf0.1 documents
table 10× (fresh doc_ids), times both paths end-to-end, and asserts
bit-identical fingerprints on a sample — demonstrating the explode-free
scale path the 100 TB deployment would pick.

Run: python scripts/stress_simhash.py  (~2-4 min)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from puma_matcher_spark.llmdata import dedup as dd
from puma_matcher_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = int(os.environ.get("SIMHASH_STRESS_REPLICAS", "10"))


def main() -> None:
    spark = get_spark("simhash-stress")
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    n_base = base.count()
    docs = (
        base.crossJoin(spark.range(REPLICAS).select(F.col("id").alias("_rep")))
        .select(
            (F.col("doc_id") + F.col("_rep") * F.lit(10_000_000)).alias("doc_id"),
            "text",
        )
    )
    n = n_base * REPLICAS
    print(f"corpus: {n} docs ({n_base} × {REPLICAS})")

    timings = {}
    for method in ("explode", "mapside"):
        t0 = time.time()
        out = dd.simhash64(docs, method=method)
        agg = out.agg(
            F.count(F.lit(1)).alias("n"),
            # fold every fingerprint into one checksum so both paths are
            # forced to compute all rows AND comparable without a collect
            F.sum(F.col("simhash") % F.lit(1_000_003)).alias("checksum"),
        ).collect()[0]
        timings[method] = time.time() - t0
        print(
            f"{method:8s}: {timings[method]:6.2f}s  rows={agg['n']}  "
            f"checksum={agg['checksum']}"
        )
        assert agg["n"] == n

    # bit-identical on a deterministic sample (checksums above already
    # cover the aggregate; this pins per-row equality)
    sample = docs.where(F.col("doc_id") % 97 == 0)
    a = {
        (r["doc_id"], r["simhash"])
        for r in dd.simhash64(sample, method="explode").collect()
    }
    b = {
        (r["doc_id"], r["simhash"])
        for r in dd.simhash64(sample).collect()
    }
    assert a == b, "map-side SimHash diverged from explode formulation"
    print(
        f"identical on {len(a)}-doc sample; "
        f"speedup mapside vs explode: {timings['explode'] / timings['mapside']:.2f}×"
    )


if __name__ == "__main__":
    main()
