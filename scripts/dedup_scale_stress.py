#!/usr/bin/env python
"""Candidate-set growth of the dedup/similarity planes under a 10x corpus
(VERDICT r5 #5): the graph plane got per-round flatness evidence in round
4; this gives the LSH/banding planes the equivalent — candidate volume
measured at n and 10n on the same synthetic mixture (unique docs + planted
dup clusters + a boilerplate cluster), with the growth exponent
log10(c_10n / c_n).  Linear growth (exponent ~1) is the pass bar: each
plane's blocking must scale with the corpus, not its square.

Planes measured:
* minhash_pairs candidates (lsh_candidate_pairs, bucket guard on)
* simhash banded candidates (pre-verify equi-join volume)
* incremental ingest candidates (batch x corpus, batch fixed at 2%)
* semantic_dedup_blocked candidates (shared_shingle_pairs, df cap 64)

Run: python scripts/dedup_scale_stress.py   (~3 min)
Results recorded in PLANS.md §round-6 dedup-plane scaling.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from puma_matcher_spark.llmdata import dedup as dd
from puma_matcher_spark.llmdata import similarity as sim
from puma_matcher_spark.session import get_spark

def corpus(spark, n_docs: int):
    """Deterministic synthetic mixture with an OPEN vocabulary (like real
    text, where the shingle space grows with the corpus):

    * first 500 docs: ONE byte-identical boilerplate mega-cluster whose
      size is FIXED across scale points (its pair count is a constant
      offset, so growth exponents measure the scaling parts — and mega
      groups are the exact-dedup pass's job anyway);
    * 8% of the rest: 8-doc near-dup clusters (shared per-block token
      stream + one per-doc suffix token) — within the df_cap completeness
      contract;
    * the rest: fully unique docs (id-derived tokens, no shared shingle).

    A closed tiny vocabulary was measured first and REJECTED as the
    stress design: it saturates every shingle's df, which is adversarial
    to ANY content-blocking scheme (no rare shingles exist — the same
    no-gap geometry as the isotropic embeddings, PLANS.md §round-6), and
    it does not model real corpora.
    """
    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    n_tok = 40
    uniq = F.concat_ws(
        " ",
        *[
            F.concat(F.lit("u"), (F.col("doc_id") * n_tok + i).cast("string"))
            for i in range(n_tok)
        ],
    )
    block = (F.col("doc_id") / 100).cast("long")
    cluster_text = F.concat_ws(
        " ",
        *(
            [
                F.concat(F.lit("c"), block.cast("string"), F.lit(f"t{i}"))
                for i in range(n_tok)
            ]
            + [F.concat(F.lit("s"), (F.col("doc_id") % 100).cast("string"))]
        ),
    )
    frac = F.col("doc_id") % 100
    text = (
        F.when(F.col("doc_id") < 500, F.lit("this corpus uses boilerplate " * 10))
        .when(frac < 8, cluster_text)
        .otherwise(uniq)
    )
    return base.select("doc_id", text.alias("text"))


def simhash_band_candidates(docs, max_hamming: int = 3):
    sh = dd.simhash64(docs)
    n_bands = max_hamming + 1
    width = 60 // n_bands
    bands = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(
                            F.col("simhash"), b * width
                        ).bitwiseAND(F.lit((1 << width) - 1)).alias("val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "bv.band", "bv.val")
    a = bands.select(F.col("doc_id").alias("id1"), "band", "val")
    b = bands.select(F.col("doc_id").alias("id2"), "band", "val")
    w = F.count(F.lit(1)).over(
        __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
            "band", "val"
        )
    )
    a = a.withColumn("_n", w).where(F.col("_n") <= 2000).drop("_n")
    b = b.withColumn("_n", w).where(F.col("_n") <= 2000).drop("_n")
    return (
        a.join(b, ["band", "val"])
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def measure(spark, n_docs: int) -> dict[str, int]:
    docs = corpus(spark, n_docs).persist()
    docs.count()
    out: dict[str, int] = {}
    t0 = time.time()
    bands = dd.lsh_band_keys(dd.minhash_signatures(dd.shingles(docs)))
    out["minhash_candidates"] = dd.lsh_candidate_pairs(bands).count()
    out["simhash_candidates"] = simhash_band_candidates(docs).count()
    out["simhash128_candidates"] = dd.simhash128_candidates(
        dd.simhash128_mapside(docs)
    ).count()
    batch = docs.where(F.col("doc_id") % 50 == 7)  # 2% fixed-rate batch
    out["incremental_candidates"] = dd.minhash_incremental_pairs(
        batch.select(F.col("doc_id"), "text"), docs
    ).count()
    out["semantic_candidates"] = sim.shared_shingle_pairs(docs).count()
    # cross-frame contamination candidates: fixed 2%-of-5k benchmark side
    # (the production shape: benchmark size is constant as the corpus
    # grows), rarity computed over BOTH frames
    bench_docs = docs.where(
        (F.col("doc_id") % 50 == 7) & (F.col("doc_id") < 5_000)
    )  # exactly 100 docs at both scale points, deterministic
    out["contamination_candidates"] = (
        sim.semantic_contamination(docs, bench_docs, threshold=-1.0)
        .count()
    )
    out["_elapsed_s"] = round(time.time() - t0, 1)
    docs.unpersist()
    return out


def main() -> None:
    spark = get_spark("dedup-scale-stress")
    spark.sparkContext.setLogLevel("ERROR")
    n1, n2 = 5_000, 50_000
    m1 = measure(spark, n1)
    m2 = measure(spark, n2)
    # the fixed 500-doc boilerplate cluster contributes a CONSTANT pair
    # count per plane (it is the same at both scales by construction);
    # subtract it so the exponent measures the scaling parts
    boiler = {
        "minhash_candidates": 500 * 499 // 2,
        "simhash_candidates": 500 * 499 // 2,
        "simhash128_candidates": 500 * 499 // 2,
        "incremental_candidates": 10 * 500,  # 10 batch docs x cluster
        "semantic_candidates": 0,  # df cap excises the mega-cluster
        # benchmark slice (ids 7,57,..,4957 mod 50 == 7) holds 2 boiler
        # docs (7, 457... under 500: ids 7 and 457) x 500-doc cluster,
        # but the df cap excises boiler shingles -> no constant term
        "contamination_candidates": 0,
    }
    print(f"{'plane':26s} {'n=5k':>12s} {'n=50k':>12s} {'net-exponent':>13s}")
    for k in (
        "minhash_candidates",
        "simhash_candidates",
        "simhash128_candidates",
        "incremental_candidates",
        "semantic_candidates",
        "contamination_candidates",
    ):
        n1_, n2_ = m1[k] - boiler[k], m2[k] - boiler[k]
        e = math.log10(max(n2_, 1) / max(n1_, 1))
        flag = "" if e <= 1.3 else "  << SUPER-LINEAR"
        print(f"{k:26s} {m1[k]:12d} {m2[k]:12d} {e:13.2f}{flag}")
    print(f"elapsed: {m1['_elapsed_s']}s @5k, {m2['_elapsed_s']}s @50k")


if __name__ == "__main__":
    main()
