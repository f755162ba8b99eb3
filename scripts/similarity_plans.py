#!/usr/bin/env python
"""Normalized optimized logical plans of the similarity and dedup operators.

Builds each of the ten entry points below on a fixture directory (its
``embeddings`` and ``documents`` parquet tables) with fixed literal
inputs (seeded centroids, codebooks and PCA components, so no training
result can differ between runs) and writes its optimized logical plan
with expression ids (``#12``, ``#12L``) and lambda-variable suffixes
(``x_3``) stripped. Two checkouts build the same Spark work iff
their outputs are byte-identical:

  python scripts/similarity_plans.py --repo OLD_CHECKOUT SF_DIR old.txt
  python scripts/similarity_plans.py --repo NEW_CHECKOUT SF_DIR new.txt
  cmp old.txt new.txt

``--repo`` (default: this checkout) is the tree whose engine is imported.
"""

from __future__ import annotations

import argparse
import os
import re
import sys


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "", plan)
    return re.sub(r"(lambda \w+?)_\d+\b", r"\1", plan)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("sf_dir")
    ap.add_argument("out")
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.repo))

    import numpy as np
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from aws_healthcare_etl_pipeline_spark.operators.dedup import (
        drop_exact_duplicates,
        minhash_near_duplicates,
        ngram_jaccard_pairs,
        simhash_near_duplicates,
    )
    from aws_healthcare_etl_pipeline_spark.operators.ivf import ivf_top_k
    from aws_healthcare_etl_pipeline_spark.operators.pca import pca_project
    from aws_healthcare_etl_pipeline_spark.operators.pq import pq_encode, pq_top_k
    from aws_healthcare_etl_pipeline_spark.operators.similarity import (
        brute_force_top_k,
        lsh_top_k,
    )

    # a plain session with fixed parallelism: the plan must not depend on
    # either checkout's session factory
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.debug.maxToStringFields", "1000000")
        .config("spark.sql.maxPlanStringLength", str(2**30))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(f"{args.sf_dir}/embeddings.parquet")
    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rng = np.random.default_rng(0)
    centroids = rng.standard_normal((4, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    books = rng.standard_normal((8, 16, 8))
    mean, components = rng.standard_normal(64), rng.standard_normal((3, 64))
    builders = {
        "brute_force_top_k": lambda: brute_force_top_k(emb, queries, 10),
        "lsh_top_k": lambda: lsh_top_k(emb, queries, 10, dim=64),
        "ivf_top_k": lambda: ivf_top_k(emb, queries, 10, centroids, nprobe=2),
        "pq_encode": lambda: pq_encode(emb, books),
        "pq_top_k": lambda: pq_top_k(pq_encode(emb, books), queries, books, 10),
        "pca_project": lambda: pca_project(emb, mean, components),
        "minhash_near_duplicates": lambda: minhash_near_duplicates(
            docs, "text", "doc_id", threshold=0.7
        ),
        "simhash_near_duplicates": lambda: simhash_near_duplicates(docs, "text", "doc_id"),
        "ngram_jaccard_pairs": lambda: ngram_jaccard_pairs(docs, "text", "doc_id", ["lang"]),
        "drop_exact_duplicates": lambda: drop_exact_duplicates(docs, "text", "doc_id"),
    }
    with open(args.out, "w") as fh:
        for name, build in builders.items():
            plan = build()._jdf.queryExecution().optimizedPlan().toString()
            fh.write(f"===== {name}\n{normalize(plan)}\n")
    spark.stop()


if __name__ == "__main__":
    main()
