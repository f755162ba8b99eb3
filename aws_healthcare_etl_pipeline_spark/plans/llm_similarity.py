"""Similarity-search queries over the embeddings fixture (SURVEY.md §2.8).

Brute-force cosine top-k carries a DuckDB oracle: both engines compute
dot/norm as a sequential left-to-right double fold over the same float
values, so the scores are bit-identical. The LSH variant is the
approximate scale path (rows-only check; pytest measures recall vs the
brute-force truth).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import l2_norm
from ..operators.similarity import _hyperplanes, brute_force_top_k, lsh_top_k
from ..sources.tables import load_table
from .registry import query

N_QUERIES = 10
TOP_K = 5


def _lsh_ctes(
    n_queries: int,
    dim: int = 64,
    bits_per_table: int = 8,
    n_tables: int = 8,
    seed: int = 42,
) -> str:
    """SQL CTE list replicating the ``lsh_top_k`` pipeline up to exact
    scoring: c / q (corpus, queries as DOUBLE[]), csig / qsig
    (signatures), cand (distinct candidate pairs), scored (exact
    cosine on candidates). Shared by the lsh top-k oracle and the ANN
    bake-off oracle — the hyperplanes are fixed-seed literals in BOTH
    plans, the per-plane dot products are the same left-to-right
    double folds, and sign thresholds / multiprobe are deterministic,
    so every stage is bit-identical across engines."""
    planes = _hyperplanes(dim, bits_per_table * n_tables, seed)

    def arr(plane: list[float]) -> str:
        return "[" + ",".join(repr(float(x)) for x in plane) + "]"

    def sig(tbl: int) -> str:
        parts = [
            f"(CASE WHEN list_dot_product(v, {arr(planes[tbl * bits_per_table + p])})"
            f" > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(bits_per_table)
        ]
        return "(" + " + ".join(parts) + ")"

    sig_cols = ",\n               ".join(f"{sig(t)} AS s{t}" for t in range(n_tables))

    def probes(t: int) -> str:
        vals = [f"q.s{t}"] + [f"xor(q.s{t}, {1 << b})" for b in range(bits_per_table)]
        return ", ".join(vals)

    legs = "\n            UNION ALL\n            ".join(
        f"SELECT q.query_id, c.vec_id FROM qsig q JOIN csig c"
        f" ON c.s{t} IN ({probes(t)})"
        for t in range(n_tables)
    )
    return f"""c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {n_queries}
        ), csig AS (
            SELECT vec_id, v, {sig_cols} FROM c
        ), qsig AS (
            SELECT query_id, v, {sig_cols} FROM q
        ), cand AS (
            SELECT DISTINCT query_id, vec_id FROM (
            {legs}
            ) WHERE query_id <> vec_id
        ), scored AS (
            SELECT cand.query_id, cand.vec_id,
                   list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(c.v, c.v))) AS cosine
            FROM cand
            JOIN csig c ON cand.vec_id = c.vec_id
            JOIN qsig q ON cand.query_id = q.query_id
        )"""


def _lsh_oracle_sql(
    n_queries: int,
    k: int,
    dim: int = 64,
    bits_per_table: int = 8,
    n_tables: int = 8,
    seed: int = 42,
) -> str:
    """Full SQL replication of ``lsh_top_k`` (see ``_lsh_ctes``)."""
    ctes = _lsh_ctes(
        n_queries, dim=dim, bits_per_table=bits_per_table, n_tables=n_tables, seed=seed
    )
    return f"""
        WITH {ctes}
        SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, vec_id
                   ) AS rank
            FROM scored
        ) t
        WHERE rank <= {k}
        ORDER BY query_id, rank
    """


@query(
    "sim_bruteforce_topk",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < {N_QUERIES}
        ), c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        ), scored AS (
            SELECT query_id, vec_id,
                   list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                       AS cosine
            FROM q, c
            WHERE vec_id <> query_id
        )
        SELECT query_id, vec_id, cosine, rank
        FROM (
            SELECT query_id, vec_id, cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, vec_id
                   ) AS rank
            FROM scored
        ) t
        WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """,
    description="Exact brute-force cosine top-5 for the first 10 vectors: "
    "broadcast queries x corpus scan, JVM-side zip_with/aggregate math.",
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return brute_force_top_k(emb, queries_df, k=TOP_K).orderBy("query_id", "rank")


@query(
    "sim_lsh_ann_topk",
    oracle=_lsh_oracle_sql(N_QUERIES, TOP_K),
    description="Approximate top-5 via multi-table sign-LSH (8 tables x "
    "8 bits, 1-bit multiprobe); exact cosine on candidates only. The "
    "oracle replicates the full LSH pipeline in SQL from the same "
    "fixed-seed hyperplane literals — signatures, probes, candidates "
    "and rerank are bit-identical across engines.",
)
def sim_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return lsh_top_k(emb, queries_df, k=TOP_K, dim=64).orderBy("query_id", "rank")


@query(
    "dedup_embedding_cosine_pairs",
    oracle="""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
                   AS cosine
        FROM v a, v b
        WHERE a.vec_id < b.vec_id
          AND list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
              >= 0.3
        ORDER BY id_a, id_b
    """,
    description="Embedding-cosine near-duplicate pairs (all-pairs exact at "
    "test scale; the documented scale path swaps in LSH candidates first).",
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a")).withColumn(
        "n_a", l2_norm(F.col("e_a"))
    )
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("e_b")).withColumn(
        "n_b", l2_norm(F.col("e_b"))
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot(F.col("e_a"), F.col("e_b")) / (F.col("n_a") * F.col("n_b"))).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= 0.3)
        .orderBy("id_a", "id_b")
    )


@query(
    "emb_norm_stats_by_label",
    oracle="""
        WITH n AS (
            SELECT label,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS norm
            FROM embeddings
        )
        SELECT label, COUNT(*) AS n_vectors,
               MIN(norm) AS min_norm, MAX(norm) AS max_norm,
               CAST(SUM(CAST(round(norm, 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                   AS avg_norm
        FROM n
        GROUP BY label
        ORDER BY label
    """,
    description="Vector-norm stats per label (exact min/max; avg over "
    "6-dp-rounded norms so the sum is order-insensitive).",
)
def emb_norm_stats_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norm = l2_norm(F.col("embedding"))
    return (
        emb.withColumn("norm", norm)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
            (
                F.sum(F.round("norm", 6).cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_norm"),
        )
        .orderBy("label")
    )


def ivf_topk_df(emb: DataFrame) -> DataFrame:
    """Per-pair IVF approximate top-k at the standard harness settings
    (first {N_QUERIES} queries, k={TOP_K}, 8 centroids / 2 Lloyd
    iterations / nprobe=2) — shared by ``sim_ivf_ann_topk`` and the
    ANN bake-off so both grade the identical pipeline.

    k=8/2 iterations hits the same recall as k=16/3 on this corpus at
    a third of the train+search cost (Lloyd converges fast on
    near-orthogonal data); at real scale k grows with corpus size.
    Training stays on the NARROW frame: its seeded init samples rows
    in scan order, which a repartition would scramble. The per-row
    scoring passes (16 dot products x dim) get widened — embeddings
    is a single-row-group file, i.e. a one-task scan otherwise.
    """
    from ..operators.ivf import ivf_top_k, train_ivf_centroids
    from ..operators.parallelism import widen

    queries_df = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    emb_wide = widen(emb, "vec_id")
    centroids = train_ivf_centroids(emb, k=8, iterations=2)
    return ivf_top_k(emb_wide, queries_df, k=TOP_K, centroids=centroids, nprobe=2)


@query(
    "sim_ivf_ann_topk",
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST({TOP_K} * COUNT(*) AS BIGINT) AS n_results,
               TRUE AS mean_recall_ge_030
        FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
    description="IVF approximate top-5: k-means index (DataFrame Lloyd "
    "iterations), nprobe-nearest-centroid search, exact cosine within "
    "probed clusters. Centroid training uses float sums, which are not "
    "bit-stable across engines, so the per-pair result can't be "
    "SQL-replicated; the query instead SELF-GRADES against the in-plan "
    "brute-force truth and the oracle pins structure (result counts) "
    "plus the recall floor. Detailed recall is pytest-covered "
    "(tests/test_ivf.py).",
)
def sim_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.parallelism import widen

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # r12: same double-reference as sim_pq_adc_topk — the IVF probe
    # pipeline fed both the n_ret aggregate and the truth-hits join;
    # one bounded (N_QUERIES x TOP_K) checkpoint halves the index scan
    ivf = ivf_topk_df(emb).localCheckpoint(eager=False)
    truth = brute_force_top_k(widen(emb, "vec_id"), queries_df, k=TOP_K)
    hits = ivf.join(truth.select("query_id", "vec_id"), ["query_id", "vec_id"])
    per_query = (
        ivf.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_ret"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            "n_ret",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        )
    )
    return per_query.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("n_ret").alias("n_results"),
        (
            (F.sum("n_hit").cast("double") / F.sum(F.lit(TOP_K)))
            >= 0.30
        ).alias("mean_recall_ge_030"),
    )


def pq_topk_df(emb: DataFrame) -> DataFrame:
    """Per-pair PQ-ADC approximate top-k at the standard harness
    settings (first {N_QUERIES} queries, k={TOP_K}, m=8 codebooks,
    ratio-scaled shortlist) — shared by ``sim_pq_adc_topk`` and the
    ANN bake-off so both grade the identical pipeline."""
    from ..functions.vectors import dot
    from ..operators.parallelism import widen
    from ..operators.pq import pq_encode, pq_top_k, train_pq_codebooks
    from ..operators.topk import nearest_k

    # shortlist scales with the corpus (12.5%, floor 64): a FIXED 64
    # was 0.95 recall on the 500-vector fixture but 0.46 at 2000
    # vectors (sf0.1) — shortlist-to-corpus RATIO is what holds recall
    SHORTLIST = max(64, emb.count() // 8)
    # cosine-PQ: encode unit-normalized vectors so quantization error
    # is spent on direction, not magnitude
    norm_emb = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x / l2_norm(F.col("embedding"))).alias(
            "embedding"
        ),
    )
    queries_df = norm_emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    books = train_pq_codebooks(norm_emb)
    encoded = pq_encode(widen(norm_emb, "vec_id"), books)
    shortlist = pq_top_k(encoded, queries_df, books, k=SHORTLIST)

    # exact rerank of the shortlist only: joins touch SHORTLIST x
    # n_queries rows, never the full corpus
    raw_q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    rer = (
        shortlist.join(emb.select("vec_id", F.col("embedding").alias("cv")), "vec_id")
        .join(raw_q, "query_id")
        .select(
            "query_id",
            "vec_id",
            (
                dot(F.col("qv"), F.col("cv"))
                / (l2_norm(F.col("qv")) * l2_norm(F.col("cv")))
            ).alias("cosine"),
        )
    )
    return nearest_k(rer, TOP_K, "query_id", "vec_id", "cosine")


@query(
    "sim_pq_adc_topk",
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST({TOP_K} * COUNT(*) AS BIGINT) AS n_results,
               TRUE AS mean_recall_ge_050
        FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
    description="Product-quantization ANN (operators/pq.py): corpus "
    "compressed to m=8 codebook codes (4 bytes/vector packed vs 256 "
    "of float), ADC table-lookup scan for a 64-candidate shortlist, "
    "exact cosine rerank of the shortlist only (size n/8, floor 64 — "
    "recall tracks the shortlist RATIO, measured 0.90 at sf0.1). "
    "Codebooks are "
    "sample-trained driver-side (bounded transfer, the standard PQ "
    "contract); train/encode float math is not bit-stable across "
    "engines, so like sim_ivf_ann_topk the query SELF-GRADES against "
    "in-plan brute-force truth and the oracle pins structure plus the "
    "recall floor (measured 0.875 at this corpus/shortlist; floor "
    "0.50). Detailed recall curve is pytest-covered "
    "(tests/test_pq.py).",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.parallelism import widen

    emb = load_table(spark, sf_dir, "embeddings")
    # r12: the self-grading harness references the PQ result TWICE
    # (n_ret per query + the truth-hits join), so without a
    # materialization the ENTIRE encode+ADC-scan pipeline ran twice
    # per action (two BroadcastNestedLoopJoin corpus passes in the
    # before-pin). The result is bounded (N_QUERIES x TOP_K rows) —
    # checkpoint it lazily and pay the scan once.
    pq_top = pq_topk_df(emb).localCheckpoint(eager=False)
    emb_wide = widen(emb, "vec_id")
    truth = brute_force_top_k(
        emb_wide,
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        ),
        k=TOP_K,
    )
    hits = pq_top.join(truth.select("query_id", "vec_id"), ["query_id", "vec_id"])
    per_query = (
        pq_top.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_ret"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            "n_ret",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        )
    )
    return per_query.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("n_ret").alias("n_results"),
        (
            (F.sum("n_hit").cast("double") / F.sum(F.lit(TOP_K))) >= 0.50
        ).alias("mean_recall_ge_050"),
    )


@query(
    "emb_pca_projection",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
               64 AS dim, 8 AS k,
               TRUE AS ratios_descend,
               TRUE AS projection_reduces_variance
        FROM embeddings
    """,
    description="Distributed PCA (operators/pca.py): covariance via "
    "per-batch numpy outer-product partials (shuffle carries "
    "O(batches x dim^2), never O(rows)), driver-side eigen on the "
    "64x64 matrix, projection as k literal dot expressions. Float "
    "partials are partition-order-dependent, so outputs self-grade "
    "distributively: component ratios must descend, and mean squared "
    "reconstruction error from k=8 components must be BELOW the "
    "total variance (energy captured > 0) — both checked in-plan; "
    "numpy ground-truth tolerance parity is pytest-covered "
    "(tests/test_pca.py).",
)
def emb_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.pca import fit_pca, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    n, mean, comps, ratio = fit_pca(emb, k=8)
    proj = pca_project(emb, mean, comps)
    # distributed check: E[||pc||^2] (captured energy) must be positive
    # and at most total variance  E[||x - mean||^2]
    mean_lit = "array(" + ",".join(f"{float(v)!r}D" for v in mean) + ")"
    stats = proj.select(
        F.aggregate(
            F.col("pc"), F.lit(0.0), lambda a, x: a + x * x
        ).alias("pc_energy"),
        F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.expr(mean_lit),
                lambda x, m: (x - m) * (x - m),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("total_energy"),
    ).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("pc_energy").alias("pe"),
        F.sum("total_energy").alias("te"),
    )
    ratios_ok = bool(all(ratio[i] >= ratio[i + 1] - 1e-12 for i in range(len(ratio) - 1)))
    return stats.select(
        "n_vectors",
        F.lit(int(comps.shape[1])).alias("dim"),
        F.lit(int(comps.shape[0])).alias("k"),
        F.lit(ratios_ok).alias("ratios_descend"),
        ((F.col("pe") > 0) & (F.col("pe") <= F.col("te") * 1.000001)).alias(
            "projection_reduces_variance"
        ),
    )
