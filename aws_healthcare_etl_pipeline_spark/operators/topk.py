"""Top-K per group via ranking window (SURVEY.md §2.4 O2)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """K best rows per group. ``order_by`` must be a total order
    (include tiebreaker columns) for deterministic output.

    Physical shape: one shuffle on the group keys, per-partition sort,
    rank, filter — Catalyst pushes the ``rn <= k`` limit into the
    window via ``WindowGroupLimit``, so each partition only keeps k
    rows instead of fully sorting (visible in the physical plan).
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def nearest_k(
    scored: DataFrame, k: int, query_id: str, corpus_id: str, score: str
) -> DataFrame:
    """The ranking step every similarity search ends with: the ``k``
    highest-``score`` corpus rows per query, ties to the lower corpus
    id. Returns (query_id, corpus_id, score, rank), rank from 1."""
    return top_k_per_group(
        scored,
        [query_id],
        [F.col(score).desc(), F.col(corpus_id).asc()],
        k,
        rank_col="rank",
    ).select(query_id, corpus_id, score, "rank")
