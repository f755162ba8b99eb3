"""Unit tests for composed operators on tiny inline DataFrames."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from aws_healthcare_etl_pipeline_spark.operators.asof import asof_join
from aws_healthcare_etl_pipeline_spark.operators.dedup import (
    drop_exact_duplicates,
    exact_duplicate_clusters,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from aws_healthcare_etl_pipeline_spark.operators.topk import top_k_per_group


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


# ----------------------------------------------------------------- asof

@pytest.fixture()
def asof_frames(spark):
    left = spark.createDataFrame(
        [
            (1, ts("2024-01-01T10:00:00"), "t1"),
            (1, ts("2024-01-01T12:00:00"), "t2"),
            (2, ts("2024-01-01T09:00:00"), "t3"),
        ],
        "key int, t timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, ts("2024-01-01T09:30:00"), 10.0),
            (1, ts("2024-01-01T11:00:00"), 20.0),
            (1, ts("2024-01-01T12:00:00"), 30.0),
            (2, ts("2024-01-01T09:30:00"), 40.0),
        ],
        "key int, rt timestamp, v double",
    )
    return left, right


def test_asof_backward(spark, asof_frames):
    left, right = asof_frames
    out = {
        r.tag: r.v
        for r in asof_join(left, right, on="key", left_time="t", right_time="rt").collect()
    }
    assert out["t1"] == 10.0          # 09:30 is nearest earlier
    assert out["t2"] == 30.0          # equal timestamp matches (inclusive)
    assert out["t3"] is None          # no right row at/before 09:00 -> NULL


def test_asof_forward(spark, asof_frames):
    left, right = asof_frames
    out = {
        r.tag: r.v
        for r in asof_join(
            left, right, on="key", left_time="t", right_time="rt", direction="forward"
        ).collect()
    }
    assert out["t1"] == 20.0          # nearest later is 11:00
    assert out["t2"] == 30.0          # inclusive
    assert out["t3"] == 40.0


# ----------------------------------------------------------------- topk

def test_topk_deterministic(spark):
    df = spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, 5.0), ("a", 3, 4.0), ("b", 4, 9.0)],
        "g string, id int, v double",
    )
    rows = top_k_per_group(
        df, ["g"], [F.col("v").desc(), F.col("id").asc()], k=2
    ).collect()
    got = {(r.g, r.rn): r.id for r in rows}
    assert got == {("a", 1): 1, ("a", 2): 2, ("b", 1): 4}


# ---------------------------------------------------------------- dedup

@pytest.fixture()
def dup_docs(spark):
    return spark.createDataFrame(
        [
            (1, "The quick   brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # normalized dup of 1
            (3, "a completely different document about spark engines"),
            (4, "The quick brown fox jumps over the lazy dog today"),  # near-dup
        ],
        "doc_id long, text string",
    )


def test_exact_dedup_keeps_min_id(spark, dup_docs):
    kept = sorted(
        r.doc_id for r in drop_exact_duplicates(dup_docs, "text", "doc_id").collect()
    )
    assert kept == [1, 3, 4]
    clusters = {
        r.keeper_id: r.n_copies
        for r in exact_duplicate_clusters(dup_docs, "text", "doc_id").collect()
    }
    assert clusters == {1: 2, 3: 1, 4: 1}


def test_minhash_finds_near_dup(spark, dup_docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates(
            dup_docs, "text", "doc_id", num_hashes=64, bands=16, threshold=0.5
        ).collect()
    }
    assert (1, 2) in pairs  # exact dup: jaccard 1.0
    assert (1, 4) in pairs or (2, 4) in pairs  # near-dup shares most shingles
    assert not any(3 in p for p in pairs)


def test_simhash_near_dup(spark, dup_docs):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_duplicates(dup_docs, "text", "doc_id", max_hamming=16).collect()
    }
    assert pairs[(1, 2)] == 0  # identical after normalization
    assert not any(3 in p for p in pairs)


def test_minhash_seed_family(spark):
    """Regression: the 64 per-seed hash functions must be DISTINCT and
    position-insensitive.

    The r1 implementation used a 2-arg lambda (``lambda b, i=i: ...``)
    for the per-seed rehash; PySpark dispatches HOF lambdas by arity,
    so the seed default was silently replaced by the array-index
    Column — collapsing all 64 seeds into one position-sensitive hash
    (observed: sig agreement 0/64 on a J=0.97 pair whose arrays were
    offset by one position). Pinned on the hot path's signature:
    ``_seed_minima_expr`` over a materialized xxhash64 array, as
    ``minhash_near_duplicates`` builds it.
    """
    from aws_healthcare_etl_pipeline_spark.operators.dedup import _seed_minima_expr

    df = spark.createDataFrame(
        [
            (1, ["a b c", "b c d", "c d e", "d e f"]),
            # same set minus one element, PREPENDED extra -> every shared
            # element sits at a shifted position
            (2, ["z z z", "a b c", "b c d", "c d e"]),
        ],
        "doc_id long, shingles array<string>",
    )
    rows = {
        r.doc_id: r.sig
        for r in df.withColumn(
            "__mh_base", F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
        )
        .select("doc_id", _seed_minima_expr("__mh_base", 64).alias("sig"))
        .collect()
    }
    # distinct seeds: a 4-element set collides to one min per seed, but
    # across 64 independent seeds the mins must not all be equal
    assert len(set(rows[1])) > 16, "per-seed hashes collapsed to one function"
    # position-insensitivity: J = 3/5 -> expected agreement ~38/64;
    # the broken version gave ~0 on shifted arrays
    agree = sum(1 for x, y in zip(rows[1], rows[2]) if x == y)
    assert agree >= 20, f"signature agreement {agree}/64 far below J=0.6"


def test_bucket_pairs_split_completeness_and_observed_drops(spark):
    """Oversized-bucket handling contract:

    - buckets larger than SPLIT_THRESHOLD are split into salted
      sub-buckets but lose NO pairs (cross-group pairs are generated
      from sub-bucket cross products);
    - buckets larger than MAX_BUCKET_SIZE are dropped, and the drop is
      OBSERVABLE (never silent) via the Observation metrics.
    """
    from pyspark.sql import Observation

    from aws_healthcare_etl_pipeline_spark.operators.dedup import (
        SPLIT_THRESHOLD,
        _bucket_pairs,
    )

    n = SPLIT_THRESHOLD + 57  # one bucket just over the split threshold
    rows = [(i, 1) for i in range(n)] + [(100_000 + i, 2) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, bucket int")
    obs = Observation("bp")
    pairs = _bucket_pairs(df, ["bucket"], observation=obs).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert len(got) == n * (n - 1) // 2 + 3, "split path lost or duplicated pairs"
    assert all(a < b for a, b in got)
    assert obs.get["dropped_buckets"] == 0

    # a flood bucket beyond MAX_BUCKET_SIZE must be dropped AND counted
    import aws_healthcare_etl_pipeline_spark.operators.dedup as dd

    old_max, old_split = dd.MAX_BUCKET_SIZE, dd.SPLIT_THRESHOLD
    try:
        dd.MAX_BUCKET_SIZE, dd.SPLIT_THRESHOLD = 10, 5
        flood = spark.createDataFrame(
            [(i, 1) for i in range(50)] + [(1000, 2), (1001, 2)],
            "doc_id long, bucket int",
        )
        obs2 = Observation("bp2")
        pairs2 = _bucket_pairs(flood, ["bucket"], observation=obs2).collect()
        assert {(r.id_a, r.id_b) for r in pairs2} == {(1000, 1001)}
        assert obs2.get["dropped_buckets"] == 1
        assert obs2.get["dropped_docs"] == 50
    finally:
        dd.MAX_BUCKET_SIZE, dd.SPLIT_THRESHOLD = old_max, old_split


def test_jaccard_empty_set_contract(spark):
    """Pinned edge: two EMPTY shingle sets are identical -> 1.0 (not
    null); one-empty pairs -> 0.0."""
    from aws_healthcare_etl_pipeline_spark.operators.dedup import jaccard

    df = spark.createDataFrame(
        [(1, [], []), (2, ["a"], []), (3, ["a"], ["a"])],
        "id long, a array<string>, b array<string>",
    )
    got = {r.id: r.j for r in df.select("id", jaccard(F.col("a"), F.col("b")).alias("j")).collect()}
    assert got == {1: 1.0, 2: 0.0, 3: 1.0}


def test_ngram_jaccard_exactness(spark, dup_docs):
    rows = ngram_jaccard_pairs(
        dup_docs, "text", "doc_id", block_cols=[], threshold=0.3
    ).collect()
    j = {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert j[(1, 2)] == 1.0
    # doc4 = doc1 + "today": shingles |A|=7,|B|=8, intersect=7 -> J=7/8
    assert abs(j[(1, 4)] - 7 / 8) < 1e-12
    assert not any(3 in p for p in j)


def test_ffd_pack_hand_case_and_invariants(spark):
    from aws_healthcare_etl_pipeline_spark.operators.packing import ffd_pack

    # capacity 10; sizes desc: 7(a) 6(b) 4(c) 3(d) 3(e) 12(z oversize)
    # FFD: a->bin0(7); b->bin1(6); c->bin1(10); d->bin0(10); e->bin2(3)
    # z is oversize -> dedicated bin placed first (largest item)
    rows = [
        ("g", 1, 7), ("g", 2, 6), ("g", 3, 4),
        ("g", 4, 3), ("g", 5, 3), ("g", 6, 12), ("g", 7, 0),
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_tokens long")
    out = ffd_pack(df, "lang", "doc_id", "n_tokens", capacity=10)
    got = {r.doc_id: r.bin_id for r in out.collect()}
    # z (id 6, size 12) sorts first -> bin 0 (dedicated: its real fill
    # 12 > cap, so nothing else fits it — not even the zero-size item,
    # which first-fits into bin 1 instead)
    assert got == {6: 0, 1: 1, 2: 2, 3: 2, 4: 1, 5: 3, 7: 1}

    # invariants on a bigger deterministic group
    rows2 = [("h", i, (i * 37) % 9 + 1) for i in range(200)]
    out2 = ffd_pack(
        spark.createDataFrame(rows2, "lang string, doc_id long, n_tokens long"),
        "lang", "doc_id", "n_tokens", capacity=10,
    )
    import pyspark.sql.functions as F

    bins = (
        out2.groupBy("bin_id").agg(F.sum("n_tokens").alias("fill")).collect()
    )
    assert all(b.fill <= 10 for b in bins)
    assert sum(1 for b in bins if b.fill < 5) <= 1
    # determinism: re-run yields the identical assignment
    again = ffd_pack(
        spark.createDataFrame(rows2, "lang string, doc_id long, n_tokens long"),
        "lang", "doc_id", "n_tokens", capacity=10,
    )
    assert sorted(map(tuple, out2.collect())) == sorted(map(tuple, again.collect()))
