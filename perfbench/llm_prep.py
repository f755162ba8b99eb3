"""``llm_prep``: closed loop, one client, LLM-data operators.

The seed generates document shards (four languages, planted exact and
near duplicates) and clustered embeddings with query batches. Each
block of five ops runs every kind once, in this order, on a seeded
shard or query batch:
``quality_scores`` + ``language_id``, ``drop_exact_duplicates``,
``minhash_near_duplicates``, ``brute_force_top_k`` and ``ivf_top_k``
(centroids from ``train_ivf_centroids`` at set-up). Every op's output
is checked in Python against the generator's ground truth.
"""

from __future__ import annotations

import os
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from measure import median, run_blocks

SHARDS = 4
DOCS_PER_SHARD = 300
N_VEC, DIM, CLUSTERS = 1000, 16, 8
QUERY_BATCHES, BATCH = 8, 16
K, NPROBE, IVF_CENTROIDS, IVF_ITERATIONS = 10, 2, 8, 1
MINHASH_THRESHOLD = 0.7
KINDS = ("quality", "exact_dedup", "minhash", "brute_force", "ivf")
SPAN = {
    "quality": "text.quality", "exact_dedup": "dedup.exact", "minhash": "dedup.minhash",
    "brute_force": "similarity.brute_force", "ivf": "ivf.top_k",
}
TAIL_PCT = 75.0  # the 4th of each block's 5 latencies
QUERY_ID_BASE = 1_000_000  # query ids never collide with corpus ids


class LlmPrep:
    tail_pct = TAIL_PCT

    def __init__(self, ctx):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "corpus")
        rng = inputs.rng_for(ctx.seed, "llm_sequence")
        # every block runs the kinds in one fixed order; the seed picks
        # the shard or query batch each op reads
        self.blocks = [[(k, int(rng.integers(0, 1 << 30))) for k in KINDS] for _ in range(100)]
        self.recall: list[float] = []
        self.planted_recall: list[float] = []
        self.pairs: list[int] = []

    def generate(self) -> None:
        os.makedirs(self.dir)
        c = inputs.corpus(self.ctx.seed, SHARDS, DOCS_PER_SHARD, 0.05, 0.05)
        self.shards = c["shards"]
        self.keepers, self.near = [], []
        self.text = {d: t for rows in self.shards for d, t, _ in rows}
        for s, rows in enumerate(self.shards):
            pq.write_table(
                pa.table({
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": [r[1] for r in rows],
                    "lang": [r[2] for r in rows],
                }),
                self.path(f"shard-{s}"),
            )
            first: dict[str, int] = {}
            for doc_id, text, _ in rows:
                first.setdefault(inputs.normalize(text), doc_id)
            self.keepers.append(set(first.values()))
            ids = {r[0] for r in rows}
            sh = {r[0]: inputs.shingles(r[1]) for r in rows}
            self.near.append({
                (a, b) for a, b in c["near_pairs"]
                if a in ids and inputs.jaccard(sh[a], sh[b]) >= MINHASH_THRESHOLD
            })
        e = inputs.embeddings(self.ctx.seed, N_VEC, DIM, CLUSTERS, QUERY_BATCHES * BATCH)
        self.vecs, self.queries = e["vectors"], e["queries"]
        pq.write_table(
            pa.table({
                "vec_id": pa.array(np.arange(N_VEC), pa.int64()),
                "embedding": pa.array(list(self.vecs), pa.list_(pa.float32())),
            }),
            self.path("embeddings"),
        )
        for b in range(QUERY_BATCHES):
            q = self.queries[b * BATCH:(b + 1) * BATCH]
            pq.write_table(
                pa.table({
                    "query_id": pa.array(QUERY_ID_BASE + b * BATCH + np.arange(BATCH), pa.int64()),
                    "query_vec": pa.array(list(q), pa.list_(pa.float32())),
                }),
                self.path(f"queries-{b}"),
            )
        self.truth_ids, self.truth_cos = inputs.exact_top_k(self.vecs, self.queries, K)

    def path(self, name: str) -> str:
        return os.path.join(self.dir, f"{name}.parquet")

    def prepare(self, cycle: int) -> None:
        from aws_healthcare_etl_pipeline_spark.operators.ivf import train_ivf_centroids

        t0 = time.perf_counter()
        with self.ctx.tracer.span("ivf.train"):
            self.centroids = train_ivf_centroids(
                self.ctx.spark.read.parquet(self.path("embeddings")),
                k=IVF_CENTROIDS, iterations=IVF_ITERATIONS,
            )
        self.train_s = time.perf_counter() - t0

    def first_result(self) -> None:
        self.op(-1, "quality", 0)

    def warmup(self) -> list[float]:
        """Each kind once, after the quality op of ``first_result``."""
        return [self.op(-1, kind, i)[1] for i, kind in enumerate(KINDS) if kind != "quality"]

    def run(self, deadline: float) -> list[tuple[str, float, bool]]:
        return run_blocks(self.blocks, deadline, lambda i, item: self.op(i, *item))

    def op(self, op_id: int, kind: str, r: int) -> tuple[str, float, bool]:
        from aws_healthcare_etl_pipeline_spark.operators import dedup, ivf, similarity, text

        spark, tr = self.ctx.spark, self.ctx.tracer
        shard, batch = r % SHARDS, r % QUERY_BATCHES
        t0 = time.perf_counter()
        try:
            with tr.span(f"llm_prep.{kind}", op_id), tr.span(SPAN[kind]):
                if kind in ("quality", "exact_dedup", "minhash"):
                    docs = spark.read.parquet(self.path(f"shard-{shard}"))
                else:
                    corpus = spark.read.parquet(self.path("embeddings"))
                    queries = spark.read.parquet(self.path(f"queries-{batch}"))
                if kind == "quality":
                    rows = text.quality_scores(text.language_id(docs)).select(
                        "doc_id", "lang", "predicted_lang", "quality_score").collect()
                elif kind == "exact_dedup":
                    rows = dedup.drop_exact_duplicates(docs, "text", "doc_id").select("doc_id").collect()
                elif kind == "minhash":
                    rows = dedup.minhash_near_duplicates(
                        docs, "text", "doc_id", threshold=MINHASH_THRESHOLD).collect()
                elif kind == "brute_force":
                    rows = similarity.brute_force_top_k(corpus, queries, K).collect()
                else:
                    rows = ivf.ivf_top_k(corpus, queries, K, self.centroids, nprobe=NPROBE).collect()
        except Exception:  # a failed op is counted, the loop goes on
            self.ctx.problems.append(f"llm_prep: {kind} raised\n{traceback.format_exc()}")
            return kind, time.perf_counter() - t0, False
        lat = time.perf_counter() - t0
        problems = self.check(kind, rows, shard, batch)
        self.ctx.problems.extend(f"llm_prep: {kind}: {p}" for p in problems)
        return kind, lat, not problems

    def check(self, kind: str, rows, shard: int, batch: int) -> list[str]:
        """Problems with one op's output (empty list = correct)."""
        if kind == "quality":
            wrong = [r["doc_id"] for r in rows
                     if r["predicted_lang"] != inputs.expected_lang(self.text[r["doc_id"]], r["lang"])]
            if len(rows) != DOCS_PER_SHARD or wrong:
                return [f"{len(rows)} rows, language misidentified for docs {wrong[:5]}"]
            return []
        if kind == "exact_dedup":
            got = {r["doc_id"] for r in rows}
            if got != self.keepers[shard]:
                return [f"survivors differ from planted: {len(got)} vs {len(self.keepers[shard])}"]
            return []
        if kind == "minhash":
            sh = {d: inputs.shingles(t) for d, t, _ in self.shards[shard]}
            bad = [
                (r["id_a"], r["id_b"]) for r in rows
                if inputs.jaccard(sh[r["id_a"]], sh[r["id_b"]]) < MINHASH_THRESHOLD
                or abs(inputs.jaccard(sh[r["id_a"]], sh[r["id_b"]]) - r["jaccard"]) > 1e-9
            ]
            found = {(r["id_a"], r["id_b"]) for r in rows}
            planted = self.near[shard]
            self.pairs.append(len(rows))
            self.planted_recall.append(len(planted & found) / len(planted) if planted else 1.0)
            return [f"pairs below the Jaccard threshold: {bad[:5]}"] if bad else []
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"] - QUERY_ID_BASE, []).append(r)
        problems, hits = [], 0
        for qi in range(batch * BATCH, (batch + 1) * BATCH):
            got = sorted(by_q.get(qi, []), key=lambda r: r["rank"])
            exact = dict(zip(self.truth_ids[qi].tolist(), self.truth_cos[qi].tolist()))
            kth = self.truth_cos[qi][-1]
            q = self.queries[qi].astype(np.float64)
            for r in got:
                v = self.vecs[r["vec_id"]].astype(np.float64)
                cos = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
                if abs(cos - r["cosine"]) > 1e-9:
                    problems.append(f"query {qi}: cosine of {r['vec_id']} is {r['cosine']}, expected {cos}")
                elif kind == "brute_force" and cos < kth - 1e-9:
                    problems.append(f"query {qi}: {r['vec_id']} is not in the exact top-{K}")
            if kind == "brute_force" and len(got) != K:
                problems.append(f"query {qi}: {len(got)} neighbours, expected {K}")
            hits += sum(1 for r in got if r["vec_id"] in exact)
        if kind == "ivf":
            self.recall.append(hits / (BATCH * K))
        return problems[:5]

    def details(self) -> dict:
        return {
            "ann_recall_at_10": median(self.recall) if self.recall else 0.0,
            "docs_per_shard": DOCS_PER_SHARD, "vectors": N_VEC, "dim": DIM,
        }

    def layer_metrics(self) -> dict:
        return {
            "ivf.train_s": self.train_s,
            "ivf.recall_at_10": self.details()["ann_recall_at_10"],
            "dedup.minhash_pairs": median(self.pairs) if self.pairs else 0.0,
            "dedup.planted_recall": median(self.planted_recall) if self.planted_recall else 0.0,
        }
