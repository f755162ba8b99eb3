"""Seeded input generators for the three workloads.

Every generator takes the run's ``--seed`` and returns plain Python /
NumPy / Arrow values, so the same seed always yields byte-identical
inputs and the engine sees nothing but these inputs. Nothing here
imports the engine or Spark.
"""

from __future__ import annotations

import io
import json
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose) so adding one input
    kind never shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


# ------------------------------------------------------------ ingest

CSV_HEADER = ("patient_id", "encounter_id", "diagnosis", "amount", "provider")
DIAGNOSES = (
    "flu", "covid", "asthma", "diabetes", "hypertension",
    "migraine", "fracture", "allergy", "bronchitis", "anemia",
)


def healthcare_csv(rng: np.random.Generator, n_rows: int, first_encounter: int) -> bytes:
    """One upload: header + ``n_rows`` encounters with 2-decimal amounts."""
    patients = rng.integers(0, 50_000, n_rows)
    diag = rng.integers(0, len(DIAGNOSES), n_rows)
    cents = rng.integers(500, 500_000, n_rows)
    prov = rng.integers(0, 400, n_rows)
    out = io.StringIO()
    out.write(",".join(CSV_HEADER) + "\n")
    for i in range(n_rows):
        out.write(
            f"p-{patients[i]:06d},e-{first_encounter + i:09d},{DIAGNOSES[diag[i]]},"
            f"{cents[i] // 100}.{cents[i] % 100:02d},prov-{prov[i]:03d}\n"
        )
    return out.getvalue().encode()


# Non-CSV objects that land next to real uploads. Each holds rows in
# CSV form, so ingesting one by mistake changes the golden counts.
DECOY_SUFFIXES = (".json", ".txt", ".csv.bak", ".tsv")


def ingest_inputs(seed: int, backfill_files: int, backfill_rows: int, uploads: int,
                  upload_rows: tuple[int, int]) -> dict:
    """Backfill prefix (CSV files + decoys) and the live upload stream.

    Returns ``{"backfill": [(name, bytes)], "backfill_rows": int,
    "uploads": [(name, bytes, n_rows)], "decoys": [(name, bytes)]}``.
    Uploads keep their list order as release order.
    """
    rng = rng_for(seed, "ingest")
    enc = 0
    backfill = []
    per_file = backfill_rows // backfill_files
    for f in range(backfill_files):
        backfill.append((f"backfill-{f:03d}.csv", healthcare_csv(rng, per_file, enc)))
        enc += per_file
    decoys = []
    for j, suffix in enumerate(DECOY_SUFFIXES):
        decoys.append((f"decoy-{j:02d}{suffix}", healthcare_csv(rng, 7 + j, 900_000_000 + 10 * j)))
    live = []
    lo, hi = upload_rows
    for u in range(uploads):
        n = int(rng.integers(lo, hi + 1))
        live.append((f"upload-{u:05d}.csv", healthcare_csv(rng, n, enc), n))
        enc += n
    return {
        "backfill": backfill,
        "backfill_rows": per_file * backfill_files,
        "uploads": live,
        "decoys": decoys,
    }


# --------------------------------------------------------- analytics

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("red", "blue", "green", "small", "large", "shiny")
NOUNS = ("widget", "bolt", "ring", "gear", "valve", "spring")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DAY = 86_400_000_000  # microseconds


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    """Exactly-2-decimal doubles (the registry's exact-sum convention)."""
    return rng.integers(lo_cents, hi_cents, n) / 100.0


def star_schema(seed: int, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema plus an ``events`` stream table, with
    the column names and types of the engine's fixture tables.

    ``scale=0.01`` gives 1,500 customers, 15,000 orders, ~60,000
    lineitems and 10,000 events.
    """
    rng = rng_for(seed, "star")
    n_cust, n_supp, n_part = int(150_000 * scale), max(int(10_000 * scale), 10), int(200_000 * scale)
    n_ord, n_evt, n_users = int(1_500_000 * scale), int(1_000_000 * scale), max(int(15_000 * scale), 10)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -99_999, 999_999, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -99_999, 999_999, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in rng.integers(0, 6, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": _money(rng, 90_000, 100_000, n_part),
    })
    epoch = np.datetime64("1995-01-01", "us").astype(np.int64)
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 100_000, 50_000_000, n_ord),
        "o_orderdate": pa.array(epoch + order_day * DAY, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    perm = rng.permutation(n_li)
    ship = epoch + (order_day[okey] + rng.integers(1, 500, n_li)) * DAY
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey[perm], i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)[perm], i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)[perm], i64),
        "l_linenumber": pa.array(lnum[perm], i32),
        "l_quantity": rng.integers(1, 51, n_li)[perm].astype(np.float64),
        "l_extendedprice": _money(rng, 90_000, 10_500_000, n_li)[perm],
        "l_discount": (rng.integers(0, 11, n_li) / 100.0)[perm],
        "l_tax": (rng.integers(0, 9, n_li) / 100.0)[perm],
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)[perm]],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)[perm]],
        "l_shipdate": pa.array(ship[perm], pa.timestamp("us")),
    })
    # strictly increasing microsecond timestamps: no two events tie, so
    # as-of and session boundaries are unambiguous in every engine
    gaps = rng.exponential(250e6, n_evt).astype(np.int64) + 1
    ts0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(ts0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": _money(rng, 1, 50_000, n_evt),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
    })
    return t


def write_tables(tables: dict[str, pa.Table], root: str) -> None:
    for name, table in tables.items():
        pq.write_table(table, f"{root}/{name}.parquet")


def zipf_block(n_items: int, block: int) -> list[int]:
    """One block of ``block`` draws with Zipf(1) popularity over a
    fixed-rank pool (rank 0 most popular), stratified at fixed offsets:
    draw i takes the rank whose CDF interval holds (i + 0.5) / block.

    The offsets take no seed, so every block of every run has the same
    mix; ranks rarer than one stratum are never drawn.
    """
    w = 1.0 / np.arange(1, n_items + 1)
    cdf = np.cumsum(w / w.sum())
    u = (np.arange(block) + 0.5) / block
    return np.minimum(np.searchsorted(cdf, u, side="right"), n_items - 1).tolist()


# ---------------------------------------------------------- llm_prep

LANGS = ("de", "en", "es", "fr")
# the engine's language_id marker words; documents of a language use
# only their own language's markers, every other token has >= 5 letters
MARKERS = {
    "en": ("the", "and", "of", "is", "with"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
}
_SYLLABLES = {
    "en": ("ing", "tor", "ble", "ment", "pre", "con", "ous", "ward"),
    "de": ("sch", "ung", "keit", "ber", "ach", "lich", "heit", "gen"),
    "fr": ("eau", "ment", "oir", "ette", "ique", "ance", "eur", "aux"),
    "es": ("cion", "ado", "mente", "illo", "dad", "oso", "ero", "anza"),
}


def _vocab(rng: np.random.Generator, lang: str, size: int) -> list[str]:
    syl = _SYLLABLES[lang]
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        words.add("".join(syl[i] for i in rng.integers(0, len(syl), k)))
    return sorted(words)


def normalize(text: str) -> str:
    """Python twin of the engine's ``normalize_text`` on ASCII text."""
    return re.sub(r"\s+", " ", text.lower()).strip()


def expected_lang(text: str, lang: str) -> str:
    """What a marker-count language ID must say for a document written in
    ``lang``: ``lang`` if the text holds one of its marker words, else
    ``"und"`` (a short document, or a near duplicate that lost its
    markers, gives no evidence)."""
    return lang if set(normalize(text).split(" ")) & set(MARKERS[lang]) else "und"


def shingles(text: str, n: int = 3) -> frozenset[str]:
    """Python twin of the engine's word-shingle set (normalized text)."""
    toks = normalize(text).split(" ")
    k = max(len(toks) - (n - 1), 1)
    return frozenset(" ".join(toks[i:i + n]) for i in range(k))


def jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return 1.0 if union == 0 else len(a & b) / union


def corpus(seed: int, shards: int, docs_per_shard: int, dup_rate: float,
           near_rate: float) -> dict:
    """Document shards with planted exact and near duplicates.

    Exact duplicates re-case and re-space an earlier document of the
    same shard (same normalized text); near duplicates replace ~3% of
    its tokens. Returns per-shard rows ``(doc_id, text, lang)`` plus the
    planted near-duplicate pairs.
    """
    rng = rng_for(seed, "corpus")
    vocab = {lang: _vocab(rng, lang, 300) for lang in LANGS}
    out_shards, near_pairs = [], []
    doc_id = 0
    for _ in range(shards):
        rows: list[tuple[int, str, str]] = []
        for _ in range(docs_per_shard):
            r = rng.random()
            if rows and r < dup_rate:
                src = rows[int(rng.integers(0, len(rows)))]
                toks = src[1].split(" ")
                toks = [w.upper() if rng.random() < 0.2 else w for w in toks]
                text = ("  " if rng.random() < 0.5 else "\t").join(toks)
                rows.append((doc_id, text, src[2]))
            elif rows and r < dup_rate + near_rate:
                src = rows[int(rng.integers(0, len(rows)))]
                toks = normalize(src[1]).split(" ")
                v = vocab[src[2]]
                for pos in rng.choice(len(toks), max(1, len(toks) // 33), replace=False):
                    toks[pos] = v[int(rng.integers(0, len(v)))]
                rows.append((doc_id, " ".join(toks), src[2]))
                near_pairs.append((src[0], doc_id))
            else:
                lang = LANGS[int(rng.integers(0, len(LANGS)))]
                n = int(rng.integers(40, 120))
                v, m = vocab[lang], MARKERS[lang]
                toks = [
                    m[int(rng.integers(0, len(m)))] if rng.random() < 0.12
                    else v[int(min(rng.zipf(1.3), len(v)) - 1)]
                    for _ in range(n)
                ]
                rows.append((doc_id, " ".join(toks), lang))
            doc_id += 1
        out_shards.append(rows)
    return {"shards": out_shards, "near_pairs": near_pairs}


def embeddings(seed: int, n_vec: int, dim: int, clusters: int, n_queries: int) -> dict:
    """Clustered float32 vectors and perturbed-copy query vectors."""
    rng = rng_for(seed, "embeddings")
    centers = rng.normal(size=(clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, clusters, n_vec)
    vecs = (centers[labels] + rng.normal(scale=0.25, size=(n_vec, dim))).astype(np.float32)
    src = rng.integers(0, n_vec, n_queries)
    queries = (vecs[src] + rng.normal(scale=0.05, size=(n_queries, dim))).astype(np.float32)
    return {"vectors": vecs, "queries": queries}


def exact_top_k(vecs: np.ndarray, queries: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Cosine top-k in float64, ties by ascending id: (ids, scores)."""
    v = vecs.astype(np.float64)
    q = queries.astype(np.float64)
    cos = (q @ v.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(v, axis=1))
    order = np.lexsort((np.broadcast_to(np.arange(len(v)), cos.shape), -cos), axis=1)[:, :k]
    return order, np.take_along_axis(cos, order, axis=1)
