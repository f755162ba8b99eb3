"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import inputs  # noqa: E402
import measure  # noqa: E402
import tracing  # noqa: E402


def _digest(obj) -> str:
    h = hashlib.sha256()
    if isinstance(obj, dict):
        for k in sorted(obj):
            h.update(k.encode() + _digest(obj[k]).encode())
    elif isinstance(obj, (list, tuple)):
        for x in obj:
            h.update(_digest(x).encode())
    elif isinstance(obj, np.ndarray):
        h.update(obj.tobytes())
    elif hasattr(obj, "to_pydict"):
        h.update(repr(obj.to_pydict()).encode())
    else:
        h.update(repr(obj).encode())
    return h.hexdigest()


GENERATORS = {
    "ingest": lambda s: inputs.ingest_inputs(s, 3, 300, 5, (10, 20)),
    "star": lambda s: inputs.star_schema(s, 0.001),
    "corpus": lambda s: inputs.corpus(s, 2, 60, 0.1, 0.1),
    "embeddings": lambda s: inputs.embeddings(s, 200, 8, 4, 10),
}


@pytest.mark.parametrize("kind", sorted(GENERATORS))
def test_same_seed_same_inputs_other_seed_other_inputs(kind):
    gen = GENERATORS[kind]
    assert _digest(gen(7)) == _digest(gen(7))
    assert _digest(gen(7)) != _digest(gen(8))


def test_ingest_bytes_identical_and_decoys_not_csv():
    a, b = inputs.ingest_inputs(3, 2, 100, 4, (5, 9)), inputs.ingest_inputs(3, 2, 100, 4, (5, 9))
    assert [x[1] for x in a["uploads"]] == [x[1] for x in b["uploads"]]
    assert all(not name.lower().endswith(".csv") for name, _ in a["decoys"])
    assert a["backfill_rows"] == 100
    assert all(body.count(b"\n") == n + 1 for _, body, n in a["uploads"])


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in range(20, 400):
        pct = measure.tail_percentile(n)
        beyond = n - np.ceil(pct / 100 * n)
        assert beyond >= 10
        # the next whole percentile up would leave fewer than ten (or pass p90)
        if pct < 90:
            assert n - np.ceil((pct + 1) / 100 * n) < 10
    assert measure.tail_percentile(100) == 90.0
    assert measure.tail_percentile(1000) == 90.0
    assert measure.tail_percentile(40) == 75.0


def test_ingest_tail_percentile_leaves_ten_beyond():
    """The ingest tail percentile is the rule's pick for the uploads one
    window of BENCHMARK.json's ``run_seconds`` times."""
    import json

    import ingest

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    assert ingest.TAIL_PCT == measure.tail_percentile(int(ingest.RATE_PER_S * seconds))


@pytest.mark.parametrize("module, block", [("analytics", "BLOCK"), ("llm_prep", "KINDS")])
def test_block_percentiles_do_not_depend_on_block_count(module, block):
    """On whole blocks of one mix, p50 and the fixed tail percentile stay
    between the same two positions of the sorted block, however many
    blocks a window ran."""
    mod = __import__(module)
    b = getattr(mod, block)
    b = b if isinstance(b, int) else len(b)
    rng = np.random.default_rng(1)
    for pct in (50.0, mod.TAIL_PCT):
        pos = pct / 100 * (b - 1)
        for _ in range(50):
            v = sorted(rng.random(b).tolist())
            for k in range(1, 5):
                got = measure.percentile(v * k, pct)
                assert v[math.floor(pos)] - 1e-12 <= got <= v[math.ceil(pos)] + 1e-12


def test_zipf_block_is_fixed_and_zipf_shaped():
    block = inputs.zipf_block(21, 8)
    assert block == inputs.zipf_block(21, 8) == [0, 0, 1, 2, 3, 6, 10, 16]
    big = inputs.zipf_block(21, 1000)
    share = np.bincount(big, minlength=21) / 1000
    zipf = (1 / np.arange(1, 22)) / (1 / np.arange(1, 22)).sum()
    assert np.abs(share - zipf).max() < 0.002


def test_run_blocks_runs_whole_blocks_to_about_the_deadline(monkeypatch):
    clock = [0.0]
    monkeypatch.setattr(measure.time, "perf_counter", lambda: clock[0])

    def op(i, item):
        clock[0] += 1.0
        return item, 1.0, True

    blocks = [["a", "b", "c"]] * 10
    # 3 s blocks: after two (6 s) a third would end at 9 s; it starts only
    # if that is less than half a block past the deadline (deadline > 7.5 s)
    assert len(measure.run_blocks(blocks, 7.4, op)) == 6
    clock[0] = 0.0
    assert len(measure.run_blocks(blocks, 7.6, op)) == 9
    clock[0] = 0.0
    assert len(measure.run_blocks(blocks, 0.1, op)) == 3  # at least one block


def test_percentile_interpolates_like_numpy():
    rng = np.random.default_rng(0)
    for n in (1, 2, 5, 8, 16, 101):
        xs = rng.random(n).tolist()
        for pct in (0, 25, 50, 65, 75, 87, 90, 100):
            assert measure.percentile(xs, pct) == pytest.approx(np.percentile(xs, pct))
    assert measure.median([1.0, 2.0, 10.0, 4.0]) == 3.0


def _span(i, name, op, parent, start, end):
    s = tracing.Span(i, name, op, parent, start)
    s.end = end
    return s


def test_self_time_subtracts_covered_children():
    spans = [
        _span(0, "op", 0, None, 100.0, 110.0),
        _span(1, "plans.build", 0, 0, 101.0, 103.0),
        _span(2, "plans.collect", 0, 0, 102.0, 106.0),  # overlaps build by 1 s
        _span(3, "inner", 0, 2, 104.0, 105.0),
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)  # children cover 101..106
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def _job_events(job_id, group, submit_s, end_s, stage, tasks):
    ev = [{
        "Event": "SparkListenerJobStart", "Job ID": job_id,
        "Submission Time": int(submit_s * 1000), "Stage IDs": [stage],
        "Properties": {"spark.jobGroup.id": group} if group else {},
    }]
    for t, (run_ms, failed) in enumerate(tasks):
        ev.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
            "Task Info": {"Launch Time": int(submit_s * 1000) + 10, "Finish Time":
                          int(submit_s * 1000) + 10 + run_ms + 5, "Getting Result Time": 0,
                          "Failed": failed},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
                             "JVM GC Time": 1, "Input Metrics": {"Bytes Read": 100,
                                                                 "Records Read": 10}},
        })
    ev.append({"Event": "SparkListenerJobEnd", "Job ID": job_id,
               "Completion Time": int(end_s * 1000)})
    return ev


def test_driver_gap_and_job_attribution_on_synthetic_log():
    spans = [
        _span(0, "analytics.q", 0, None, 100.0, 110.0),
        _span(1, "plans.build", 0, 0, 100.5, 102.0),
        _span(2, "plans.collect", 0, 0, 102.0, 109.5),
        _span(3, "analytics.q", 1, None, 111.0, 113.0),
    ]
    events = (
        _job_events(0, tracing.group_id(1), 101.0, 101.5, 0, [(100, False)])
        + _job_events(1, tracing.group_id(2), 103.0, 106.0, 1, [(200, False), (300, True)])
        # overlapping job of the same op, no benchmark group: charged by time
        + _job_events(2, "stream-run-id", 105.0, 107.0, 2, [(50, False)])
        + _job_events(3, tracing.group_id(3), 111.5, 112.0, 3, [(10, False)])
    )
    jobs = eventlog.jobs_from_events(events)
    owner = eventlog.attribute(jobs, spans)
    assert owner == {0: 1, 1: 2, 2: 2, 3: 3}
    ops = eventlog.per_op(jobs, spans)
    # op 0: wall 10 s, jobs cover 101-101.5 and 103-107 -> 4.5 s busy
    assert ops[0]["driver_gap_s"] == pytest.approx(10.0 - 4.5)
    assert ops[0]["jobs"] == 3 and ops[0]["tasks"] == 4 and ops[0]["failed_tasks"] == 1
    assert ops[0]["executor_run_s"] == pytest.approx(0.65)
    assert ops[1]["driver_gap_s"] == pytest.approx(2.0 - 0.5)
    summary = eventlog.summarize(ops, cores=4)
    assert summary["spark.jobs"] == pytest.approx(2.0)
    assert summary["spark.core_busy_ratio"] == pytest.approx(0.66 / (4 * 12.0))
    assert eventlog.jobs_in_spans(jobs, spans, "plans.build") == pytest.approx(1.0)


def test_result_hash_order_insensitive_and_catches_wrong_answer():
    cols = ["k", "n"]
    good = [("a", 2), ("b", 3.5)]
    assert measure.result_hash(cols, good) == measure.result_hash(["n", "k"], [(3.5, "b"), (2.0, "a")])
    planted = [("a", 2), ("b", 3.5000000001)]
    assert measure.result_hash(cols, good) != measure.result_hash(cols, planted)
    assert measure.result_hash(cols, good) != measure.result_hash(cols, good[:1])


def test_ingest_count_check_catches_wrong_answer():
    import ingest

    class Ctx:
        problems: list = []
        seed = 1
        seconds = 1.0

    wl = ingest.Ingest(Ctx())
    wl.data = {"backfill_rows": 100, "uploads": [("u0", b"", 5), ("u1", b"", 7), ("u2", b"", 4)]}
    wl.prefix = [0, 5, 12, 16]
    wl.released, wl.fresh = 2, 0
    good = {ingest.BACKFILL_DATE: 100, ingest.LIVE_DATE: 12}
    assert wl.check_counts(good, 1) and wl.fresh == 2 and not Ctx.problems
    wl.fresh = 0
    assert not wl.check_counts({ingest.BACKFILL_DATE: 100, ingest.LIVE_DATE: 11}, 1)
    assert not wl.check_counts({ingest.BACKFILL_DATE: 107, ingest.LIVE_DATE: 12}, 1)
    # an upload released before the trigger started must be included
    assert not wl.check_counts({ingest.BACKFILL_DATE: 100, ingest.LIVE_DATE: 5}, 2)
    assert len(Ctx.problems) == 3


def test_llm_prep_checks_catch_wrong_answers():
    import llm_prep

    class Ctx:
        problems: list = []
        seed = 3
        work = "/nonexistent"

    wl = llm_prep.LlmPrep(Ctx())
    c = inputs.corpus(3, 1, 80, 0.1, 0.1)
    wl.shards = c["shards"]
    first: dict = {}
    for d, t, _ in wl.shards[0]:
        first.setdefault(inputs.normalize(t), d)
    wl.keepers = [set(first.values())]
    rows = [{"doc_id": d} for d in wl.keepers[0]]
    assert wl.check("exact_dedup", rows, 0, 0) == []
    assert wl.check("exact_dedup", rows[1:], 0, 0) != []
    wl.near = [set()]
    a, b = wl.shards[0][0][0], wl.shards[0][1][0]
    j = inputs.jaccard(inputs.shingles(wl.shards[0][0][1]), inputs.shingles(wl.shards[0][1][1]))
    assert j < llm_prep.MINHASH_THRESHOLD
    assert wl.check("minhash", [{"id_a": a, "id_b": b, "jaccard": j}], 0, 0) != []

    e = inputs.embeddings(3, 300, 8, 4, llm_prep.QUERY_BATCHES * llm_prep.BATCH)
    wl.vecs, wl.queries = e["vectors"], e["queries"]
    wl.truth_ids, wl.truth_cos = inputs.exact_top_k(wl.vecs, wl.queries, llm_prep.K)
    rows = [
        {"query_id": llm_prep.QUERY_ID_BASE + qi, "vec_id": int(v), "cosine": float(c),
         "rank": r + 1}
        for qi in range(llm_prep.BATCH)
        for r, (v, c) in enumerate(zip(wl.truth_ids[qi], wl.truth_cos[qi]))
    ]
    assert wl.check("brute_force", rows, 0, 0) == []
    worst = int(np.argsort(wl.truth_cos[0])[0])
    bad = [dict(r) for r in rows]
    far = int(np.argmin(wl.vecs.astype(np.float64) @ wl.queries[0].astype(np.float64)))
    v, q = wl.vecs[far].astype(np.float64), wl.queries[0].astype(np.float64)
    bad[worst] = {**bad[worst], "vec_id": far,
                  "cosine": float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))}
    assert wl.check("brute_force", bad, 0, 0) != []


def test_expected_lang_needs_a_marker_word():
    assert inputs.expected_lang("Conment  THE\tpreble", "en") == "en"
    assert inputs.expected_lang("conment preble", "en") == "und"
    assert inputs.expected_lang("der conment", "en") == "und"


def test_exact_top_k_matches_loop_reference():
    e = inputs.embeddings(5, 120, 6, 3, 4)
    ids, cos = inputs.exact_top_k(e["vectors"], e["queries"], 5)
    for qi, q in enumerate(e["queries"].astype(np.float64)):
        scores = [
            (float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), i)
            for i, v in enumerate(e["vectors"].astype(np.float64))
        ]
        ref = sorted(scores, key=lambda s: (-s[0], s[1]))[:5]
        assert ids[qi].tolist() == [i for _, i in ref]
        assert np.allclose(cos[qi], [s for s, _ in ref])


def test_analytics_oracle_check_catches_wrong_answer(tmp_path):
    pytest.importorskip("duckdb")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import analytics

    tables = inputs.star_schema(4, 0.001)
    inputs.write_tables(tables, str(tmp_path))
    expected = analytics.oracle_hashes(str(tmp_path), ["ref_golden_daily_counts"])
    counts: dict = {}
    for ts in tables["orders"].column("o_orderdate").to_pylist():
        day = ts.strftime("%Y-%m-%d")
        counts[day] = counts.get(day, 0) + 1
    rows = sorted(counts.items(), reverse=True)
    cols = ["ingest_date", "num_rows"]
    assert measure.result_hash(cols, rows) == expected["ref_golden_daily_counts"]
    planted = [rows[0][:1] + (rows[0][1] + 1,)] + rows[1:]
    assert measure.result_hash(cols, planted) != expected["ref_golden_daily_counts"]
