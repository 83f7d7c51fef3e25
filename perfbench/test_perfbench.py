"""Tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
from types import SimpleNamespace

import numpy as np
import pytest

from perfbench import checks, gen, stats, tracing


# -- percentile rule -----------------------------------------------------------


@pytest.mark.parametrize("n, p", [
    (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert stats.samples_beyond(n, p) >= stats.MIN_BEYOND


def test_summarize_reports_observed_tail():
    values = list(range(1, 101))  # 1..100
    sm = stats.summarize(values)
    assert sm == {"n": 100, "p50": 50.5, "tail_p": 90.0, "tail": 90}
    assert stats.summarize([3.0]) == {"n": 1, "p50": 3.0}


# -- span arithmetic -------------------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert tracing.covered(0, 10, []) == 0
    assert tracing.covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5   # [1,5] + [7,8]
    assert tracing.covered(0, 10, [(-5, 2), (9, 20)]) == 3         # clipped to the span
    assert tracing.covered(0, 10, [(11, 12)]) == 0


def test_self_time_subtracts_child_coverage():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 6.0}, {"start": 8.0, "end": 9.0}]
    assert tracing.self_time(parent, kids) == pytest.approx(10 - 5 - 1)
    assert tracing.self_time(parent, []) == 10


def test_tracer_links_parents_and_request_ids():
    tr = tracing.Tracer()
    with tr.span("op.query", "r1.0") as a:
        with tr.span("index.query_items.build") as b:
            pass
    with tr.span("op.rag", "r1.1"):
        pass
    assert b["parent"] == a["id"] and b["request_id"] == "r1.0"
    assert tr.spans[2]["parent"] is None and tr.spans[2]["request_id"] == "r1.1"
    assert all(s["end"] >= s["start"] for s in tr.spans)


def test_instrument_wraps_and_restores():
    class Thing:
        def work(self, x):
            return x + 1

    tr = tracing.Tracer()
    orig = Thing.__dict__["work"]
    with tracing.instrument(tr, [(Thing, "work", "thing.work", None)]):
        assert Thing().work(1) == 2
    assert Thing.__dict__["work"] is orig
    assert [s["name"] for s in tr.spans] == ["thing.work"]


def test_event_log_attributes_jobs_stages_tasks_to_spans(tmp_path):
    grp = {"spark.jobGroup.id": f"{tracing.GROUP_PREFIX}1"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": grp},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": grp},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 40, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 60}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600,
         "Stage IDs": [2], "Properties": {}},
    ]
    log = tmp_path / "eventlog_v2_local-1"
    log.mkdir()
    (log / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = tracing.read_event_log(tmp_path)
    g = groups[f"{tracing.GROUP_PREFIX}1"]
    assert (len(g["jobs"]), g["stages"], g["tasks"], g["executor_ms"]) == (1, 1, 2, 100)
    assert (g["shuffle_read"], g["shuffle_write"], g["spill"]) == (7, 11, 5)
    assert g["jobs"][0]["start"] == 1.0 and g["jobs"][0]["end"] == 1.5

    spans = [{"id": 0, "name": "op.query", "start": 0.9, "end": 2.0, "parent": None, "attrs": {}},
             {"id": 1, "name": "index.query_items.collect", "start": 0.95, "end": 1.9,
              "parent": 0, "attrs": {}}]
    tracing.attach_spark(spans, groups)
    assert spans[0]["attrs"]["spark"]["jobs"] == 1      # inclusive of the child
    assert spans[0]["attrs"]["spark"]["tasks"] == 2
    breakdown = tracing.op_breakdown(spans, cores=4)["query"]
    assert breakdown["driver_only_ms_p50"] == pytest.approx((1.1 - 0.5) * 1e3)
    assert breakdown["executor_busy_ratio"] == pytest.approx(100 / (1.1e3 * 4))


def test_layer_metrics_skip_warmup_and_take_self_time():
    def span(i, name, start, end, parent=None, **attrs):
        return {"id": i, "name": name, "start": start, "end": end, "parent": parent,
                "attrs": {**attrs, "spark": {"jobs": 2, "stages": 3, "tasks": 4,
                                             "executor_ms": 100, "shuffle_read": 5,
                                             "shuffle_write": 6, "spill": 0}},
                "_job_intervals": [(start, end)]}

    spans = [
        span(0, "warmup.rag", 0.0, 9.0),
        span(1, "document_index.render_document_sections", 0.0, 9.0, 0),
        span(2, "op.rag", 10.0, 11.0, items_cache_hit=True),
        span(3, "document_index.render_document_sections", 10.0, 11.0, 2),
        span(4, "render.render_sections", 10.2, 10.3, 3),
        span(5, "render.render_sections", 10.5, 10.6, 3),
        span(6, "index.commit", 12.0, 12.5),  # raised: no write attrs recorded
        span(7, "text.split_documents", 13.0, 15.0, rows=100),
    ]
    m = tracing.layer_metrics(spans, cores=4)
    assert m["document_index.query_documents.collect_ms"] == pytest.approx(800.0)
    assert m["render.render_sections_ms"] == pytest.approx(200.0)
    assert m["index.items.cached_ratio"] == 1.0
    assert m["index.write_ms"] == pytest.approx(500.0)
    assert m["index.write.files_rewritten"] == 0
    assert m["text.split_documents.rows_per_s"] == pytest.approx(50.0)
    assert m["entry_queries.doc_chunks.shuffle_bytes"] == 0.0  # not run
    assert m["spark.executor_busy_ratio"] == pytest.approx(100 / (1000 * 4))


# -- brute-force top-k -------------------------------------------------------------


def test_round_half_away_from_zero():
    a = np.array([0.0000005, -0.0000005, 0.0000015, 0.1234564999, -0.25])
    assert list(checks.round_half_away(a)) == [0.000001, -0.000001, 0.000002, 0.123456, -0.25]
    assert np.round(0.0000005, 6) == 0.0  # numpy rounds half to even: why the helper exists


def test_expected_topk_breaks_ties_by_id():
    ids = np.array([7, 3, 5, 1])
    scores = np.array([0.5, 0.5, 0.9, 0.5])
    assert checks.expected_topk(ids, scores, 3) == [(5, 0.9), (1, 0.5), (3, 0.5)]
    sids = np.array(["v0000010", "v0000002", "v0000003"])
    assert checks.expected_topk(sids, np.array([0.2, 0.2, 0.1]), 1) == [("v0000002", 0.2)]


def test_check_topk_rounded_mode_is_exact():
    ids = np.array([7, 3, 5, 1])
    scores = np.array([0.5, 0.5, 0.9, 0.5])
    assert checks.check_topk([(5, 0.9), (1, 0.5)], ids, scores, 2, 0) is None
    assert checks.check_topk([(5, 0.9), (3, 0.5)], ids, scores, 2, 0) is not None  # wrong tie
    assert checks.check_topk([(5, 0.9)], ids, scores, 2, 0) is not None             # too few


def test_check_topk_raw_mode_accepts_near_ties_only():
    ids = np.array(["a", "b", "c"])
    scores = np.array([0.8, 0.7, 0.7 + 1e-12])
    # engine summed in another order and ranked b over c: a near tie
    assert checks.check_topk([("a", 0.8), ("b", 0.7)], ids, scores, 2, checks.RAW_TOL) is None
    # a candidate clearly above the k-th is missed
    assert checks.check_topk([("b", 0.7), ("c", 0.7)], ids, scores, 2, checks.RAW_TOL) is not None
    # a reported score that is not the item's cosine
    assert checks.check_topk([("a", 0.9), ("c", 0.7)], ids, scores, 2, checks.RAW_TOL) is not None


def test_cosine_scores_match_definition():
    rng = np.random.default_rng(0)
    m, q = rng.standard_normal((5, 4)), rng.standard_normal(4)
    want = [float(r @ q / np.linalg.norm(r) / np.linalg.norm(q)) for r in m]
    assert checks.cosine_scores(m, q) == pytest.approx(want)


# -- other output checks -------------------------------------------------------------


def _doc(uri, score, text):
    return (checks.doc_id(uri), uri, score, [SimpleNamespace(text=text)])


def test_check_rag_uses_the_ledger():
    live = {"u1": "alpha beta gamma", "u2": "delta epsilon"}
    ok = [_doc("u1", 0.9, "beta" + checks.CONNECTOR + "gamma"), _doc("u2", 0.5, "delta")]
    assert checks.check_rag(ok, live, set(), 10) is None
    assert "deleted" in checks.check_rag([_doc("u3", 0.9, "x")], live, {"u3"}, 10)
    assert "current text" in checks.check_rag([_doc("u1", 0.9, "stale")], live, set(), 10)
    assert "order" in checks.check_rag(ok[::-1], live, set(), 10)


def test_check_chunks():
    import pandas as pd

    texts = ["abcdef", "xyz"]
    ok = pd.DataFrame({"document_id": ["0", "0", "1"], "text": ["abc", "def", "xyz"],
                       "start_pos": [0, 3, 0], "end_pos": [2, 5, 2]})
    assert checks.check_chunks(ok, texts) is None
    assert checks.check_chunks(ok.iloc[:2], texts) is not None
    bad = ok.assign(end_pos=[1, 5, 2])
    assert checks.check_chunks(bad, texts) is not None


# -- seed determinism ------------------------------------------------------------------


def _files(d):
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def _serve(seed, d):
    return gen.make_serve(seed, d, n_items=300, n_docs=6, doc_bytes=(200, 600),
                          n_rounds=3, batch_q=4)


def _ingest(seed, d):
    return gen.make_ingest(seed, d, n_items=300, n_rounds=3, fresh=5, reupserts=2,
                           deletes=2, vec_upserts=5, doc_bytes=(200, 600), warm_fresh=6)


def _key(x):
    """A comparable form of a schedule, leaving out file locations."""
    if isinstance(x, np.ndarray):
        return x.tobytes()
    if isinstance(x, gen.IngestRound):
        return _key([v for k, v in vars(x).items() if k != "docs_path"])
    if isinstance(x, (list, tuple)):
        return [_key(v) for v in x]
    if isinstance(x, dict):
        return sorted(x.items())
    return x


@pytest.mark.parametrize("make", [_serve, _ingest])
def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path, make):
    a, b, c = (make(s, tmp_path / n) for s, n in ((5, "a"), (5, "b"), (6, "c")))
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert len(_files(tmp_path / "a")) >= 3
    for name, blob in _files(tmp_path / "a").items():
        assert _files(tmp_path / "c")[name] != blob, name
    assert _key(a.rounds) == _key(b.rounds) != _key(c.rounds)
    assert a.vecs.tobytes() == b.vecs.tobytes() != c.vecs.tobytes()


def test_ingest_schedule_targets_live_documents_and_items(tmp_path):
    inp = _ingest(9, tmp_path)
    warm = inp.rounds[0]
    assert (len(warm.fresh), len(warm.deletes), len(warm.rag_texts)) == (6, 1, 2)
    assert (len(inp.rounds[1].fresh), len(inp.rounds[1].deletes)) == (5, 2)
    live, items = set(), {gen.item_id(i) for i in range(300)}
    for r in inp.rounds:
        assert set(r.reup) <= live and not (set(r.fresh) & live)
        live |= set(r.fresh)
        assert set(r.deletes) <= live
        live -= set(r.deletes)
        assert len(r.rag_texts) == 1 + len(r.deletes)
        assert r.item_delete in items and r.item_delete not in {u[0] for u in r.item_upserts}
        items |= {u[0] for u in r.item_upserts}
        items.discard(r.item_delete)
