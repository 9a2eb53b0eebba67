"""The benchmark's own tests: generator determinism, the percentile and
sample-count rule, the output checker, and self-time accounting. No Spark
session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import check, gen, stats  # noqa: E402
from perfbench.service import Client, Model, check_records  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

SMALL = gen.Sizes(points=400, tenants=12, vocab=300, serve_ops=60,
                  ingest_ops=80, batch_points=5)


def _dump(obj) -> str:
    return json.dumps(obj, sort_keys=True, default=lambda o: o.tolist())


def _inputs(seed: int, sizes: gen.Sizes = SMALL):
    corpus, src = gen.make_corpus(seed, sizes)
    serve = gen.serve_schedule(seed, sizes, corpus, src)
    corpus2, src2 = gen.make_corpus(seed, sizes)
    ingest = gen.ingest_schedule(seed, sizes, corpus2, src2)
    return corpus, serve, ingest


def test_generator_is_deterministic_per_seed():
    a, b = _inputs(7), _inputs(7)
    assert _dump(a[0].rows()) == _dump(b[0].rows())
    assert _dump(a[1]) == _dump(b[1])
    assert _dump(a[2]) == _dump(b[2])
    c = _inputs(8)
    assert _dump(a[0].rows()) != _dump(c[0].rows())
    assert _dump(a[1]) != _dump(c[1])


def test_schedules_follow_their_decks():
    corpus, serve, ingest = _inputs(3)
    deck = len(gen.SERVE_DECK)
    assert serve[0] is gen.ROUND and serve[deck + 1] is gen.ROUND
    kinds = [op["kind"] for op in serve[1:deck + 1]]
    assert sorted(kinds) == sorted("search" if k == "search_repeat" else k
                                   for k in gen.SERVE_DECK)
    hot = set(gen.hot_tenants(corpus, SMALL.hot_tenants))
    reads = [op for op in ingest if "user_id" in op and op["kind"] not in
             ("insert", "remove")]
    assert reads and all(op["user_id"] in hot for op in reads)
    rounds = [i for i, op in enumerate(ingest) if op is gen.ROUND]
    per_round = len(gen.WRITE_ROTATION) * (len(gen.INGEST_DECK) + 1) + 2
    assert rounds[:3] == [0, per_round, 2 * per_round]
    writes = [op["kind"] for op in ingest[1:per_round]
              if op["kind"] in ("insert", "remove", "insert_batch")]
    assert writes == list(gen.WRITE_ROTATION)
    assert [op["kind"] for op in ingest[:per_round]].count("query_ann") == 1


def test_tenant_sizes_and_deck_draws_are_stratified():
    counts = gen.zipf_counts(6000, 150, 1.0)
    assert counts.sum() == 6000 and list(counts) == sorted(counts, reverse=True)
    sizes = [sorted(gen.tenant_sizes(gen.make_corpus(s, SMALL)[0]).values())
             for s in (1, 2)]
    assert sizes[0] == sizes[1]
    corpus, _ = gen.make_corpus(1, SMALL)
    draw = gen.TenantDraw(corpus)
    head = int(draw.users[0])
    share = draw.cdf[0]
    for seed in range(5):
        picks = draw(np.random.default_rng(seed), 20)
        # one pick per 5 % of the weight: the head's share, give or take one
        assert abs(picks.count(head) - 20 * share) <= 1


def test_warmup_is_seeded_reads_apart_from_the_window():
    corpus, src = gen.make_corpus(4, SMALL)
    serve = gen.warmup_schedule("serve", 4, SMALL, corpus, src)
    again = gen.warmup_schedule("serve", 4, SMALL, *gen.make_corpus(4, SMALL))
    assert _dump(serve) == _dump(again)
    assert len(serve) == SMALL.serve_warm_decks * len(gen.SERVE_DECK)
    ingest = gen.warmup_schedule("ingest", 4, SMALL, corpus, src)
    hot = set(gen.hot_tenants(corpus, SMALL.hot_tenants))
    reads = {"search", "query", "query_ann", "classify"}
    assert all(op["kind"] in reads for op in serve + ingest)
    assert all(op["user_id"] in hot for op in ingest)
    # its own stream: the window's first deck is not replayed
    window = gen.serve_schedule(4, SMALL, *gen.make_corpus(4, SMALL))
    assert _dump(serve[:5]) != _dump(window[1:6])


def test_throughput_is_the_median_round():
    client = Client.__new__(Client)
    client.records = [{"ok": True}] * 6 + [{"ok": False}] + [{"ok": True}] * 3
    client.rounds = [[0, 0.0, 2.0], [4, 2.0, 3.0], [7, 3.0, 6.0]]
    # 4 ok in 2 s, 2 of 3 ok in 1 s, 3 ok in 3 s
    assert client.round_rates() == [2.0, 2.0, 1.0]


def test_words_never_match_inside_other_words():
    corpus, _, _ = _inputs(5)
    vocab = corpus.vocab
    assert len(set(vocab)) == len(vocab)
    assert all(len(w) == gen.WORD_LEN and w.isalpha() for w in vocab)
    model = Model(corpus)
    user = int(corpus.users[0])
    word = model.rarest_word(user, 0.0)
    holders = {i for i in model.by_user[user]
               if word in model.rows[i][1].split()}
    assert model.remove_word(user, word) == len(holders) > 0
    assert not any(word in model.rows[i][1] for i in model.by_user[user])


def test_percentile_and_sample_count_rule():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 50) == pytest.approx(50.5)
    assert stats.percentile(xs, 90) == pytest.approx(90.1)
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(99, 90) == 9
    assert stats.highest_supported(100) == 90
    assert stats.highest_supported(99) == 50
    assert stats.highest_supported(19) is None
    s = stats.summary(xs)
    assert (s["n"], s["p90_beyond"]) == (100, 10)
    assert stats.summary([]) == {"n": 0}
    sp = stats.spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert sp["median"] == 3.0 and sp["iqr_share"] == pytest.approx(1.0)


def _tenant(seed: int = 2, n: int = 60):
    rng = np.random.default_rng(seed)
    texts = [f"point text {i} {rng.integers(1 << 30)}" for i in range(n)]
    return np.arange(10, 10 + n, dtype=np.int64), texts


def test_topk_matches_a_plain_sort():
    vecs = check.VectorCache()
    ids, texts = _tenant()
    q = vecs("the query")
    got_ids, got_scores = check.topk(ids, vecs.matrix(texts), q, 5)
    dist = np.linalg.norm(vecs.matrix(texts) - q, axis=1)
    order = np.argsort(dist, kind="stable")[:5]
    assert got_ids == [int(ids[i]) for i in order]
    assert np.allclose(got_scores, dist[order], rtol=0, atol=1e-12)


def _search_record(ids, texts, got):
    op = {"kind": "search", "user_id": 1, "text": "the query", "limit": 5}
    return {"n": 0, "kind": "search", "ok": True, "error": None, "ms": 1.0,
            "op": op, "got": got, "want": (ids, texts, "the query", 5)}


def test_checker_rejects_a_corrupted_topk():
    vecs = check.VectorCache()
    ids, texts = _tenant()
    want_ids, want_scores = check.topk(ids, vecs.matrix(texts),
                                       vecs("the query"), 5)
    good = [{"id": i, "string": "", "score": s}
            for i, s in zip(want_ids, want_scores)]
    swapped = [good[1], good[0]] + good[2:]
    nudged = [dict(good[0], score=good[0]["score"] + 1e-7)] + good[1:]
    recs = [_search_record(ids, texts, g) for g in (good, swapped, nudged)]
    summary = check_records(recs, vecs, recall_floor=0.5)
    assert [r["ok"] for r in recs] == [True, False, False]
    assert summary["checked"] == 3
    assert "ids" in recs[1]["error"] and "score" in recs[2]["error"]


def test_checker_applies_the_recall_floor():
    vecs = check.VectorCache()
    ids, texts = _tenant()
    want_ids, _ = check.topk(ids, vecs.matrix(texts), vecs("the query"), 5)
    rec = _search_record(ids, texts, [{"id": i, "dist": 0.0}
                                      for i in want_ids[:2]])
    rec["kind"] = "query_ann"
    assert not check_records([rec], vecs, recall_floor=0.5)["ann_recall_ok"]
    assert check_records([rec], vecs, recall_floor=0.4)["ann_recall_ok"]


def test_filter_and_classify_reference():
    row = {"user_id": 1, "text": "x", "site": "site3", "lang": "lang1"}
    assert check.filter_matches({"must": [{"key": "site", "match": {"value": "site3"}}]}, row)
    assert not check.filter_matches({"must_not": [{"key": "site", "match": {"value": "site3"}}]}, row)
    assert check.filter_matches({"must": [{"key": "lang", "match": {"any": ["lang0", "lang1"]}}]}, row)
    vecs = check.VectorCache()
    cats = "alpha\\nbeta\\ngamma"
    want = min(["alpha", "beta", "gamma"],
               key=lambda c: np.linalg.norm(vecs(c) - vecs("a title")))
    assert check.classify(cats, "a title", vecs) == want


def test_self_time_subtracts_covered_child_intervals():
    t = Tracer()
    t.spans = [
        (1, "client", 0.0, 10.0, None, "op0"),
        (2, "http_app.handler", 1.0, 9.0, 1, "op0"),
        (3, "api.search", 2.0, 4.0, 2, "op0"),
        (4, "spark.action", 3.0, 8.0, 2, "op0"),  # overlaps its sibling
    ]
    self_t = t.self_times()
    assert self_t["client"] == pytest.approx(2.0)
    assert self_t["http_app.handler"] == pytest.approx(2.0)
    assert self_t["api.search"] == pytest.approx(2.0)
    assert t.totals()["spark.action"] == (1, 5.0)
