"""The serving stack under test and a closed-loop client for it.

One ``Stack`` is what a deployment starts: a ``VectorService`` over a fresh
catalog, bulk-loaded with the generated points, its IVF index built, and the
shipped WSGI app (``http_app.make_wsgi_app``) on a real localhost socket,
served by wsgiref in one thread, one request at a time.

``Model`` is the benchmark's own copy of the collection: it applies the
same writes the client sends, so every read can be checked against a
brute-force answer over the points that should be live at that moment.
"""

from __future__ import annotations

import http.client
import json
import shutil
import threading
import time
import urllib.parse
from collections import defaultdict
from wsgiref.simple_server import WSGIRequestHandler, make_server

import numpy as np

from perfbench import check
from perfbench.gen import Corpus, Sizes

INDEX = "EverGrowingVDB"  # the reference's collection name


class _QuietHandler(WSGIRequestHandler):
    def log_message(self, *args):
        pass


class Stack:
    def __init__(self, spark, root: str, corpus: Corpus, sizes: Sizes,
                 wrap_app=None):
        from vectordb_cloud_spark.api import VectorService
        from vectordb_cloud_spark.http_app import make_wsgi_app

        self.root = root
        self.svc = VectorService(
            spark, root, index_name=INDEX, dim=64,
            ann_index={"ivf": {"full_scan_threshold": sizes.full_scan_threshold,
                               "nprobe": sizes.nprobe}})
        self.svc.insert_batch(corpus.rows())
        self.svc.catalog.build_ann_index(INDEX)
        app = make_wsgi_app(self.svc)
        if wrap_app is not None:
            app = wrap_app(app)
        self.httpd = make_server("127.0.0.1", 0, app,
                                 handler_class=_QuietHandler)
        self.port = self.httpd.server_address[1]
        self.thread = threading.Thread(target=self.httpd.serve_forever,
                                       kwargs={"poll_interval": 0.05},
                                       name="wsgi-server", daemon=True)
        self.thread.start()

    def get(self, path: str, params: dict) -> tuple[int, object]:
        qs = urllib.parse.urlencode({k: v for k, v in params.items()
                                     if v is not None})
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("GET", f"{path}?{qs}")
            resp = conn.getresponse()
            body = resp.read()
        finally:
            conn.close()
        return resp.status, json.loads(body)

    def close(self, remove: bool = True) -> None:
        self.httpd.shutdown()
        self.thread.join(timeout=30)
        self.httpd.server_close()
        if remove:
            shutil.rmtree(self.root, ignore_errors=True)


class Model:
    """Live points per tenant, updated by the client's own writes."""

    def __init__(self, corpus: Corpus):
        self.rows: dict[int, tuple[int, str, str, str]] = {}
        self.by_user: dict[int, set[int]] = defaultdict(set)
        self.word_rank = corpus.word_rank
        for r in corpus.rows():
            self.add(r)

    def add(self, r: dict) -> None:
        i = int(r["id"])
        old = self.rows.get(i)
        if old is not None:
            self.by_user[old[0]].discard(i)
        self.rows[i] = (int(r["user_id"]), r["text"], r["site"], r["lang"])
        self.by_user[int(r["user_id"])].add(i)

    def remove_word(self, user: int, word: str) -> int:
        gone = [i for i in self.by_user[user] if word in self.rows[i][1]]
        for i in gone:
            del self.rows[i]
            self.by_user[user].discard(i)
        return len(gone)

    def rarest_word(self, user: int, pick: float) -> str:
        """The rarest word of one of ``user``'s texts, chosen by ``pick``."""
        ids = sorted(self.by_user[user])
        text = self.rows[ids[int(pick * len(ids))]][1]
        return max(text.split(), key=lambda w: self.word_rank.get(w, -1))

    def snapshot(self, user: int, pred=None) -> tuple[np.ndarray, list[str]]:
        """Ids and texts of ``user``'s live points that pass ``pred``."""
        ids = sorted(i for i in self.by_user[user]
                     if pred is None or pred(self.rows[i]))
        return np.array(ids, dtype=np.int64), [self.rows[i][1] for i in ids]


def _row_dict(row: tuple) -> dict:
    return {"user_id": row[0], "text": row[1], "site": row[2], "lang": row[3]}


class Client:
    """Sends ops one after another (closed loop) and records, per op, its
    kind, latency and the inputs its check needs."""

    def __init__(self, stack: Stack, model: Model, tracer=None, sc=None):
        self.stack = stack
        self.model = model
        self.tracer = tracer
        self.sc = sc
        self.records: list[dict] = []
        # [index of the round's first record, start, end] per round
        self.rounds: list[list] = []
        self.points_written = 0

    def run(self, ops: list[dict], seconds: float | None) -> float:
        """Send ops until ``seconds`` have passed and the round in flight
        is complete, or every op when ``seconds`` is None; returns the
        elapsed time from the first send to the last completion."""
        t_start = time.perf_counter()
        deadline = None if seconds is None else t_start + seconds
        for n, op in enumerate(ops):
            if op["kind"] == "round":
                now = time.perf_counter()
                self._close_round(now)
                if deadline is not None and now >= deadline:
                    break
                self.rounds.append([len(self.records), now, None])
                continue
            self._one(n, op)
        else:
            if deadline is not None:
                raise RuntimeError("schedule exhausted before the time limit")
        self._close_round(time.perf_counter())
        return time.perf_counter() - t_start

    def _close_round(self, now: float) -> None:
        if self.rounds and self.rounds[-1][2] is None:
            self.rounds[-1][2] = now

    def round_rates(self) -> list[float]:
        """Completed requests per second of each round."""
        bounds = [r[0] for r in self.rounds] + [len(self.records)]
        return [sum(r["ok"] for r in self.records[lo:hi]) / (t1 - t0)
                for (lo, t0, t1), hi in zip(self.rounds, bounds[1:])]

    def _one(self, n: int, op: dict) -> None:
        rec = {"n": n, "kind": op["kind"], "ok": True, "error": None}
        group = f"op{n}"
        if self.tracer is not None:
            self.sc.setJobGroup(group, op["kind"])
            self.tracer.begin_op(group)
        t0 = time.perf_counter()
        try:
            follow = self._send(op, rec)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            rec["ok"], rec["error"] = False, f"{type(exc).__name__}: {exc}"
            follow = None
        rec["ms"] = (time.perf_counter() - t0) * 1000.0
        if self.tracer is not None:
            self.tracer.end_op()
            rec["stages"] = self.tracer.harvest_stages(self.sc, group)
            self.tracer.op = None
        self.records.append(rec)
        if follow is not None:
            self._one(n + 0.5, follow)

    def _send(self, op: dict, rec: dict):
        kind = op["kind"]
        get = self.stack.get
        if kind == "search":
            st, body = get("/search", {k: op[k] for k in
                                      ("user_id", "text", "limit", "site", "lang")})
            self._expect_200(st, body)
            rec.update(op=op, got=body, want=self._want(op["user_id"], op["text"],
                       op["limit"], self._site_lang(op)))
        elif kind in ("query", "query_ann"):
            st, body = get("/query", {"user_id": op["user_id"],
                                      "body": json.dumps(op["body"])})
            self._expect_200(st, body)
            filt = op["body"].get("filter")
            rec.update(op=op, got=body, want=self._want(
                op["user_id"], op["body"]["query"]["text"], op["body"]["limit"],
                (lambda r: check.filter_matches(filt, _row_dict(r)))
                if filt else None))
        elif kind == "classify":
            st, body = get("/get_category_for_title", {
                k: op[k] for k in ("user_id", "cats", "title")})
            self._expect_200(st, body)
            rec.update(op=op, got=body)
        elif kind == "insert":
            st, body = get("/insert", {k: op[k] for k in
                                      ("id", "user_id", "text", "site", "lang")})
            self._expect_200(st, body)
            if body != 1:
                raise RuntimeError(f"/insert returned {body!r}")
            self.model.add(dict(op, text_id=op["id"]))
            self.points_written += 1
            # read-your-writes: the inserted text must come back first
            return {"kind": "search", "user_id": op["user_id"],
                    "text": op["text"], "limit": 5, "site": None,
                    "lang": None, "readback": op["id"]}
        elif kind == "insert_batch":
            got = self.stack.svc.insert_batch(op["rows"])
            if got != len(op["rows"]):
                raise RuntimeError(f"insert_batch returned {got!r}")
            for r in op["rows"]:
                self.model.add(r)
            self.points_written += len(op["rows"])
        elif kind == "remove":
            word = self.model.rarest_word(op["user_id"], op["pick"])
            st, body = get("/remove_all_by_word",
                           {"user_id": op["user_id"], "word": word})
            self._expect_200(st, body)
            if body != 1:
                raise RuntimeError(f"/remove_all_by_word returned {body!r}")
            self.model.remove_word(op["user_id"], word)
            return {"kind": "count", "user_id": op["user_id"], "word": word}
        elif kind == "count":
            st, body = get("/count", {"user_id": op["user_id"], "word": op["word"]})
            self._expect_200(st, body)
            if body.get("count") != 0:
                raise RuntimeError(f"{body} points still hold a deleted word")
        else:
            raise ValueError(f"unknown op kind {kind!r}")
        return None

    @staticmethod
    def _expect_200(status: int, body) -> None:
        if status != 200:
            raise RuntimeError(f"HTTP {status}: {body}")

    @staticmethod
    def _site_lang(op: dict):
        site, lang = op.get("site"), op.get("lang")
        if site is None and lang is None:
            return None
        return lambda r: ((site is None or r[2] == site)
                          and (lang is None or r[3] == lang))

    def _want(self, user: int, text: str, k: int, pred) -> tuple:
        """The inputs of the brute-force answer, frozen at send time."""
        ids, texts = self.model.snapshot(user, pred)
        return ids, texts, text, k


def check_records(records: list[dict], vecs: check.VectorCache,
                  recall_floor: float) -> dict:
    """Check every read against its brute-force answer. Marks failing
    records and returns the check summary."""
    recalls = []
    checked = 0
    for rec in records:
        if not rec["ok"] or "got" not in rec:
            continue
        kind = rec["kind"]
        reason = None
        if kind == "classify":
            want = check.classify(rec["op"]["cats"], rec["op"]["title"], vecs)
            if rec["got"] != want:
                reason = f"category {rec['got']!r} != expected {want!r}"
        else:
            ids, texts, qtext, k = rec["want"]
            want_ids, want_scores = check.topk(ids, vecs.matrix(texts),
                                               vecs(qtext), k)
            # /search answers {id, string, score}; /query keeps the row and dist
            score = "score" if kind == "search" else "dist"
            got_ids = [h["id"] for h in rec["got"]]
            got_scores = [h[score] for h in rec["got"]]
            if kind == "query_ann":
                # approximate: any live point of the tenant at its exact
                # distance, in order; recall is checked over the run
                recalls.append(check.recall(got_ids, want_ids))
                reason = check.valid_approx(got_ids, got_scores, ids,
                                            vecs.matrix(texts), vecs(qtext), k)
            else:
                reason = check.compare_topk(got_ids, got_scores,
                                            want_ids, want_scores)
                rb = rec["op"].get("readback")
                if reason is None and rb is not None and (
                        not got_ids or got_ids[0] != rb or got_scores[0] != 0.0):
                    reason = f"inserted point {rb} is not first at score 0"
        checked += 1
        if reason is not None:
            rec["ok"], rec["error"] = False, f"check: {reason}"
    mean_recall = float(np.mean(recalls)) if recalls else None
    recall_ok = mean_recall is None or mean_recall >= recall_floor
    return {"checked": checked, "ann_requests": len(recalls),
            "ann_recalls": recalls,
            "ann_recall_at_k": mean_recall, "ann_recall_floor": recall_floor,
            "ann_recall_ok": recall_ok}
