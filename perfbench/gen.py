"""Seeded input generator: corpus, tenants, texts and request schedules.

Everything a run feeds the service comes from ``--seed`` alone, so the same
seed replays the same collection and the same request sequence. The program
under test sees only these generated inputs.

Words are fixed-length lowercase strings, so ``text.contains(word)`` (the
service's ``remove_all_by_word`` predicate) matches exactly the texts that
hold ``word`` as a token, and the benchmark can model deletes without Spark.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field

import numpy as np

WORD_LEN = 6


@dataclass(frozen=True)
class Sizes:
    """Corpus and schedule sizes of one workload (recorded in the report)."""

    points: int = 6000
    tenants: int = 150
    tenant_zipf: float = 1.0
    vocab: int = 3000
    word_zipf: float = 1.05
    words_per_text: tuple[int, int] = (8, 14)
    sites: int = 20
    langs: int = 5
    # the IVF planner's exact-vs-index switch, scaled with the corpus: at
    # 6k points the few head tenants pass it and the tail serves exact,
    # the split the library default (10k) gives a ~150k-point corpus
    full_scan_threshold: int = 250
    # IVF lists probed per query (of the default 16); mock embeddings have
    # no cluster structure, so the default 2 lets recall@k fall to 0.2
    nprobe: int = 8
    hot_tenants: int = 16
    # read decks sent before the timed window (see ``warmup_schedule``)
    serve_warm_decks: int = 2
    ingest_warm_decks: int = 1
    batch_points: int = 200
    # ops generated per run; a run stops at its time limit, far before
    serve_ops: int = 1500
    ingest_ops: int = 240


@dataclass
class Corpus:
    """Point columns, aligned by position; ``id`` equals ``text_id``."""

    ids: np.ndarray
    users: np.ndarray
    texts: list[str]
    sites: list[str]
    langs: list[str]
    vocab: list[str]
    word_rank: dict[str, int] = field(repr=False, default_factory=dict)

    def rows(self) -> list[dict]:
        return [
            {"id": int(i), "text_id": int(i), "text": t, "user_id": int(u),
             "site": s, "lang": la}
            for i, u, t, s, la in zip(self.ids, self.users, self.texts,
                                      self.sites, self.langs)
        ]


def _zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def make_vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        for row in rng.integers(0, 26, size=(n, WORD_LEN)):
            w = "".join(letters[row])
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


class TextSource:
    """Zipf-ranked word draws; keeps the rank of each word so callers can
    pick a text's rarest word."""

    def __init__(self, rng: np.random.Generator, sizes: Sizes):
        self.rng = rng
        self.sizes = sizes
        self.vocab = make_vocab(rng, sizes.vocab)
        self.rank = {w: r for r, w in enumerate(self.vocab)}
        self.cdf = np.cumsum(_zipf_probs(sizes.vocab, sizes.word_zipf))

    def text(self, rng: np.random.Generator | None = None) -> str:
        rng = self.rng if rng is None else rng
        lo, hi = self.sizes.words_per_text
        n = int(rng.integers(lo, hi + 1))
        picks = np.searchsorted(self.cdf, rng.random(n), side="right")
        return " ".join(self.vocab[min(int(i), len(self.vocab) - 1)]
                        for i in picks)


def zipf_counts(total: int, n: int, s: float) -> np.ndarray:
    """``total`` split over ``n`` ranks in Zipf(``s``) proportion, largest
    remainders rounded up, so every seed gets the same size profile."""
    raw = total * _zipf_probs(n, s)
    counts = np.floor(raw).astype(np.int64)
    short = total - int(counts.sum())
    counts[np.argsort(-(raw - counts), kind="stable")[:short]] += 1
    return counts


def make_corpus(seed: int, sizes: Sizes) -> tuple[Corpus, TextSource]:
    """Zipf-skewed tenants with the same sizes for every seed (tenant ids
    shuffled per seed, so the head tenant differs between seeds), Zipf-ranked
    words, uniform sites and langs."""
    rng = np.random.default_rng([seed, 1])
    src = TextSource(rng, sizes)
    tenant_of_rank = rng.permutation(sizes.tenants)
    counts = zipf_counts(sizes.points, sizes.tenants, sizes.tenant_zipf)
    ranks = rng.permutation(np.repeat(np.arange(sizes.tenants), counts))
    users = tenant_of_rank[ranks].astype(np.int64)
    texts = [src.text() for _ in range(sizes.points)]
    sites = [f"site{int(x)}" for x in rng.integers(0, sizes.sites, sizes.points)]
    langs = [f"lang{int(x)}" for x in rng.integers(0, sizes.langs, sizes.points)]
    ids = np.arange(1, sizes.points + 1, dtype=np.int64)
    corpus = Corpus(ids, users, texts, sites, langs, src.vocab, src.rank)
    return corpus, src


def tenant_sizes(corpus: Corpus) -> dict[int, int]:
    u, c = np.unique(corpus.users, return_counts=True)
    return {int(a): int(b) for a, b in zip(u, c)}


# -- request schedules -------------------------------------------------------

# A run ends at the first round boundary after its time limit, so every run
# holds whole rounds of the same mix: a serve round is one deck, an ingest
# round one deck per write kind, each followed by its write.
ROUND = {"kind": "round"}

# Reads are dealt from shuffled decks, so every window of a run holds the
# same mix and each latency metric has a stable sample count.
# serve, 20 requests: 11 /search (2 of them exact repeats), 5 /query dense
# with a filter document, 1 /query params.exact=false, 3 classify
SERVE_DECK = (("search",) * 9 + ("search_repeat",) * 2 + ("query",) * 5
              + ("query_ann",) + ("classify",) * 3)
# ingest, 10 reads before each write; the deck after the single-point insert
# also holds one /query params.exact=false, which pays the index upkeep
INGEST_DECK = (("search",) * 5 + ("search_repeat",) + ("query",) * 3
               + ("classify",))
CATEGORIES = ("sports", "politics", "science", "travel", "music", "health",
              "finance", "cooking")


def _filter_doc(rng: np.random.Generator, sizes: Sizes) -> dict:
    form = int(rng.integers(0, 4))
    site = f"site{int(rng.integers(0, sizes.sites))}"
    lang = f"lang{int(rng.integers(0, sizes.langs))}"
    if form == 0:
        return {"must": [{"key": "site", "match": {"value": site}}]}
    if form == 1:
        return {"must": [{"key": "lang", "match": {"value": lang}}]}
    if form == 2:
        other = f"lang{(int(lang[4:]) + 1) % sizes.langs}"
        return {"must": [{"key": "lang", "match": {"any": [lang, other]}}]}
    return {"must_not": [{"key": "site", "match": {"value": site}}]}


def deal(rng: np.random.Generator, deck: tuple[str, ...]) -> list[str]:
    return [deck[i] for i in rng.permutation(len(deck))]


class TenantDraw:
    """Tenants for a deck, drawn by corpus weight one per equal stratum of
    that weight, in shuffled order: every deck reaches the head and the tail
    in the same proportion, so runs differ in which requests they send, not
    in how much of their traffic lands on the large tenants."""

    def __init__(self, corpus: Corpus):
        users, counts = np.unique(corpus.users, return_counts=True)
        order = np.argsort(-counts, kind="stable")
        self.users = users[order]
        self.cdf = np.cumsum(counts[order]) / counts.sum()

    def __call__(self, rng: np.random.Generator, n: int) -> list[int]:
        u = (rng.permutation(n) + rng.random(n)) / n
        idx = np.minimum(np.searchsorted(self.cdf, u, side="right"),
                         len(self.users) - 1)
        return [int(self.users[i]) for i in idx]


def hot_draw(rng: np.random.Generator, hot: list[int], n: int) -> list[int]:
    """``n`` of the hot tenants, each at most once while ``n`` allows."""
    picks: list[int] = []
    while len(picks) < n:
        picks.extend(hot[i] for i in rng.permutation(len(hot)))
    return picks[:n]


def read_op(rng: np.random.Generator, src: TextSource, sizes: Sizes,
            kind: str, tenant: int, history: list[dict]) -> dict:
    """One read of ``kind``; a third of the distinct searches carry a site or
    lang predicate, and an exact repeat replays an earlier search."""
    if kind == "search_repeat":
        if history:
            return dict(history[int(rng.integers(0, len(history)))],
                        kind="search", repeat=True)
        kind = "search"
    limit = int(rng.choice([5, 10]))
    if kind == "search":
        op = {"kind": "search", "user_id": tenant, "text": src.text(rng),
              "limit": limit, "site": None, "lang": None, "repeat": False}
        pick = int(rng.integers(0, 6))
        if pick == 0:
            op["site"] = f"site{int(rng.integers(0, sizes.sites))}"
        elif pick == 1:
            op["lang"] = f"lang{int(rng.integers(0, sizes.langs))}"
        history.append(op)
        return op
    if kind == "query":
        return {"kind": "query", "user_id": tenant,
                "body": {"query": {"text": src.text(rng)}, "limit": limit,
                         "filter": _filter_doc(rng, sizes)}}
    if kind == "query_ann":
        return {"kind": "query_ann", "user_id": tenant,
                "body": {"query": {"text": src.text(rng)}, "limit": limit,
                         "params": {"exact": False}}}
    n = int(rng.integers(3, 7))
    cats = [CATEGORIES[i] for i in rng.choice(len(CATEGORIES), n, replace=False)]
    # the reference splits categories on the two characters backslash, n
    return {"kind": "classify", "user_id": tenant, "cats": "\\n".join(cats),
            "title": src.text(rng)}


def serve_schedule(seed: int, sizes: Sizes, corpus: Corpus,
                   src: TextSource) -> list[dict]:
    """Read-only mix over all tenants, tenants drawn by the corpus's own
    Zipf weights: the head tenants repeat shapes, the tail builds cold."""
    rng = np.random.default_rng([seed, 2])
    draw = TenantDraw(corpus)
    history: list[dict] = []
    ops: list[dict] = []
    while len(ops) < sizes.serve_ops:
        ops.append(ROUND)
        kinds = deal(rng, SERVE_DECK)
        for kind, tenant in zip(kinds, draw(rng, len(kinds))):
            ops.append(read_op(rng, src, sizes, kind, tenant, history))
    return ops


def hot_tenants(corpus: Corpus, n: int) -> list[int]:
    """The ``n`` largest tenants (ties by id): their shapes fit the memo."""
    sizes = tenant_sizes(corpus)
    return sorted(sizes, key=lambda u: (-sizes[u], u))[:n]


def warmup_schedule(workload: str, seed: int, sizes: Sizes, corpus: Corpus,
                    src: TextSource) -> list[dict]:
    """Read decks sent before the timed window, from a stream of their own.

    Counted in requests, not seconds, so every run's window starts from the
    same state: the JIT has compiled the read path, and for ``serve`` the
    head tenants' shapes are in the memo, as on a server that has been up
    for a while. ``ingest`` needs less: its writes void the memos anyway.
    """
    rng = np.random.default_rng([seed, 4])
    history: list[dict] = []
    ops: list[dict] = []
    if workload == "serve":
        draw = TenantDraw(corpus)
        decks = [SERVE_DECK] * sizes.serve_warm_decks
    else:
        hot = hot_tenants(corpus, sizes.hot_tenants)
        draw = functools.partial(hot_draw, hot=hot)
        decks = [INGEST_DECK + ("query_ann",)] * sizes.ingest_warm_decks
    for deck in decks:
        kinds = deal(rng, deck)
        for kind, tenant in zip(kinds, draw(rng, n=len(kinds))):
            ops.append(read_op(rng, src, sizes, kind, tenant, history))
    return ops


# writes rotate in this order, one after each dealt ingest deck
WRITE_ROTATION = ("insert", "remove", "insert_batch")


def ingest_schedule(seed: int, sizes: Sizes, corpus: Corpus,
                    src: TextSource) -> list[dict]:
    """The read mix restricted to the hot tenants, with a write after every
    deck of reads. Write operands that depend on the live
    collection (the word to delete) are resolved by the runner from its
    model of the collection, drawing from the op's own ``pick`` value."""
    rng = np.random.default_rng([seed, 3])
    hot = hot_tenants(corpus, sizes.hot_tenants)
    history: list[dict] = []
    next_id = int(corpus.ids.max()) + 1
    ops: list[dict] = []
    w = 0
    while len(ops) < sizes.ingest_ops:
        if w % len(WRITE_ROTATION) == 0:
            ops.append(ROUND)
        deck = INGEST_DECK + (("query_ann",) if w % len(WRITE_ROTATION) == 1
                              else ())
        kinds = deal(rng, deck)
        for kind, tenant in zip(kinds, hot_draw(rng, hot, len(kinds))):
            ops.append(read_op(rng, src, sizes, kind, tenant, history))
        kind = WRITE_ROTATION[w % len(WRITE_ROTATION)]
        w += 1
        tenant = hot[int(rng.integers(0, len(hot)))]
        if kind == "insert":
            ops.append({"kind": "insert", "id": next_id, "user_id": tenant,
                        # the trailing token is unique, so the readback
                        # search has exactly one point at distance 0
                        "text": f"{src.text(rng)} ins{next_id}",
                        "site": f"site{int(rng.integers(0, sizes.sites))}",
                        "lang": f"lang{int(rng.integers(0, sizes.langs))}"})
            next_id += 1
        elif kind == "remove":
            ops.append({"kind": "remove", "user_id": tenant,
                        "pick": float(rng.random())})
        else:
            rows = []
            for _ in range(sizes.batch_points):
                rows.append({
                    "id": next_id, "text_id": next_id, "text": src.text(rng),
                    "user_id": hot[int(rng.integers(0, len(hot)))]
                    if rng.random() < 0.5 else
                    int(corpus.users[int(rng.integers(0, len(corpus.users)))]),
                    "site": f"site{int(rng.integers(0, sizes.sites))}",
                    "lang": f"lang{int(rng.integers(0, sizes.langs))}"})
                next_id += 1
            ops.append({"kind": "insert_batch", "rows": rows})
    return ops
