"""Seeded inputs for both workloads: corpus document ranges, the served
query stream, the Spark bulk batch and the correctness samples.

Everything here is a pure function of the workload seed, so two runs with
the same seed send the program the same files and the same requests.
Documents come from ``corpus.gen_doc``; the program only ever sees the
parquet files and HTTP requests built from them.
"""

from __future__ import annotations

import random

from horus_ner_spark.corpus import ROOTS

# search-mix: one corpus, one build
SEARCH_DOCS = 2000
# streamed micro-batches: ingest-serve lands 8 files in two stream runs
# (two live units: a third unit halves the daemon's capacity, which leaves
# too few open-loop samples at a rate well below it);
# search-mix lands one run of 4 "new commit" files beside its build
INGEST_BATCH_DOCS = 250
INGEST_RUN1_FILES = 6
INGEST_RUN2_FILES = 2
SEARCH_INGEST_FILES = 4
REDELIVERED = 24   # docs of run-1 batches 0-3 re-sent inside run 2
DELETED = 16       # docs of run-1 batches 4-5 deleted between the runs

# served stream
HOT_QUERIES = 32           # fits the daemon's 4,096-entry result cache
# the hot/miss split of the repository's own mixed serving bench
# (``serve_pool_bench.mixed_queries``: 70 % repeated, 30 % distinct);
# with more than half the requests hot, the overall p50 is a hot-class
# latency, so the miss and hot classes are also reported on their own
HOT_SHARE_SEARCH_MIX = 0.7
FACET_EVERY = 5            # every 5th OR/AND/PHRASE miss: facets (OR/AND)
SNIPPET_EVERY = 5          # every 5th OR/AND/PHRASE miss: snippets

# Zipf head of the identifier roots: the corpus samples roots by a power
# law, so head roots have long posting lists and phrases over them match
HEAD = ROOTS[:48]
MISS_KINDS = (
    ("OR", 30), ("AND", 15), ("PHRASE", 10), ("NEAR", 10),
    ("BOOL", 10), ("FILTER", 10), ("PREFIX", 8), ("FUZZY", 7),
)
# the live tier set carries no fuzzy sidecars (building one per unit would
# double the Spark phase), so ingest-serve sends no fuzzy queries
MISS_KINDS_NO_FUZZY = MISS_KINDS[:-1]


def n_repos(n_docs: int) -> int:
    """Repo count ``write_corpus`` uses for a corpus of ``n_docs``."""
    return max(10, n_docs // 100)


def ingest_files(seed: int, n_files: int, first_doc: int) -> list[list[dict]]:
    """Fresh micro-batch document lists, ``INGEST_BATCH_DOCS`` each."""
    from horus_ner_spark.corpus import gen_doc

    nr = n_repos((INGEST_RUN1_FILES + INGEST_RUN2_FILES) * INGEST_BATCH_DOCS)
    return [
        [gen_doc(i, seed, nr) for i in range(
            first_doc + b * INGEST_BATCH_DOCS,
            first_doc + (b + 1) * INGEST_BATCH_DOCS,
        )]
        for b in range(n_files)
    ]


def _num(rng: random.Random) -> str:
    # one- and two-character numbers are below the tokenizer's length gate
    return str(rng.randint(10, 9999))


def _root(rng: random.Random) -> str:
    return rng.choice(HEAD)


def _fuzzy_stem(rng: random.Random) -> str:
    r = rng.choice([x for x in HEAD if len(x) >= 4])
    i = rng.randrange(len(r))
    return r[:i] + r[i + 1:] + "~"   # one deletion: edit distance 1


class QueryStream:
    """The served request stream of one workload.

    A request is ``(cls, kind, body)``: ``cls`` is ``hot`` or ``miss``,
    ``kind`` the query family, ``body`` the JSON the daemon receives.
    Miss queries never repeat, so the daemon's result cache cannot answer
    them; each carries numeric terms, of which the corpus has about 9,990,
    more than the 4,096-term ``IndexServer`` LRU.

    Classes and kinds are dealt from shuffled decks rather than drawn one
    by one, so every run sends the same mix, to within one deck, in a
    seeded order: a drawn mix moved the miss count of a 400-request open
    loop by about 8 % from seed to seed, and the latency percentiles with
    it.
    """

    def __init__(self, seed: int, hot_share: float, repos: list[str],
                 kinds: tuple = MISS_KINDS):
        self._rng = random.Random(seed * 7919 + 17)
        n_hot = round(hot_share * 10)
        self._class_deck = ["hot"] * n_hot + ["miss"] * (10 - n_hot)
        self._kind_deck = [k for k, w in kinds for _ in range(w)]
        self._decks: dict[str, list] = {}
        self._repos = repos
        self._seen: set[str] = set()
        self._n_extras = 0
        hot_rng = random.Random(seed * 104729 + 3)
        self.hot = []
        while len(self.hot) < HOT_QUERIES:
            a, b = _root(hot_rng), _root(hot_rng)
            q = f"{a} AND {b}" if hot_rng.random() < 0.25 else f"{a} {b}"
            if q not in self._seen:
                self._seen.add(q)
                self.hot.append(("hot", "AND" if " AND " in q else "OR",
                                 {"q": q, "k": 10}))

    def _deal(self, name: str, full: list) -> str:
        deck = self._decks.get(name)
        if not deck:
            deck = self._decks[name] = list(full)
            self._rng.shuffle(deck)
        return deck.pop()

    def _miss_text(self, kind: str) -> str:
        rng = self._rng
        if kind == "OR":
            return f"{_root(rng)} {_num(rng)} {_num(rng)}"
        if kind == "AND":
            return f"{_root(rng)} AND {_num(rng)}"
        if kind == "PHRASE":
            return f'"{_root(rng)} {_root(rng)}"'
        if kind == "NEAR":
            return f"{_root(rng)} NEAR/{rng.randint(2, 8)} {_root(rng)}"
        if kind == "BOOL":
            a, b = _root(rng), _root(rng)
            return (f"({a} OR {_num(rng)}) AND {b}" if rng.random() < 0.5
                    else f"({a} AND {b}) OR {_num(rng)}")
        if kind == "FILTER":
            sel = rng.choice((
                f"path:{_root(rng)}/",
                f"repo:{rng.choice(self._repos)}",
                f"lang:{rng.choice(('java', 'go', 'js'))}",
            ))
            return f"{_root(rng)} {_num(rng)} {sel}"
        if kind == "PREFIX":
            return f"{_root(rng)[:3]}* {_num(rng)}"
        return f"{_fuzzy_stem(rng)} {_num(rng)}"

    def miss(self) -> tuple[str, str, dict]:
        kind = self._deal("kind", self._kind_deck)
        q = self._miss_text(kind)
        while q in self._seen:   # fresh means never sent before
            q = self._miss_text(kind)
        self._seen.add(q)
        body = {"q": q, "k": 10}
        if kind in ("OR", "AND", "PHRASE"):
            # of these kinds, every fifth asks for facets (OR/AND only)
            # and every fifth, offset by two, for snippets
            self._n_extras += 1
            if kind != "PHRASE" and self._n_extras % FACET_EVERY == 0:
                body["facets"] = ["lang", "repo"]
            if self._n_extras % SNIPPET_EVERY == 2:
                body["snippets"] = True
        return "miss", kind, body

    def next(self) -> tuple[str, str, dict]:
        if self._deal("class", self._class_deck) == "hot":
            return self._rng.choice(self.hot)
        return self.miss()

    def take(self, n: int) -> list[tuple[str, str, dict]]:
        return [self.next() for _ in range(n)]


def bulk_batch(seed: int, n: int = 48) -> list[dict]:
    """Distinct explicit-mode queries for the Spark bulk plane (which takes
    no filters, prefixes or fuzzy stems)."""
    rng = random.Random(seed * 31337 + 5)
    out, seen = [], set()
    while len(out) < n:
        mode = ("OR", "OR", "AND", "PHRASE", "NEAR")[len(out) % 5]
        if mode == "OR":
            text = f"{_root(rng)} {_num(rng)} {_num(rng)}"
        elif mode == "AND":
            text = f"{_root(rng)} {_root(rng)}"
        else:
            text = f"{_root(rng)} {_root(rng)}"
        if (text, mode) in seen:
            continue
        seen.add((text, mode))
        q = {"query_id": len(out), "query_text": text, "lang": "python",
             "k": 10, "mode": mode}
        if mode == "NEAR":
            q["slop"] = rng.randint(2, 8)
        out.append(q)
    return out


def oracle_sample(seed: int, n: int = 16) -> list[str]:
    """OR query texts checked against ``oracle.OracleIndex`` every run."""
    rng = random.Random(seed * 65537 + 11)
    return [f"{_root(rng)} {_root(rng)} {_num(rng)}" for _ in range(n)]


def parity_sample(seed: int) -> list[dict]:
    """Explicit-mode queries compared between the live tier set and a
    single-shot build of the surviving documents."""
    rng = random.Random(seed * 257 + 9)
    out = []
    for i in range(18):
        mode = ("OR", "AND", "PHRASE")[i % 3]
        text = (f"{_root(rng)} {_num(rng)}" if mode == "OR"
                else f"{_root(rng)} {_root(rng)}")
        out.append({"query_text": text, "mode": mode})
    return out
