"""Seeded op streams for the two workloads.

The corpus is ``tools/zipf_corpus.synthesize`` with the run's seed;
every query term, phrase, host and typo below is drawn from a
``random.Random`` keyed by (workload, seed), so one seed always gives
the same op sequence. Zipf term ``t<r>`` has rank ``r``: rank 1 is
the hottest word, and ranks 200-20000 are the mid/tail band where a
term matches few documents.

The op class order is a fixed cycle (``SLOTS``), so every run has the
same class mix whatever its seed; only the terms change. Each slot has
a tag (``slot_tag``); a run's latency summary is taken per tag and
then over the cycle (``stats.mix_gmean``), so it does not depend on
how far into a cycle the run got.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

LANGS = ("en", "de", "fr", "zh")
N_HOSTS = 997  # zipf_corpus: host = pmod(xxhash64(...), 997)


@dataclass(frozen=True)
class Op:
    cls: str                 # op class, e.g. "term", "suggest_fuzzy"
    api: str                 # search | suggest | spell | count | facets
    query: object            # str, list[str] or {"text": [str, ...]}
    hit: bool = False        # search with_hit=True
    page: int | None = None  # search page=
    after_prev: bool = False  # search_after the previous op's last row
    dsl: bool = False        # query is QueryParser syntax (parse_dsl)
    fuzzy: bool = False      # suggest: fuzzy completion
    msm: int = 0
    contexts: tuple = field(default_factory=tuple)

    @property
    def tag(self) -> str:
        """The op's slot tag: its class plus its modifier."""
        mod = ("hit" if self.hit else "after" if self.after_prev
               else "page1" if self.page else "")
        return slot_tag(self.cls, mod)

    @property
    def kind(self) -> str:
        """Per-layer bucket of a search op: hit and paged ops are
        their own buckets whatever their query shape."""
        if self.hit:
            return "hit"
        if self.page or self.after_prev:
            return "page"
        return {"and": "bool", "or": "bool", "msm": "bool",
                "dsl": "bool"}.get(self.cls, self.cls)


# (class, modifier) per slot; modifiers: hit, page1, after.
#
# Each cycle is short (7-12 s), so that a run covers it more than once:
# the runner keeps going past --seconds until every slot has run twice.
# The selective cycle puts 2 of 10 ops on with_hit=True and 2 of 10 on
# page=1 / search_after.
SLOTS = {
    "zipf_selective": [
        ("term", ""), ("and", "hit"), ("suggest_prefix", ""),
        ("phrase", ""), ("phrase", "after"), ("suggest_fuzzy", ""),
        ("or", "page1"), ("msm", "hit"), ("dsl", ""),
        ("suggest_context", ""),
    ],
    "zipf_memory": [
        ("term", ""), ("suggest_prefix", ""), ("and", ""),
        ("count", ""), ("spell", ""), ("or", ""), ("facets", ""),
        ("phrase", ""), ("suggest_context", ""),
    ],
}

# Ops sent before timing starts, with their own terms, for the state
# a first call builds lazily and keeps: the in-memory session caches
# its suggest table on first use (the first suggest took 1.2 s, later
# ones 0.15 s), and the first hit fetch opens the stored-docs table.
# Warming them here puts that work in setup_s. Other first calls are
# slow only while the JVM compiles the path (the first AND 3.6 s, then
# 1.1 s); the loop runs every slot at least twice and reports each
# slot's median (stats.mix_gmean), so they are half of it.
WARMUP = {
    "zipf_selective": [("and", "hit")],
    "zipf_memory": [("suggest_prefix", "")],
}


def slot_tag(cls: str, mod: str = "") -> str:
    return f"{cls}+{mod}" if mod else cls


def cycle_tags(workload: str) -> list[str]:
    """The tag of every slot of the workload's cycle, in order."""
    return [slot_tag(c, m) for c, m in SLOTS[workload]]


def rank_term(rng: random.Random, lo: int, hi: int) -> str:
    """A term whose Zipf rank is log-uniform in [lo, hi]."""
    r = int(math.exp(rng.uniform(math.log(lo), math.log(hi + 1))))
    return f"t{min(max(r, lo), hi)}"


def rank_of(term: str) -> int:
    return int(term[1:]) if term[1:].isdigit() else 0


def bigrams(texts, lo: int = 100) -> list[tuple[str, str]]:
    """Adjacent token pairs of the sampled documents whose two terms
    both have rank >= ``lo``, i.e. phrases that occur in the corpus
    and are not made of stop-word-like hot terms."""
    out = []
    for t in texts:
        toks = t.split(" ")
        for a, b in zip(toks, toks[1:]):
            if a != b and rank_of(a) >= lo and rank_of(b) >= lo:
                out.append((a, b))
    return sorted(set(out))


class OpStream:
    """Endless deterministic op sequence for one workload and seed.

    ``texts`` are sampled corpus documents; phrase ops take adjacent
    pairs from them so that phrases have matches."""

    def __init__(self, workload: str, seed: int, texts=(), salt: str = ""):
        if workload not in SLOTS:
            raise ValueError(f"unknown workload {workload!r}")
        self.workload = workload
        self.slots = SLOTS[workload]
        self.rng = random.Random(f"{workload}:{seed}:{salt}")
        self.pairs = bigrams(texts)
        self._prev = None
        self._i = 0

    def __iter__(self):
        return self

    def __next__(self) -> Op:
        cls, mod = self.slots[self._i % len(self.slots)]
        self._i += 1
        if mod == "after" and self._prev is not None:
            p = self._prev
            op = Op(p.cls, p.api, p.query, after_prev=True, dsl=p.dsl,
                    msm=p.msm)
        else:
            op = self.draw(cls, mod)
        self._prev = op
        return op

    def draw(self, cls: str, mod: str = "") -> Op:
        """One op of class ``cls`` with modifier ``mod`` (hit, page1)."""
        return self._draw(cls, hit=(mod == "hit"),
                          page=1 if mod == "page1" else None)

    def take(self, n: int) -> list[Op]:
        return [next(self) for _ in range(n)]

    def _phrase(self) -> str:
        if self.pairs:
            a, b = self.pairs[self.rng.randrange(len(self.pairs))]
        else:
            a, b = rank_term(self.rng, 100, 2000), rank_term(
                self.rng, 100, 2000)
        return f"{a} {b}"

    def _host_prefix(self) -> str:
        return f"https://www.host{self.rng.randrange(N_HOSTS)}."

    def _draw(self, cls: str, hit=False, page=None) -> Op:
        r = self.rng
        if cls == "term":
            return Op(cls, "search", rank_term(r, 200, 20000), hit, page)
        if cls == "and":
            a = b = rank_term(r, 200, 1000)
            while b == a:  # "a AND a" scores a twice; keep two terms
                b = rank_term(r, 200, 1000)
            return Op(cls, "search", [a, b], hit, page)
        if cls in ("or", "msm"):
            terms = sorted({rank_term(r, 200, 5000) for _ in range(3)})
            return Op(cls, "search", {"text": terms}, hit, page,
                      msm=2 if cls == "msm" else 0)
        if cls == "phrase":
            return Op(cls, "search", self._phrase(), hit, page)
        if cls == "dsl":
            a, b, c, d = (rank_term(r, 200, 1000) for _ in range(4))
            return Op(cls, "search", f"({a} AND {b}) OR ({c} AND {d})",
                      hit, page, dsl=True)
        if cls == "suggest_prefix":
            return Op(cls, "suggest", self._host_prefix())
        if cls == "suggest_fuzzy":
            # one substituted letter inside "host": a 1-edit typo
            p = self._host_prefix()
            i = len("https://www.h") + r.randrange(3)
            typo = "x" if p[i] != "x" else "y"
            return Op(cls, "suggest", p[:i] + typo + p[i + 1:], fuzzy=True)
        if cls == "suggest_context":
            return Op(cls, "suggest", self._host_prefix(),
                      contexts=(LANGS[r.randrange(len(LANGS))],))
        if cls == "spell":
            t = rank_term(r, 1000, 9999)
            return Op(cls, "spell", t + "abcdefghijklmnopqrstuvwxyz"[
                r.randrange(26)])
        if cls in ("count", "facets"):
            return Op(cls, cls, rank_term(r, 200, 5000))
        raise ValueError(f"unknown op class {cls!r}")
