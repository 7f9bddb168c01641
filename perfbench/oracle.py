"""Independent pure-Python BM25 oracle for the serving benchmark.

Scores with LegacyBM25 semantics (k1=1.2, b=0.75, (k1+1) numerator) over
SmallFloat-quantized document lengths, written out here rather than taken
from the engine's ``bm25``/``smallfloat`` modules, so a scoring bug in the
engine cannot also hide in its check. Only the analyzer is shared: the
oracle has to see the same tokens the index was built from.

The corpus distinguishes *physical* documents, which collection statistics
count (df, doc count and average length include superseded and deleted
versions until a merge expunges them), from *live* documents, which are the
only ones a search may return.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable

K1 = 1.2
B = 0.75


def quantize_length(n: int) -> int:
    """SmallFloat intToByte4 then byte4ToInt: keep the top four significant
    bits of ``n`` (exact below 8)."""
    if n < 8:
        return n
    shift = n.bit_length() - 4
    return (n >> shift) << shift


def idf(df: int, n_docs: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


@dataclass
class Doc:
    url: str
    text: str
    dl: int
    tfs: dict[str, int]  # tracked terms only
    live: bool = True


@dataclass
class Corpus:
    """Oracle state. ``tracked`` is the set of terms any query may use;
    postings are kept for those terms only, which keeps memory small."""

    tokenize: Callable[[str], list[str]]
    tracked: set[str]
    docs: list[Doc] = field(default_factory=list)
    by_url: dict[str, int] = field(default_factory=dict)  # url -> live doc index
    postings: dict[str, dict[int, int]] = field(default_factory=dict)

    def add(self, url: str, text: str) -> None:
        """Index (or overwrite) ``url``; an overwrite keeps the old version
        physical until ``expunge``."""
        old = self.by_url.get(url)
        if old is not None:
            self.docs[old].live = False
        toks = self.tokenize(text) if text else []
        tfs = {t: c for t, c in Counter(toks).items() if t in self.tracked}
        i = len(self.docs)
        self.docs.append(Doc(url, text, len(toks), tfs))
        self.by_url[url] = i
        for t, c in tfs.items():
            self.postings.setdefault(t, {})[i] = c

    def delete(self, url: str) -> None:
        i = self.by_url.pop(url, None)
        if i is not None:
            self.docs[i].live = False

    def expunge(self) -> None:
        """A merge of every segment drops all dead versions physically."""
        keep = [d for d in self.docs if d.live]
        self.docs, self.by_url, self.postings = [], {}, {}
        for d in keep:
            i = len(self.docs)
            self.docs.append(d)
            self.by_url[d.url] = i
            for t, c in d.tfs.items():
                self.postings.setdefault(t, {})[i] = c

    def live_urls(self) -> set[str]:
        return set(self.by_url)

    def ranking(self, terms: list[str], op: str = "or") -> list[tuple[str, float]]:
        """Every matching live (url, score), score desc."""
        terms = list(dict.fromkeys(terms))
        missing = [t for t in terms if t not in self.tracked]
        if missing:
            raise KeyError(f"untracked query terms: {missing}")
        n = len(self.docs)
        if n == 0:
            return []
        avgdl = sum(d.dl for d in self.docs) / n
        present = [t for t in terms if self.postings.get(t)]
        if op == "and" and len(present) < len(terms):
            return []
        scores: dict[int, float] = {}
        matched: Counter = Counter()
        for t in present:
            post = self.postings[t]
            w = idf(len(post), n) * (K1 + 1.0)
            for i, tf in post.items():
                d = self.docs[i]
                if not d.live:
                    continue
                norm = K1 * (1.0 - B + B * quantize_length(d.dl) / avgdl)
                scores[i] = scores.get(i, 0.0) + w * tf / (tf + norm)
                matched[i] += 1
        need = len(terms) if op == "and" else 1
        ranked = sorted(
            ((self.docs[i].url, s) for i, s in scores.items() if matched[i] >= need),
            key=lambda kv: (-kv[1], kv[0]),
        )
        return ranked

    def phrase_docs(self, phrase: list[str]) -> set[str]:
        """Live urls whose token stream contains ``phrase`` contiguously."""
        if not phrase:
            return set()
        first = self.postings.get(phrase[0], {})
        cand = [i for i in first if self.docs[i].live
                and all(self.docs[i].tfs.get(t) for t in phrase)]
        return {self.docs[i].url for i in cand
                if contains_phrase(self.tokenize(self.docs[i].text), phrase)}


def contains_phrase(tokens: list[str], phrase: list[str]) -> bool:
    m = len(phrase)
    return any(tokens[i:i + m] == phrase for i in range(len(tokens) - m + 1))


RTOL = 1e-9  # engine and oracle sum the same float64 terms in another order


def same_topk(got: list[tuple[str, float]], ranked: list[tuple[str, float]], k: int) -> bool:
    """``got`` (engine hits, score desc) matches the oracle's full ranking
    ``ranked``: same length, same scores rank by rank, and each tie group
    of equal scores holds the same urls (the engine breaks ties by its
    internal doc id, which the oracle does not model)."""
    exp = ranked[:k]
    if len(got) != len(exp):
        return False
    for (gu, gs), (_, es) in zip(got, exp):
        if not math.isclose(gs, es, rel_tol=RTOL):
            return False
    # tie groups: every returned url must score, in the oracle, exactly what
    # the engine reported
    oracle_score = dict(ranked)
    return all(
        u in oracle_score and math.isclose(oracle_score[u], s, rel_tol=RTOL)
        for u, s in got
    )
