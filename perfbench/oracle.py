"""Output checks of the benchmark: an indexed twin of the engine's
brute-force BM25 oracle, the benchmark's own multi-term expansion and
phrase matcher, and the tie-aware top-k comparison.

`Oracle.scores` computes exactly what `liresolr_spark.oracle.
brute_force_topk` computes (same formula, same per-doc summation order, so
the same floats) but tokenizes the corpus once instead of on every call;
the benchmark's self-tests hold the two equal. Restrictions (fq, must,
must_not, tombstones) are evaluated here, by the benchmark, and never
read back from the engine.
"""

from __future__ import annotations

import heapq
import math
import re
from collections import Counter

K1, B = 1.2, 0.75
REL_TOL = 1e-9
MAX_EXPANSIONS = 16


def close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(b))


def levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class Oracle:
    """BM25 statistics over `docs` — the docs the index counts in N, avgdl
    and df (tombstoned docs included until compaction drops them)."""

    def __init__(self, docs, tokenize):
        self.docs = list(docs)
        self.tokens = [tokenize(d.content) for d in self.docs]
        self.tf = [Counter(t) for t in self.tokens]
        self.n = len(self.docs)
        self.avgdl = sum(len(t) for t in self.tokens) / max(self.n, 1)
        self.index = {d.key: i for i, d in enumerate(self.docs)}
        self.postings: dict[str, list[int]] = {}
        for i, tf in enumerate(self.tf):
            for t in tf:
                self.postings.setdefault(t, []).append(i)
        self.tokenize = tokenize

    def df(self, term: str) -> int:
        return len(self.postings.get(term, ()))

    def _idf(self, df: int) -> float:
        return math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))

    def scores(self, terms: list[str]) -> dict[int, float]:
        """doc index -> BM25 score of the OR-of-terms query, summed in
        query-term order (brute_force_topk's order)."""
        out: dict[int, float] = {}
        for t, qtf in Counter(terms).items():
            df = self.df(t)
            if df == 0:
                continue
            idf = self._idf(df)
            for i in self.postings[t]:
                tf = self.tf[i][t]
                dl = len(self.tokens[i])
                out[i] = out.get(i, 0.0) + qtf * idf * tf * (K1 + 1.0) / (
                    tf + K1 * (1.0 - B + B * dl / self.avgdl))
        return {i: s for i, s in out.items() if s > 0.0}

    def phrase_scores(self, phrase: str) -> dict[int, float]:
        """Phrase as one BM25 clause: tf = number of match positions,
        df = number of matching docs (no restriction applied)."""
        q = self.tokenize(phrase)
        m = len(q)
        cand = set.intersection(*(set(self.postings.get(t, ())) for t in q))
        freq = {}
        for i in cand:
            toks = self.tokens[i]
            c = sum(1 for j in range(len(toks) - m + 1) if toks[j:j + m] == q)
            if c:
                freq[i] = c
        if not freq:
            return {}
        idf = self._idf(len(freq))
        out = {}
        for i, tf in freq.items():
            dl = len(self.tokens[i])
            out[i] = idf * tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * dl / self.avgdl))
        return out

    def contains_phrase(self, key, phrase: str) -> bool:
        q = self.tokenize(phrase)
        i = self.index.get(key)
        if i is None:
            return False
        toks = self.tokens[i]
        return any(toks[j:j + len(q)] == q
                   for j in range(len(toks) - len(q) + 1))

    def eligible(self, scores: dict[int, float], allowed=None) -> dict:
        """{key: score} of every scored doc passing `allowed` (a set of doc
        indices, None = all)."""
        return {self.docs[i].key: s for i, s in scores.items()
                if allowed is None or i in allowed}

    # -- restriction, evaluated by the benchmark ------------------------------

    def allowed(self, live=None, fq=None, must=(), must_not=()) -> set[int] | None:
        """Doc indices a restricted query may return: live docs (a set of
        keys, None = all) matching fq, holding every must term and no
        must_not term."""
        if live is None and fq is None and not must and not must_not:
            return None
        out = set()
        for i, d in enumerate(self.docs):
            if live is not None and d.key not in live:
                continue
            if fq is not None and not fq.matches(d):
                continue
            if any(t not in self.tf[i] for t in must):
                continue
            if any(t in self.tf[i] for t in must_not):
                continue
            out.add(i)
        return out

    # -- multi-term expansion: (df desc, term asc), capped -------------------

    def _top_terms(self, pred) -> list[str]:
        hits = [(t, len(p)) for t, p in self.postings.items() if pred(t)]
        hits.sort(key=lambda kv: (-kv[1], kv[0]))
        return [t for t, _ in hits[:MAX_EXPANSIONS]]

    def expand_prefix(self, prefix: str) -> list[str]:
        return self._top_terms(lambda t: t.startswith(prefix))

    def expand_wildcard(self, pattern: str) -> list[str]:
        rx = re.compile("".join(
            "[a-z0-9]" if c == "?" else "[a-z0-9]*" if c == "*"
            else re.escape(c) for c in pattern))
        return self._top_terms(lambda t: rx.fullmatch(t) is not None)

    def expand_fuzzy(self, term: str, max_edits: int) -> list[str]:
        return self._top_terms(
            lambda t: abs(len(t) - len(term)) <= max_edits
            and levenshtein(t, term) <= max_edits)


def compare_topk(got: list, scores: dict, start: int, rows: int) -> str | None:
    """None when `got` (engine rows as (key, score), in engine order) is a
    correct page [start, start+rows) of the docs in `scores` ({key: score}
    of every eligible doc); else a one-line reason. Docs tied on score may
    appear in any order and either side of a page boundary; everything
    else — a missing, extra, duplicated or reordered doc, or a wrong
    score — fails."""
    top = heapq.nsmallest(start + rows, scores.items(),
                          key=lambda kv: (-kv[1], kv[0]))
    expect = top[start:]
    if len(got) != len(expect):
        return f"{len(got)} rows, expected {len(expect)}"
    seen = set()
    for r, ((key, s), (_, ws)) in enumerate(zip(got, expect)):
        if not close(s, ws):
            return f"rank {start + r}: score {s!r} != {ws!r}"
        if key in seen:
            return f"rank {start + r}: duplicate {key}"
        seen.add(key)
        if key not in scores or not close(scores[key], s):
            return f"rank {start + r}: {key} is not a doc scoring {s!r}"
    return None
