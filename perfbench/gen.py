"""Seeded input generator of the benchmark.

Everything the engine receives in a run comes from here and from the
`--seed` argument alone: the corpus `(repo, path, commit, lang, content)`
and each workload's request and append streams. The generator imports
nothing from the engine, so a change to the engine cannot change its own
inputs.

Corpus shape (the engine's corpus fixture): source-code-like lines of
camelCase and snake_case identifiers built from a seeded syllable
vocabulary drawn with Zipf skew, plus about 25% hot-keyword slots
(`import`, `return`, `def`, `public`) so hot-term posting lists exist.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import random
from dataclasses import dataclass, field

HOT = ["import", "return", "def", "public"]
LANGS = ["python", "java", "scala", "go", "js"]
LANG_WEIGHTS = [0.35, 0.25, 0.15, 0.15, 0.10]
EXT = {"python": "py", "java": "java", "scala": "scala", "go": "go", "js": "js"}
N_ORGS, N_REPOS = 7, 23
N_SYLLABLES = 1500  # vocabulary size
ZIPF_S = 1.1  # skew of the syllable draw
MIN_LINES, MAX_LINES = 5, 40  # lines per doc

# serve_single request mix: one 20-slot cycle, interleaved so that any
# prefix of the schedule longer than a few requests already mixes kinds.
# Shares: text 30%, text_hot 10%, fq 15%, bool 10%, prefix 10%,
# wildcard 5%, fuzzy 5%, phrase 10%, page 5%.
SINGLE_CYCLE = [
    "text", "fq", "text_hot", "bool", "prefix", "text", "phrase", "fq",
    "wildcard", "text", "page", "bool", "text", "fq", "fuzzy", "text_hot",
    "prefix", "text", "phrase", "text",
]
SINGLE_KINDS = ["text", "text_hot", "fq", "bool", "prefix", "wildcard",
                "fuzzy", "phrase", "page"]
BATCH_KINDS = ["search_many", "search_many_fq", "prefix_search_many",
               "phrase_search_many"]
ROWS = 10
PAGE_START = 10
N_FQ_PREDICATES = 48


@dataclass(frozen=True)
class Predicate:
    """One fq filter: its SQL text for the engine and its meaning for the
    oracle (`column` equals `value`, or starts with it when `prefix`)."""
    column: str
    value: str
    prefix: bool = False

    @property
    def sql(self) -> str:
        if self.prefix:
            return f"{self.column} LIKE '{self.value}%'"
        return f"{self.column} = '{self.value}'"

    def matches(self, row: "Doc") -> bool:
        v = getattr(row, self.column)
        return v.startswith(self.value) if self.prefix else v == self.value


@dataclass(frozen=True)
class Doc:
    repo: str
    path: str
    commit: str
    lang: str
    content: str

    @property
    def key(self) -> tuple[str, str, str]:
        return (self.repo, self.path, self.commit)

    def as_row(self) -> tuple[str, str, str, str, str]:
        return (self.repo, self.path, self.commit, self.lang, self.content)


@dataclass
class Request:
    """One single request. `kind` is the schedule label (fq requests are
    labelled fq_cold on the first use of their predicate since the engine
    opened and fq_warm on every repeat)."""
    kind: str
    text: str = ""
    fq: Predicate | None = None
    must: list[str] = field(default_factory=list)
    must_not: list[str] = field(default_factory=list)
    start: int = 0
    max_edits: int = 1


def _syllables(rng: random.Random, n: int) -> list[str]:
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    out: set[str] = set()
    while len(out) < n:
        k = rng.choice((1, 2, 2, 3))
        s = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(k))
        if rng.random() < 0.3:
            s += rng.choice(cons)
        if s not in HOT:
            out.add(s)
    vocab = sorted(out)
    rng.shuffle(vocab)  # rank order for the Zipf draw
    return vocab


class Generator:
    """All inputs of one run, as a pure function of the seed."""

    def __init__(self, seed: int):
        self.seed = seed
        self.vocab = _syllables(random.Random(f"vocab-{seed}"), N_SYLLABLES)
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(N_SYLLABLES)]
        self._cum = list(itertools.accumulate(weights))
        preds = ([Predicate("lang", lang) for lang in LANGS]
                 + [Predicate("repo", f"org{o}/", prefix=True)
                    for o in range(N_ORGS)])
        repos = sorted({f"org{i % N_ORGS}/repo{i % N_REPOS}"
                        for i in range(N_ORGS * N_REPOS)})
        rng = random.Random(f"fq-{seed}")
        preds += [Predicate("repo", r) for r in
                  rng.sample(repos, N_FQ_PREDICATES - len(preds))]
        rng.shuffle(preds)  # Zipf rank order
        self.predicates = preds
        fq_w = [1.0 / (r + 1) for r in range(len(preds))]
        self._fq_cum = list(itertools.accumulate(fq_w))

    # -- vocabulary draws ---------------------------------------------------

    def _zipf_syllable(self, rng: random.Random) -> str:
        x = rng.random() * self._cum[-1]
        return self.vocab[bisect.bisect_left(self._cum, x)]

    def _identifier(self, rng: random.Random) -> str:
        parts = [self._zipf_syllable(rng) for _ in range(rng.choice((1, 2, 2, 3)))]
        if rng.random() < 0.5:
            return parts[0] + "".join(p.capitalize() for p in parts[1:])
        return "_".join(parts)

    def _hot(self, rng: random.Random) -> str:
        # Zipf-like over the four keywords: import > return > def > public
        return HOT[min(int(rng.paretovariate(1.0)) - 1, len(HOT) - 1)]

    # -- corpus -------------------------------------------------------------

    def doc(self, i: int, version: int = 0) -> Doc:
        """Doc number `i`; `version` > 0 is an overwrite of the same
        (repo, path) with a new commit and new content."""
        rng = random.Random(f"doc-{self.seed}-{i}-{version}")
        repo = f"org{i % N_ORGS}/repo{i % N_REPOS}"
        lang = random.Random(f"lang-{self.seed}-{i}").choices(
            LANGS, LANG_WEIGHTS)[0]
        path = f"src/dir{i % 37}/mod{i}.{EXT[lang]}"
        commit = hashlib.sha1(
            f"{repo}|{path}|{self.seed}|{version}".encode()).hexdigest()
        # line counts sweep a fixed range by doc number, so corpus size
        # does not vary with the seed
        n_lines = MIN_LINES + (i * 7) % (MAX_LINES - MIN_LINES + 1)
        lines = []
        for _ in range(n_lines):
            words = [self._hot(rng) if rng.random() < 0.25
                     else self._identifier(rng)
                     for _ in range(rng.randint(2, 8))]
            lines.append(" ".join(words))
        return Doc(repo, path, commit, lang, "\n".join(lines))

    def corpus(self, n: int) -> list[Doc]:
        return [self.doc(i) for i in range(n)]

    def append_batches(self, n_base: int, n_batches: int, batch_size: int,
                       overwrite_share: float) -> list[list[Doc]]:
        """Micro-batches for the ingest stream. Each batch adds new docs and
        overwrites `overwrite_share` of its size worth of existing
        (repo, path) keys, drawn from every doc indexed so far — so later
        batches also overwrite docs of earlier batches. Keys are distinct
        within a batch."""
        rng = random.Random(f"append-{self.seed}")
        version: dict[int, int] = {}
        next_i = n_base
        batches = []
        for _ in range(n_batches):
            n_over = int(round(batch_size * overwrite_share))
            targets = rng.sample(range(next_i), n_over)
            batch = []
            for i in targets:
                version[i] = version.get(i, 0) + 1
                batch.append(self.doc(i, version[i]))
            for i in range(next_i, next_i + batch_size - n_over):
                batch.append(self.doc(i))
            next_i += batch_size - n_over
            rng.shuffle(batch)
            batches.append(batch)
        return batches

    # -- requests -----------------------------------------------------------

    def _terms(self, rng: random.Random, n: int, lo: int, hi: int) -> list[str]:
        """n distinct syllables drawn uniformly from Zipf ranks [lo, hi)."""
        return rng.sample(self.vocab[lo:hi], n)

    def _fq(self, rng: random.Random) -> Predicate:
        x = rng.random() * self._fq_cum[-1]
        return self.predicates[bisect.bisect_left(self._fq_cum, x)]

    def _prefix(self, rng: random.Random) -> str:
        s = self._terms(rng, 1, 20, 400)[0]
        return s[:2] if len(s) < 5 else s[:3]

    def _phrase(self, rng: random.Random, docs: list[Doc], tokenize) -> str:
        """Two adjacent distinct tokens of a random doc (so the phrase
        matches at least once and cannot overlap itself)."""
        while True:
            toks = tokenize(rng.choice(docs).content)
            j = rng.randrange(len(toks) - 1)
            if toks[j] != toks[j + 1]:
                return f"{toks[j]} {toks[j + 1]}"

    def request(self, kind: str, rng: random.Random, docs: list[Doc],
                tokenize) -> Request:
        n_vocab = len(self.vocab)
        if kind == "text":  # rare terms: the Zipf tail
            return Request(kind, " ".join(
                self._terms(rng, rng.randint(1, 3), 300, n_vocab)))
        if kind == "text_hot":
            return Request(kind, " ".join(
                [rng.choice(HOT)] + self._terms(rng, rng.randint(1, 2), 0, 20)))
        if kind == "fq":
            return Request(kind, " ".join(self._terms(rng, 2, 50, 600)),
                           fq=self._fq(rng))
        if kind == "bool":
            # fixed rank bands keep the restriction's size alike across seeds
            return Request(kind, " ".join(self._terms(rng, 2, 50, 150)),
                           must=self._terms(rng, 1, 3, 10),
                           must_not=self._terms(rng, 1, 30, 60))
        if kind == "prefix":
            return Request(kind, self._prefix(rng))
        if kind == "wildcard":
            s = self._terms(rng, 1, 10, 300)[0]
            j = rng.randrange(1, len(s))
            pat = s[:j] + "?" + s[j + 1:] if rng.random() < 0.5 else s[:j] + "*"
            return Request(kind, pat)
        if kind == "fuzzy":
            s = list(self._terms(rng, 1, 10, 400)[0])
            s[rng.randrange(1, len(s))] = rng.choice("aeiou")
            return Request(kind, "".join(s), max_edits=1)
        if kind == "phrase":
            return Request(kind, self._phrase(rng, docs, tokenize))
        if kind == "page":
            return Request(kind, " ".join(self._terms(rng, 2, 0, 300)),
                           start=PAGE_START)
        raise ValueError(f"unknown request kind {kind!r}")

    def single_schedule(self, n: int, docs: list[Doc],
                        tokenize) -> list[Request]:
        """The serve_single closed-loop schedule: kinds follow SINGLE_CYCLE,
        contents are seeded. fq requests alternate between the first use of
        a predicate (fq_cold) and a repeat of one already used (fq_warm),
        both drawn with the Zipf skew, so every run holds the same mix of
        cold and warm filters."""
        rng = random.Random(f"single-loop-{self.seed}")
        used: list[Predicate] = []
        out = []
        n_fq = 0
        for j in range(n):
            r = self.request(SINGLE_CYCLE[j % len(SINGLE_CYCLE)], rng, docs,
                             tokenize)
            if r.kind == "fq":
                n_fq += 1
                if n_fq % 2 == 1 and len(used) < len(self.predicates):
                    while r.fq in used:
                        r.fq = self._fq(rng)
                    used.append(r.fq)
                    r.kind = "fq_cold"
                else:
                    r.fq = rng.choices(used, [
                        1.0 / (self.predicates.index(p) + 1) for p in used])[0]
                    r.kind = "fq_warm"
            out.append(r)
        return out

    def batch_texts(self, n: int, label: str) -> dict[str, str]:
        """search_many batch: n queries of 2-5 Zipf-drawn terms, hot
        keywords included at their corpus share."""
        rng = random.Random(f"batch-{label}-{self.seed}")
        out = {}
        for q in range(n):
            words = [rng.choice(HOT) if rng.random() < 0.25
                     else self._zipf_syllable(rng)
                     for _ in range(rng.randint(2, 5))]
            out[f"{label}{q:05d}"] = " ".join(words)
        return out

    def batch_prefixes(self, n: int, label: str) -> dict[str, str]:
        rng = random.Random(f"prefix-{label}-{self.seed}")
        return {f"{label}{q:05d}": self._prefix(rng) for q in range(n)}

    def batch_phrases(self, n: int, label: str, docs: list[Doc],
                      tokenize) -> dict[str, str]:
        rng = random.Random(f"phrase-{label}-{self.seed}")
        return {f"{label}{q:05d}": self._phrase(rng, docs, tokenize)
                for q in range(n)}

    def batch_restriction(self):
        """The shared fq + must/must_not of the search_many_fq batch. Its
        predicate is not one of the 48 single-request predicates, so the
        single-request fq cache stays cold/warm exactly as scheduled."""
        rng = random.Random(f"restrict-{self.seed}")
        return (Predicate("lang", "j", prefix=True), self._terms(rng, 1, 3, 10),
                self._terms(rng, 1, 30, 60))
