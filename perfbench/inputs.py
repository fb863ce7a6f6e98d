"""Seeded inputs and the index-free BM25 oracle.

Nothing here imports ``pke_spark``: the corpus, the ingest batches, the
query pool and its Zipf draws, and the keyphrase documents come from
this file and the seed alone, so a change to the program cannot change
what the benchmark feeds it. The oracle re-implements the tokenizer
spec (camelCase split, lowercase, non-alphanumeric runs split) and BM25
(k1 = 1.2, b = 0.75, idf = ln(1 + (N - df + 0.5) / (df + 0.5)), scores
rounded to 6 decimals, ties by doc_id) from that spec, not from the
program's code.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np
import pandas as pd

# Independent random streams: one per input, all derived from the seed.
_S_VOCAB, _S_CODE, _S_INGEST, _S_QUERIES, _S_DRAWS, _S_PROSE = range(6)

HOT_TERMS = ("return", "def", "import")
_KEYWORDS = {"def", "import", "return", "class", "from", "self", "none",
             "true", "false", "if", "else", "for", "in", "and", "or", "not"}
_STOPWORDS = ("a", "an", "the", "and", "or", "of", "to", "in", "on", "for",
              "with", "is", "are", "was", "be", "as", "at", "by", "it",
              "this", "that", "from")

_ONSETS = ("b c d f g h j k l m n p r s t v w z br ch cl cr dr fl fr gl gr "
           "pl pr sc sh sk sl sp st th tr").split()
_NUCLEI = "a e i o u ai au ea ee ie io oa oo ou".split()
_CODAS = ("", "", "", "n", "r", "s", "t", "l", "x", "m", "nd", "rk", "st")

_ID_MULT = np.uint64(0x9E3779B97F4A7C15)
_ID_MASK = np.uint64((1 << 63) - 1)


def _rng(seed: int, stream: int, *extra: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, *extra])


def make_vocab(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words, none a keyword or a
    stopword; their order is their Zipf rank."""
    out: list[str] = []
    seen = _KEYWORDS | set(_STOPWORDS)
    while len(out) < n:
        m = 2 * (n - len(out)) + 64
        syl = rng.integers(1, 4, m)
        on = rng.integers(0, len(_ONSETS), (m, 3))
        nu = rng.integers(0, len(_NUCLEI), (m, 3))
        co = rng.integers(0, len(_CODAS), m)
        for i in range(m):
            w = "".join(_ONSETS[on[i, j]] + _NUCLEI[nu[i, j]]
                        for j in range(syl[i])) + _CODAS[co[i]]
            if len(w) > 2 and w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def zipf_probs(n: int, s: float = 1.07, q: float = 2.7) -> np.ndarray:
    p = 1.0 / np.power(np.arange(n) + q, s)
    return p / p.sum()


def doc_ids(seed: int, start: int, n: int) -> np.ndarray:
    """Sparse 63-bit ids: an odd multiplier is a bijection mod 2**63, so
    distinct counters give distinct ids (base and ingest ids never
    collide because their counters are disjoint)."""
    off = np.uint64(int(_rng(seed, _S_VOCAB, 1).integers(0, 1 << 62)))
    c = np.arange(start, start + n, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return ((c * _ID_MULT + off) & _ID_MASK).astype(np.int64)


class CodeCorpus:
    """Seeded source-code-like corpus: ``return`` in every doc, ``def``
    in about half and ``import`` in about a third (the hot terms that
    exercise the build's salting), identifiers drawn Zipf-skewed from a
    12 k-word vocabulary and written camelCase, snake_case or bare."""

    VOCAB = 12_000

    def __init__(self, seed: int):
        self.seed = seed
        self.vocab = make_vocab(_rng(seed, _S_VOCAB), self.VOCAB)
        self._p = zipf_probs(self.VOCAB)

    def _ident(self, w: list[str], style: int) -> str:
        if style == 0 or len(w) == 1:
            return w[0]
        if style == 1:
            return w[0] + "".join(x.capitalize() for x in w[1:])
        return "_".join(w)

    def docs(self, start: int, n: int,
             marker: str | None = None) -> pd.DataFrame:
        """``n`` docs with id counters ``start..start+n-1``. An ingest
        batch passes a ``marker``, written into every doc so the batch
        can be found after a refresh, and draws from its own stream."""
        rng = _rng(self.seed, _S_CODE if marker is None else _S_INGEST,
                   start)
        n_stmt = rng.geometric(0.2, n)
        n_words = rng.integers(1, 3, n_stmt.sum() * 3 + 8 * n)
        words = rng.choice(self.VOCAB, n_words.sum(), p=self._p)
        styles = rng.integers(0, 3, len(n_words))
        flags = rng.random((n, 3))
        vocab = self.vocab
        texts = []
        wi = ii = 0

        def ident() -> str:
            nonlocal wi, ii
            k = n_words[ii]
            s = self._ident([vocab[j] for j in words[wi:wi + k]], styles[ii])
            wi += k
            ii += 1
            return s

        for d in range(n):
            lines = []
            if flags[d, 0] < 0.35:
                lines.append(f"import {ident()}.{ident()}")
            if flags[d, 1] < 0.2:
                lines.append(f"class {ident().capitalize()}:")
            if flags[d, 2] < 0.55:
                lines.append(f"def {ident()}({ident()}, {ident()}):")
            if marker is not None:
                lines.append(f"    # {marker}")
            for _ in range(n_stmt[d]):
                lines.append(f"    {ident()} = {ident()}({ident()})")
            lines.append(f"    return {ident()}")
            texts.append("\n".join(lines) + "\n")
        return pd.DataFrame({"doc_id": doc_ids(self.seed, start, n),
                             "text": texts})


def prose_docs(seed: int, n: int, part: int = 0) -> pd.DataFrame:
    """Seeded natural-language-like documents for the keyphrase
    operators: sentences of Zipf-drawn words with stopwords between
    them (so candidate phrases form), 3-8 sentences per doc. Each
    ``part`` is a different draw over the same vocabulary, with its own
    doc ids."""
    rng = _rng(seed, _S_PROSE, 0, part)
    vocab = make_vocab(_rng(seed, _S_PROSE, 1), 4000)
    p = zipf_probs(len(vocab), s=1.0, q=8.0)
    texts = []
    for _ in range(n):
        sents = []
        for _s in range(int(rng.integers(3, 9))):
            k = int(rng.integers(8, 17))
            content = rng.choice(len(vocab), k, p=p)
            stop = rng.random(k) < 0.3
            sw = rng.integers(0, len(_STOPWORDS), k)
            toks = [_STOPWORDS[sw[i]] if stop[i] else vocab[content[i]]
                    for i in range(k)]
            toks[0] = toks[0].capitalize()
            sents.append(" ".join(toks) + ".")
        texts.append(" ".join(sents))
    ids = (np.arange(n, dtype=np.int64) + part * 1_000_000) * 7 + 3
    return pd.DataFrame({"doc_id": ids, "text": texts})


# ---------------------------------------------------------------- oracle

_CAMEL1 = re.compile(r"([a-z0-9])([A-Z])")
_CAMEL2 = re.compile(r"([A-Z]+)([A-Z][a-z])")
_NON_ALNUM = re.compile(r"[^a-z0-9]+")


def tokenize(text: str) -> list[str]:
    """The code tokenizer spec, written from its definition."""
    t = _CAMEL2.sub(r"\1 \2", _CAMEL1.sub(r"\1 \2", text)).lower()
    return _NON_ALNUM.sub(" ", t).split()


class Bm25Oracle:
    """Exhaustive BM25 over the raw docs: no index, no Spark."""

    K1, B = 1.2, 0.75

    def __init__(self, docs: pd.DataFrame):
        self.ids = docs["doc_id"].to_numpy(np.int64)
        post: dict[str, tuple[list[int], list[int]]] = {}
        dl = np.empty(len(self.ids), np.float64)
        for i, text in enumerate(docs["text"]):
            toks = tokenize(text)
            dl[i] = len(toks)
            for t, c in Counter(toks).items():
                e = post.setdefault(t, ([], []))
                e[0].append(i)
                e[1].append(c)
        self.post = {t: (np.asarray(d), np.asarray(c, np.float64))
                     for t, (d, c) in post.items()}
        self.dl = dl
        self.avgdl = float(dl.sum()) / len(dl)

    def topk(self, terms: list[str], k: int = 10,
             must: list[str] = (), must_not: list[str] = (),
             live: np.ndarray | None = None) -> list[tuple[int, float]]:
        """(doc_id, score) top-k; ``live`` is a bool mask of docs that
        are not deleted (corpus statistics stay those of all docs)."""
        n = len(self.ids)
        acc = np.zeros(n)
        hit = np.zeros(n, bool)
        for t in sorted(set(terms)):
            if t not in self.post:
                continue
            d, tf = self.post[t]
            idf = math.log(1.0 + (n - len(d) + 0.5) / (len(d) + 0.5))
            acc[d] += idf * (tf * (self.K1 + 1.0)) / (
                tf + self.K1 * (1.0 - self.B + self.B * self.dl[d]
                                / self.avgdl))
            hit[d] = True
        for t in must:
            m = np.zeros(n, bool)
            if t in self.post:
                m[self.post[t][0]] = True
            hit &= m
        for t in must_not:
            if t in self.post:
                hit[self.post[t][0]] = False
        if live is not None:
            hit &= live
        idx = np.flatnonzero(hit)
        sc = np.round(acc[idx], 6)
        order = np.lexsort((self.ids[idx], -sc))[:k]
        return [(int(self.ids[idx[j]]), float(sc[j])) for j in order]


def same_topk(got: list[tuple[int, float]],
              want: list[tuple[int, float]], tol: float = 2e-6) -> bool:
    """Rank lists agree: same length, scores equal within ``tol`` rank
    by rank, same doc at every rank whose score is not tied (within
    ``tol``) with a neighbour."""
    if len(got) != len(want):
        return False
    for (_gd, gs), (_wd, ws) in zip(got, want):
        if abs(gs - ws) > tol:
            return False
    ws = [s for _d, s in want]
    for i, ((gd, _gs), (wd, _w)) in enumerate(zip(got, want)):
        tied = any(abs(ws[i] - ws[j]) <= tol
                   for j in (i - 1, i + 1) if 0 <= j < len(ws))
        if not tied and gd != wd:
            return False
    return ({d for d, s in got if abs(s - ws[-1]) > tol}
            == {d for d, s in want if abs(s - ws[-1]) > tol})


# ------------------------------------------------------------ query pool

def query_pool(seed: int, docs: pd.DataFrame,
               n: int = 200) -> list[tuple[str, object]]:
    """``n`` distinct interactive operations as (kind, args), the same
    number of each kind: ``search`` / ``boolean`` / ``querystring`` /
    ``phrase`` (a query string with a quoted phrase) / ``snippet``.
    Terms come
    from the corpus' own df ranking: hot (the keywords), mid (ranks
    20-400), rare (df <= 3) and missing (never indexed)."""
    rng = _rng(seed, _S_QUERIES)
    df: Counter = Counter()
    for text in docs["text"]:
        df.update(set(tokenize(text)))
    by_df = sorted(df, key=lambda t: (-df[t], t))
    hot = list(HOT_TERMS)
    mid = by_df[20:400]
    rare = [t for t in by_df[-3000:] if df[t] <= 3] or by_df[-50:]
    missing = [w + "qz" for w in make_vocab(rng, 20)]

    def pick(xs, k=1):
        # distinct terms: a query may not require and exclude one term
        return [xs[int(i)] for i in rng.choice(len(xs), k, replace=False)]

    def bigram() -> str:
        # an adjacent token pair that occurs in some doc, so phrases match
        while True:
            toks = tokenize(docs["text"].iloc[int(rng.integers(len(docs)))])
            toks = [t for t in toks if t not in _KEYWORDS]
            if len(toks) >= 2:
                i = int(rng.integers(len(toks) - 1))
                return f"{toks[i]} {toks[i + 1]}"

    shapes = {
        "search": [lambda: pick(mid, 2), lambda: pick(mid, 3),
                   lambda: pick(hot, 1) + pick(mid, 1),
                   lambda: pick(rare, 1) + pick(mid, 1),
                   lambda: pick(missing, 1) + pick(rare, 1),
                   lambda: pick(hot, 2)],
        "boolean": [lambda: (lambda t: ([t[0]], t[1:], []))(pick(mid, 3)),
                    lambda: (lambda t: ([t[0]], [t[1]], ["import"]))(
                        pick(mid, 2))],
        "querystring": [
            lambda: " ".join("+" + t for t in pick(mid, 2)),
            lambda: "{} {} -{}".format(*pick(mid, 3)),
            lambda: pick(mid, 1)[0][:3] + "* " + pick(mid, 1)[0],
            lambda: pick(mid, 1)[0] + "~1"],
        "phrase": [lambda: f'"{bigram()}"',
                   lambda: f'"{bigram()}" {pick(mid, 1)[0]}'],
        "snippet": [lambda: pick(mid, 2)],
    }
    ops: list[tuple[str, object]] = []
    seen = set()
    for kind, fns in shapes.items():
        want = len(ops) + n // len(shapes)
        for i in range(100 * n):
            if len(ops) == want:
                break
            args = fns[i % len(fns)]()
            if (kind, repr(args)) not in seen:
                seen.add((kind, repr(args)))
                ops.append((kind, args))
    order = rng.permutation(len(ops))
    return [ops[i] for i in order]


def op_draws(seed: int, pool: list, n: int, kinds: tuple) -> np.ndarray:
    """``n`` seeded pool indices: draw ``j`` is of kind
    ``kinds[j % len(kinds)]``, a Zipf-skewed choice among that kind's
    entries (repeats hit the reader's caches)."""
    rng = _rng(seed, _S_DRAWS)
    out = np.empty(n, np.int64)
    for j, k in enumerate(kinds):
        idx = np.asarray([i for i, (kind, _a) in enumerate(pool)
                          if kind == k])
        m = len(range(j, n, len(kinds)))
        out[j::len(kinds)] = idx[rng.choice(len(idx), m,
                                            p=zipf_probs(len(idx), 1.0, 1.0))]
    return out
