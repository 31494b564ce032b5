"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments (numpy Philox
streams keyed by the seed), so the same ``--seed`` gives byte-identical
corpora and query streams. Nothing here touches Spark: the workloads
hand the generated rows to the engine's public API.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np

from information_retrieval_spark.normalize import normalize

_ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "t", "v", "z",
           "br", "kl", "st", "tr", "pl"]
_VOWELS = ["a", "o", "u", "i"]
# syntax tokens a code file carries; all normalize to None and are dropped
_PUNCT = ["{", "}", "(", ")", "=", ";", "==", "->", "+=", "//"]
# the planted phrase every ~10th code doc carries
PHRASE = ("quick_sort", "merge_step", "heap_push")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=[seed, stream]))


@functools.lru_cache(maxsize=4)
def identifiers(n: int, seed: int) -> tuple:
    """`n` distinct code-like identifiers (`kalo_trumi`, `zopa`) that
    are fixed points of the engine's normalizer, so a generated token
    is its own index term."""
    rng = _rng(seed, 1)
    syl = [o + v for o in _ONSETS for v in _VOWELS]
    out, seen = [], set()
    while len(out) < n:
        k = int(rng.integers(2, 5))
        parts = rng.integers(0, len(syl), k)
        word = "".join(syl[p] for p in parts)
        if rng.random() < 0.3:
            cut = int(rng.integers(1, k)) * 2
            word = word[:cut] + "_" + word[cut:]
        if word in seen or normalize(word) != word or len(word) < 3:
            continue
        seen.add(word)
        out.append(word)
    return tuple(out)


def zipf_cdf(n: int, s: float = 1.05, q: float = 2.7) -> np.ndarray:
    """Zipf-Mandelbrot rank distribution over `n` ranks, as a CDF."""
    w = 1.0 / (np.arange(n) + q) ** s
    return np.cumsum(w / w.sum())


def code_corpus(n_docs: int, seed: int, first: int = 0,
                vocab_size: int = 30000, mean_tokens: int = 120) -> list:
    """Rows in the engine's `documents` shape
    (repo, path, commit, lang, content) for docs `first .. first +
    n_docs - 1`: Zipf identifier stream with lognormal doc lengths
    (n_docs * mean_tokens tokens in all),
    syntax tokens, digit-bearing hashes the admission filter drops, and
    the planted PHRASE in every ~10th doc. File names are unique
    (`f<i>.<ext>`), so a result's `name` column identifies its doc. One
    seed shares one vocabulary across every `first`."""
    rng = _rng(seed, 1000 + first)
    vocab = np.array(identifiers(vocab_size, seed), dtype=object)
    cdf = zipf_cdf(vocab_size)
    # lognormal doc lengths, rescaled so that the docs hold n_docs *
    # mean_tokens tokens in total: every seed gives the same amount of
    # work, and only which docs are long varies
    raw = rng.lognormal(np.log(mean_tokens), 0.6, n_docs)
    lens = np.maximum(8, (raw * (n_docs * mean_tokens / raw.sum()))
                      .astype(np.int64))
    lens[np.argmax(lens)] += n_docs * mean_tokens - lens.sum()
    ids = np.searchsorted(cdf, rng.random(int(lens.sum())))
    toks = vocab[np.minimum(ids, vocab_size - 1)]
    kind = rng.random(len(toks))
    punct = np.array(_PUNCT, dtype=object)
    toks = np.where(kind < 0.12, punct[rng.integers(0, len(punct), len(toks))],
                    toks)
    ends = np.cumsum(lens)
    langs = ["java", "py", "c", "go", "rs"]
    rows = []
    for k in range(n_docs):
        i = first + k
        doc = list(toks[ends[k] - lens[k]: ends[k]])
        if rng.random() < 0.03:
            doc.append("0x" + hashlib.sha256(f"{seed}:{i}".encode()).hexdigest()[:14])
        if i % 10 == 3:
            at = int(rng.integers(0, len(doc)))
            doc[at:at] = list(PHRASE)
        lang = langs[i % len(langs)]
        rows.append((f"org{i % 5}/repo{i % 17}", f"src/m{i % 13}/f{i}.{lang}",
                     hashlib.sha256(f"c{seed}:{i}".encode()).hexdigest()[:40],
                     lang, " ".join(doc)))
    return rows


def query_stream(n: int, seed: int, vocab_size: int = 30000,
                 many_batch: int = 8) -> list:
    """A seeded request sequence, (kind, payload), that the workloads
    draw their checked and probed queries from: ~75% `bm25` over 1-4
    terms mixing Zipf-head and tail terms (the mix WAND pruning and the
    driver term cache depend on); ~17% set queries cycling boolean,
    positional, phrase and joker; ~8% `bm25_many` batches of
    `many_batch` queries."""
    rng = _rng(seed, 3)
    vocab = identifiers(vocab_size, seed)
    cdf = zipf_cdf(vocab_size)

    def term(head: bool) -> str:
        if head:
            return vocab[int(rng.integers(0, 60))]
        return vocab[min(vocab_size - 1,
                         int(np.searchsorted(cdf, rng.uniform(0.55, 0.95))))]

    def free_text() -> str:
        k = int(rng.integers(1, 5))
        return " ".join(term(rng.random() < 0.5) for _ in range(k))

    out, set_kind = [], 0
    for _ in range(n):
        r = rng.random()
        if r < 0.75:
            out.append(("bm25", free_text()))
        elif r < 0.92:
            kind = ("boolean", "positional", "phrase", "joker")[set_kind % 4]
            set_kind += 1
            a, b, c = term(True), term(False), term(True)
            q = {"boolean": f"{a} AND {b} OR {c} AND NOT {a}",
                 "positional": f"{a} /3 {c}",
                 "phrase": " ".join(PHRASE[:int(rng.integers(2, 4))]),
                 "joker": f"{b[:2]}*{b[-1]} {c}"}[kind]
            out.append((kind, q))
        else:
            out.append(("many", {f"q{j}": free_text()
                                 for j in range(many_batch)}))
    return out


# -- curate: near-copies on the sampled testdata documents -------------------

def plant_duplicates(rows: list, seed: int, copy_share: float = 0.08,
                     span_share: float = 0.1, span_tokens: int = 60) -> list:
    """The sampled testdata documents, `rows` in the `documents.parquet`
    shape (doc_id, text, lang, source, n_chars), with the inputs the
    near-dup and duplicated-span operators exist to find planted on top:
    a shared `span_tokens`-token span, drawn from the sample's own
    words, inserted into a `span_share` of the docs, and near-copies of
    a `copy_share` of them (one token in 40, at least one, replaced by
    another of the sample's words). New docs get doc_ids above the
    sample's."""
    rng = _rng(seed, 4)
    texts = [r[1] for r in rows]
    words = [w for t in texts for w in t.split()]
    span = " ".join(words[int(i)] for i in
                    rng.integers(0, len(words), span_tokens))
    for i in rng.choice(len(rows), int(len(rows) * span_share),
                        replace=False):
        toks = texts[int(i)].split(" ")
        toks.insert(int(rng.integers(0, len(toks) + 1)), span)
        texts[int(i)] = " ".join(toks)
    out = [(r[0], t, r[2], r[3], len(t)) for r, t in zip(rows, texts)]
    # each copied doc is copied once, so every planted near-duplicate
    # cluster is one pair
    next_id = max(r[0] for r in rows) + 1
    for k, src in enumerate(rng.choice(len(rows), int(len(rows) * copy_share),
                                       replace=False)):
        toks = texts[int(src)].split(" ")
        for p in rng.integers(0, len(toks), max(1, len(toks) // 40)):
            toks[int(p)] = words[int(rng.integers(0, len(words)))]
        t = " ".join(toks)
        out.append((next_id + k, t, rows[int(src)][2], rows[int(src)][3],
                    len(t)))
    return out


def gap_arrays(n_lists: int, seed: int, mean_len: int = 2000) -> list:
    """Seeded posting-list gap arrays (docID gaps: mostly small, a
    heavy tail) for the codec microprobe."""
    rng = _rng(seed, 5)
    lens = np.maximum(1, rng.geometric(1.0 / mean_len, n_lists))
    return [np.minimum(rng.zipf(1.6, int(n)), 1 << 40).astype(np.int64)
            for n in lens]
