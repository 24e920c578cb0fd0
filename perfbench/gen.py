"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine comes from here, as a pure
function of the seed: a Zipf corpus with lognormal document lengths, a
variant with planted near-duplicates, a query stream and wildcard
patterns. The engine only ever sees the parquet files written here;
it never learns which workload it is serving.

Text is lowercase synthetic words with capitalised sentence starts,
commas, periods and English function words (all on the engine's stopword
list), so the tokenizer's lowercase, split and stopword paths all run.
"""

from __future__ import annotations

import os

import numpy as np

# Function words mixed into the text; every one is an engine stopword.
FUNCTION_WORDS = (
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
    "as", "with", "was", "on", "be", "by", "this", "are", "from", "or",
)
FUNCTION_SHARE = 0.3
ZIPF_S = 1.0
ZIPF_Q = 2.7  # Zipf-Mandelbrot offset: flattens the head like real text
LOGLEN_MU, LOGLEN_SIGMA = 5.0, 0.6  # median ~148 tokens per document
PARTS = 8  # files per generated table, so a scan has parallel splits

_ONSETS = np.array(list("bcdfghjklmnprstvwz") + ["ch", "sh", "th", "tr", "st", "pl", "gr"])
_VOWELS = np.array(list("aeiou") + ["ai", "ea", "ou"])
_CODAS = np.array(["", "", "", "n", "r", "s", "t", "l", "m", "x"])


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct pronounceable lowercase words, in Zipf rank order.

    Ranks get lengths by a fixed golden-ratio walk over the words sorted
    by length, so the length at each rank, and with it the corpus size,
    hardly depends on the seed; only the letters do."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = size - len(words)
        syll = np.char.add(
            np.char.add(
                _ONSETS[rng.integers(0, len(_ONSETS), (n, 4))],
                _VOWELS[rng.integers(0, len(_VOWELS), (n, 4))],
            ),
            _CODAS[rng.integers(0, len(_CODAS), (n, 4))],
        ).tolist()
        for k, parts in zip(rng.integers(1, 5, n).tolist(), syll):
            w = "".join(parts[:k])
            if len(w) >= 3 and w not in seen:
                seen.add(w)
                words.append(w)
    by_len = sorted(words, key=len)
    walk = np.argsort(np.argsort(np.arange(size) * 0.6180339887498949 % 1.0, kind="stable"), kind="stable")
    return [by_len[i] for i in walk]


def zipf_probs(n: int) -> np.ndarray:
    p = 1.0 / (np.arange(n) + ZIPF_Q) ** ZIPF_S
    return p / p.sum()


def _render(rng: np.random.Generator, toks: list[str]) -> str:
    """Space-joined tokens with capitalised sentence starts, commas and
    periods every 6-20 tokens."""
    i, n = 0, len(toks)
    while i < n:
        end = min(n, i + int(rng.integers(6, 21)))
        toks[i] = toks[i].capitalize()
        toks[end - 1] += "."
        if end - i > 8:
            toks[i + int(rng.integers(2, end - i - 2))] += ","
        i = end
    return " ".join(toks)


def corpus(seed: int, n_docs: int, vocab_size: int) -> tuple[list[str], list[str]]:
    """(vocabulary, texts) for doc ids 1..n_docs."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng, vocab_size)
    lens = np.maximum(3, rng.lognormal(LOGLEN_MU, LOGLEN_SIGMA, n_docs).astype(np.int64))
    total = int(lens.sum())
    ids = rng.choice(vocab_size, size=total, p=zipf_probs(vocab_size))
    func = rng.random(total) < FUNCTION_SHARE
    fids = rng.integers(0, len(FUNCTION_WORDS), total)
    vocab_arr = np.array(vocab, dtype=object)
    func_arr = np.array(FUNCTION_WORDS, dtype=object)
    words = np.where(func, func_arr[fids], vocab_arr[ids])
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [_render(rng, words[offs[d]:offs[d + 1]].tolist()) for d in range(n_docs)]
    return vocab, texts


def near_dup_corpus(
    seed: int, n_base: int, vocab_size: int, dup_share: float = 0.1, window: int = 150
) -> tuple[list[str], list[str]]:
    """A corpus where ``dup_share`` of the documents are perturbed copies
    of others: 2-15% of the copy's tokens are replaced and a few dropped,
    so its 3-shingle Jaccard to the source spans the near-dup threshold.
    A copy lands up to ``window`` documents after its source, so any
    prefix of the corpus holds pairs, within one batch or across two."""
    vocab, texts = corpus(seed, n_base, vocab_size)
    rng = np.random.default_rng([seed, 2])
    n_dup = int(round(n_base * dup_share))
    srcs = rng.choice(n_base, n_dup, replace=False)
    copies = []
    for src in srcs:
        toks = texts[int(src)].split(" ")
        rate = rng.uniform(0.02, 0.15)
        for j in np.flatnonzero(rng.random(len(toks)) < rate):
            toks[j] = vocab[int(rng.integers(0, vocab_size))]
        keep = rng.random(len(toks)) >= rate / 3
        copies.append(" ".join(t for t, k in zip(toks, keep) if k))
    pos = np.concatenate([np.arange(n_base), srcs + rng.uniform(0.5, window, n_dup)])
    allt = texts + copies
    return vocab, [allt[i] for i in np.argsort(pos, kind="stable")]


# Ranked-query terms cycle through these classes so every run of a few
# dozen queries sees the same mix of heavy (head) and light (tail, miss)
# posting lists: head = the most frequent 0.2% of words, torso = the
# rest of the top 10%, tail = the rest; a miss is no corpus word, stop a
# stopword.
TERM_CYCLE = ("head", "torso", "miss", "head", "tail", "torso", "head", "stop", "torso", "tail", "head", "torso")
_BANDS = {"head": (0.0, 0.002), "torso": (0.002, 0.1), "tail": (0.1, 1.0)}


WILDCARD_EVERY = 5  # the reference REPL's mix is mostly ranked queries


def queries(seed: int, vocab: list[str], n: int) -> list[tuple[str, str]]:
    """A seeded query stream of (kind, text), kind 'ranked' or 'wildcard'.

    Every ``WILDCARD_EVERY``-th query is a wildcard, cycling
    ``pre*``, ``*suf`` and ``pre*suf`` with 2- or 3-letter cuts of
    Zipf-drawn vocabulary words. Ranked queries alternate 1 and 2 terms,
    each Zipf-drawn within its ``TERM_CYCLE`` class, with mixed case and
    punctuation mixed in at random. Only the words depend on the seed:
    the fixed mix keeps a short run's latency median from depending on
    how many heavy or light queries the seed happened to draw."""
    rng = np.random.default_rng([seed, 3])
    p = zipf_probs(len(vocab))

    def zipf_word(lo: float = 0.0, hi: float = 1.0) -> str:
        lo = int(lo * len(vocab))
        band = p[lo:max(lo + 1, int(hi * len(vocab)))]
        return vocab[lo + int(rng.choice(len(band), p=band / band.sum()))]

    out: list[tuple[str, str]] = []
    n_terms = n_wild = 0
    for i in range(n):
        if i % WILDCARD_EVERY == WILDCARD_EVERY - 1:
            w = zipf_word()
            while len(w) < 5:
                w = zipf_word()
            cut = 2 + n_wild % 2
            pat = (w[:cut] + "*", "*" + w[-cut:], w[:2] + "*" + w[-cut:])[n_wild % 3]
            n_wild += 1
            out.append(("wildcard", pat))
            continue
        terms = []
        for _ in range(1 + len(out) % 2):
            cls = TERM_CYCLE[n_terms % len(TERM_CYCLE)]
            n_terms += 1
            if cls == "miss":
                t = "zq" + vocab[int(rng.integers(0, len(vocab)))]
            elif cls == "stop":
                t = FUNCTION_WORDS[int(rng.integers(0, len(FUNCTION_WORDS)))]
            else:
                t = zipf_word(*_BANDS[cls])
            r = rng.random()
            if r < 0.15:
                t = t.capitalize()
            elif r < 0.2:
                t = t.upper()
            if rng.random() < 0.1:
                t += ",!?."[int(rng.integers(0, 4))]
            terms.append(t)
        out.append(("ranked", " ".join(terms)))
    return out


DOCUMENTS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write_part(texts: list[str], first_id: int, path: str) -> None:
    """One parquet file of ``texts`` in the engine's documents schema,
    doc ids counting up from ``first_id``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array(range(first_id, first_id + len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["perfbench"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, path, compression="snappy")


def write_documents(texts: list[str], sf_dir: str, parts: int = PARTS) -> int:
    """Write ``texts`` (doc ids 1..N) as ``<sf_dir>/documents.parquet``,
    a directory of ``parts`` files. Returns the raw text bytes."""
    out = os.path.join(sf_dir, "documents.parquet")
    os.makedirs(out, exist_ok=True)
    bounds = np.linspace(0, len(texts), parts + 1).astype(int).tolist()
    for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
        _write_part(texts[a:b], 1 + a, os.path.join(out, f"part-{i:05d}.parquet"))
    return sum(len(t.encode()) for t in texts)


def write_batches(texts: list[str], out_dir: str, batch_docs: int) -> list[str]:
    """Split ``texts`` (doc ids 1..N) into one file per ``batch_docs``
    documents, for a file stream to take one per trigger."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, a in enumerate(range(0, len(texts), batch_docs)):
        paths.append(os.path.join(out_dir, f"part-{i:05d}.parquet"))
        _write_part(texts[a:a + batch_docs], 1 + a, paths[-1])
    return paths
