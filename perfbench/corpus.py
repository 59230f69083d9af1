"""Seeded, vectorised corpus generator for the benchmark workloads.

Every input is a function of ``(workload, seed, size)`` only: the same
arguments give byte-identical parquet. Inputs are cached on disk under
the benchmark's work directory, together with their measured shape
(``shape.json``) and the ground truth the output checks need
(``truth.json``: planted duplicate ids and the like). The program under
test only ever sees ``docs.parquet`` (and, for curation, the held-out
``heldout.parquet``).

Text is built from a ranked vocabulary drawn with a Zipf law; the
vocabulary is fixed, the seed picks the documents. English-like
text puts the ten Gopher stop words at the top ranks, so a stated share of
documents passes the Gopher rules and the curation funnel cannot collapse.
"""

from __future__ import annotations

import hashlib
import json
import os
import string
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

K = 8  # shingle width the workloads count (KmConfig default)

# the Gopher stop words (kmtricks_spark.functions.text.STOPWORDS["en"]),
# placed at the top Zipf ranks in this order
EN_STOPWORDS = ["the", "of", "and", "to", "a", "in", "is", "that", "it", "for"]

_CONSONANTS = list("bcdfghjklmnprstvwz")
_VOWELS = list("aeiouy")
_ACCENTED_VOWELS = list("aeiouéèêàâôûüïç")
_CYRILLIC = [chr(c) for c in range(0x430, 0x450)]
_CJK = [chr(c) for c in range(0x4E00, 0x4E00 + 3000)]

# (documents per sample, or in all for curate_web; tokens per document) at
# each size; "warm" is the small corpus of the same shape that set-up runs
# once before timing
SIZES = {
    "build_web": {"full": (48, 170), "warm": (2, 170)},
    "query_index": {"full": (48, 170)},
    "build_multilingual_skewed": {"full": (12, 520), "warm": (1, 520)},
    "curate_web": {"full": (700, 190), "warm": (100, 190)},
}
WORKLOADS = tuple(SIZES)
# bump when the text a given (workload, seed, size) produces changes
GENERATOR_VERSION = 3
VOCAB_SEED = 20240917


@dataclass(frozen=True)
class Corpus:
    """Paths of one generated input; ``shape`` is measured, not assumed."""

    dir: str
    docs: str
    shape: dict
    truth: dict

    @property
    def heldout(self) -> str:
        return os.path.join(self.dir, "heldout.parquet")


# ------------------------------------------------------------- vocabulary

def _syllable_words(rng, n: int, vowels: list[str], min_syl=1, max_syl=4) -> np.ndarray:
    """n distinct pronounceable pseudo-words (consonant-vowel syllables)."""
    out: list[str] = []
    seen: set[str] = set(EN_STOPWORDS)
    while len(out) < n:
        m = 2 * (n - len(out))
        syl = rng.integers(min_syl, max_syl + 1, size=m)
        cons = rng.choice(_CONSONANTS, size=(m, max_syl))
        vows = rng.choice(vowels, size=(m, max_syl))
        tail = rng.random(m) < 0.3
        last = rng.choice(_CONSONANTS, size=m)
        for i in range(m):
            w = "".join(c + v for c, v in zip(cons[i, : syl[i]], vows[i, : syl[i]]))
            if tail[i]:
                w += last[i]
            if len(w) >= 2 and w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return np.array(out, dtype=object)


def _alphabet_words(rng, n: int, alphabet: list[str], lo: int, hi: int) -> np.ndarray:
    lens = rng.integers(lo, hi + 1, size=n)
    chars = rng.choice(alphabet, size=(n, hi))
    words = {"".join(chars[i, : lens[i]]) for i in range(n)}
    return np.array(sorted(words), dtype=object)


class Vocab:
    """Ranked words with Zipf(s) rank probabilities; ``draw`` is vectorised."""

    def __init__(self, words: np.ndarray, s: float, sep: str = " "):
        self.words = words
        ranks = np.arange(1, len(words) + 1, dtype=np.float64)
        p = ranks ** -s
        self.cdf = np.cumsum(p / p.sum())
        self.sep = sep
        self.period = np.array([w + "." for w in words], dtype=object)

    def draw(self, rng, n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, rng.random(n)), len(self.words) - 1)

    def docs(self, rng, lengths: np.ndarray, period_every: float = 14.0) -> list[str]:
        """One string per entry of ``lengths`` (tokens per document).
        Roughly one token in ``period_every`` ends a sentence."""
        idx = self.draw(rng, int(lengths.sum()))
        toks = self.words[idx]
        ends = rng.random(idx.size) < 1.0 / period_every
        toks[ends] = self.period[idx[ends]]
        bounds = np.concatenate([[0], np.cumsum(lengths)])
        sep = self.sep
        return [sep.join(toks[a:b].tolist()) for a, b in zip(bounds[:-1], bounds[1:])]


def english_vocab(rng, n_words: int, s: float = 1.0) -> Vocab:
    return Vocab(
        np.concatenate([np.array(EN_STOPWORDS, dtype=object),
                        _syllable_words(rng, n_words, _VOWELS)]),
        s,
    )


# ------------------------------------------------------------- workloads

def _doc_lengths(rng, n: int, mean_tokens: int) -> np.ndarray:
    """Token counts, normal around the mean with a standard deviation of an
    eighth of it (never below 60, so an English document clears Gopher's
    50-word floor)."""
    return np.maximum(60, rng.normal(mean_tokens, mean_tokens / 8, size=n)).astype(np.int64)


def _web(rng, vrng, docs_per_sample: int, tokens: int) -> dict:
    """build_web / query_index: 16 equal samples of ASCII English-like
    text, ~1 KB per document. The vocabulary size is set so that about
    30% of all 8-grams are distinct."""
    n_samples = 16
    vocab = english_vocab(vrng, 2500, s=1.22)
    n = n_samples * docs_per_sample
    texts = vocab.docs(rng, _doc_lengths(rng, n, tokens))
    source = np.repeat([f"s{i:02d}" for i in range(n_samples)], docs_per_sample)
    return {"texts": texts, "source": source.tolist(), "truth": {}}


_BOILERPLATE_LINES = 12


def _multilingual(rng, vrng, docs_per_sample: int, tokens: int) -> dict:
    """build_multilingual_skewed: ~60% multi-byte documents (Cyrillic,
    CJK, accented Latin), several KB each; one sample holds about half of
    all documents; every document carries shared header/footer
    boilerplate, which keeps the distinct 8-gram share low."""
    n_samples = 8
    en = english_vocab(vrng, 1500, s=1.2)
    langs = {
        "en": en,
        "ru": Vocab(_alphabet_words(vrng, 1500, _CYRILLIC, 2, 9), 1.2),
        "zh": Vocab(_alphabet_words(vrng, 1500, _CJK, 1, 3), 1.2),
        "fr": Vocab(np.concatenate([np.array(["le", "la", "de", "et"], dtype=object),
                                    _syllable_words(vrng, 1500, _ACCENTED_VOWELS)]), 1.2),
    }
    share = {"en": 0.4, "ru": 0.2, "zh": 0.2, "fr": 0.2}
    # sample 0 holds half of all documents, the rest share the other half
    per = [docs_per_sample * (n_samples - 1)] + [docs_per_sample] * (n_samples - 1)
    n = sum(per)
    # exact shares, in a seeded order
    lang_of = np.repeat(list(share), [round(v * n) for v in share.values()])
    lang_of = rng.permutation(np.resize(lang_of, n))
    lengths = _doc_lengths(rng, n, tokens)
    texts = [""] * n
    for lang, vocab in langs.items():
        sel = np.flatnonzero(lang_of == lang)
        for i, t in zip(sel, vocab.docs(rng, lengths[sel])):
            texts[i] = t
    # boilerplate: about a kilobyte of navigation/cookie text per page,
    # drawn from a small shared pool
    pool = en.docs(vrng, np.full(_BOILERPLATE_LINES, 80))
    head = rng.integers(0, _BOILERPLATE_LINES, size=n)
    foot = rng.integers(0, _BOILERPLATE_LINES, size=n)
    texts = [f"{pool[h]} {t} {pool[f]}" for h, t, f in zip(head, texts, foot)]
    source = np.repeat([f"s{i:02d}" for i in range(n_samples)], per)
    return {"texts": texts, "source": source.tolist(), "truth": {}}


def _near_copy(rng, text: str, vocab: Vocab, share: float = 0.02) -> str:
    toks = text.split(" ")
    pos = rng.choice(len(toks), size=max(1, int(len(toks) * share)), replace=False)
    repl = vocab.words[vocab.draw(rng, pos.size)]
    for p, w in zip(pos, repl):
        toks[p] = w
    return " ".join(toks)


def _curation(rng, vrng, n_docs: int, tokens: int) -> dict:
    """curate_web: English-like pages with ~15% Gopher failures (too
    short or symbol-heavy), ~20% planted exact duplicates, ~10% planted
    near-duplicates (2% of words replaced) and ~3% documents quoting a
    passage from the held-out set (decontamination hits)."""
    vocab = english_vocab(vrng, 12000, s=1.0)
    n_exact, n_near = int(0.2 * n_docs), int(0.1 * n_docs)
    n_contam, n_heldout = int(0.03 * n_docs), 40
    n_orig = n_docs - n_exact - n_near
    texts = vocab.docs(rng, _doc_lengths(rng, n_orig, tokens))
    # Gopher failures among the originals: half too short, half symbol-heavy
    n_fail = int(0.15 * n_orig)
    fail = rng.choice(n_orig, size=n_fail, replace=False)
    for j, i in enumerate(fail):
        toks = texts[i].split(" ")
        if j % 2:
            texts[i] = " ".join(toks[:30])
        else:
            texts[i] = " ".join(t + " |" if k % 3 == 0 else t for k, t in enumerate(toks))
    heldout = vocab.docs(rng, np.full(n_heldout, 60))
    ok = np.setdiff1d(np.arange(n_orig), fail)
    for i in rng.choice(ok, size=n_contam, replace=False):
        h = heldout[rng.integers(n_heldout)].split(" ")
        toks = texts[i].split(" ")
        at = int(rng.integers(0, len(toks)))
        texts[i] = " ".join(toks[:at] + h[10:30] + toks[at:])
    src_exact = rng.choice(n_orig, size=n_exact)
    src_near = rng.choice(ok, size=n_near)
    texts += [texts[i] for i in src_exact]
    texts += [_near_copy(rng, texts[i], vocab) for i in src_near]
    # shuffle so planted copies are not all at the end of the id space
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    origin = np.concatenate([np.arange(n_orig), src_exact, src_near])[order]
    # a planted exact copy is the document of its text with the higher id:
    # the survivor of an identical-text group is its minimum doc_id
    first_id: dict[str, int] = {}
    exact_drop = []
    for doc_id, t in enumerate(texts):
        if t in first_id:
            exact_drop.append(doc_id)
        else:
            first_id[t] = doc_id
    source = [f"site{int(o) % 40:02d}.example" for o in origin]
    truth = {
        "exact_dup_ids": exact_drop,
        "planted_exact": n_exact,
        "planted_near": n_near,
        "planted_contaminated": n_contam,
    }
    return {"texts": texts, "source": source, "truth": truth, "heldout": heldout}


_BUILDERS = {
    "build_web": _web,
    "query_index": _web,
    "build_multilingual_skewed": _multilingual,
    "curate_web": _curation,
}


# ------------------------------------------------------------- shape

def gopher_pass(text: str) -> bool:
    """The five public Gopher rules as kmtricks_spark.functions.text
    applies them (whitespace tokens), re-stated in plain Python."""
    toks = [t for t in text.split(" ") if t]
    n = max(len(toks), 1)
    mean_wl = len(text.replace(" ", "")) / n
    alpha = sum(any(c in string.ascii_letters for c in t) for t in toks)
    keep = set(string.ascii_letters + string.digits + " ")
    symbols = sum(c not in keep for c in text)
    stops = len(set(toks) & set(EN_STOPWORDS))
    return (50 <= len(toks) <= 100000 and 3.0 <= mean_wl <= 10.0
            and alpha / n >= 0.8 and symbols / n <= 0.10 and stops >= 2)


def measure_shape(docs_path: str, truth: dict, duck) -> dict:
    """Measured input shape (DuckDB over the written parquet)."""
    rel = f"read_parquet('{docs_path}')"
    n_docs, text_bytes, kgrams, non_ascii = duck.execute(
        f"SELECT count(*), sum(strlen(text)), sum(greatest(length(text) - {K - 1}, 0)),"
        f" avg((strlen(text) <> length(text))::INT) FROM {rel}"
    ).fetchone()
    distinct = duck.execute(
        f"SELECT count(DISTINCT substring(text, p, {K})) FROM"
        f" (SELECT text, unnest(range(1, length(text) - {K - 2})) AS p FROM {rel})"
    ).fetchone()[0]
    top = duck.execute(
        f"SELECT max(c) FROM (SELECT count(*) c FROM {rel} GROUP BY source)"
    ).fetchone()[0]
    texts = duck.execute(f"SELECT text FROM {rel}").fetchnumpy()["text"]
    return {
        "documents": int(n_docs),
        "text_bytes": int(text_bytes),
        "kgrams": int(kgrams),
        "distinct_kgram_share": round(distinct / max(kgrams, 1), 4),
        "non_ascii_doc_share": round(float(non_ascii), 4),
        "top_sample_share": round(top / n_docs, 4),
        "planted_exact_dups": truth.get("planted_exact", 0),
        "planted_near_dups": truth.get("planted_near", 0),
        "gopher_pass_share": round(float(np.mean([gopher_pass(t) for t in texts])), 4),
    }


# ------------------------------------------------------------- cache

def _write_docs(path: str, texts: list[str], source: list[str], rows_per_group: int):
    n = len(texts)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "url": pa.array([f"https://{s}/p/{i}" for i, s in enumerate(source)]),
        "source": pa.array(source, pa.string()),
        "text": pa.array(texts, pa.string()),
    })
    # several files, so the scan spreads over the cores
    os.makedirs(path, exist_ok=True)
    n_files = 8
    for f in range(n_files):
        part = table.slice(f * n // n_files, (f + 1) * n // n_files - f * n // n_files)
        pq.write_table(part, os.path.join(path, f"part-{f:02d}.parquet"),
                       row_group_size=rows_per_group, compression="snappy")


def generate(workload: str, seed: int, work_dir: str, size: str = "full", duck=None) -> Corpus:
    """Generate (or load from the cache) the input of one workload."""
    if workload not in _BUILDERS:
        raise ValueError(f"unknown workload {workload!r}; one of {WORKLOADS}")
    # the cache key names the generator's parameters, so a changed
    # generator never reads an input cached by an older one
    params = json.dumps([GENERATOR_VERSION, SIZES[workload][size]])
    digest = hashlib.sha1(params.encode()).hexdigest()[:10]
    d = os.path.join(work_dir, "corpus", f"{workload}-{size}-{seed}-{digest}")
    docs = os.path.join(d, "docs.parquet")
    shape_p, truth_p = os.path.join(d, "shape.json"), os.path.join(d, "truth.json")
    if not os.path.exists(shape_p):
        key = sorted(_BUILDERS).index(workload)
        # the vocabulary (the "language") is the same for every seed; the
        # documents drawn from it are the seed's
        vrng = np.random.default_rng([VOCAB_SEED, key])
        rng = np.random.default_rng([seed, key])
        g = _BUILDERS[workload](rng, vrng, *SIZES[workload][size])
        _write_docs(docs, g["texts"], g["source"], rows_per_group=64)
        if "heldout" in g:
            pq.write_table(pa.table({"text": pa.array(g["heldout"], pa.string())}),
                           os.path.join(d, "heldout.parquet"))
        with open(truth_p, "w") as f:
            json.dump(g["truth"], f)
        shape = measure_shape(os.path.join(docs, "*.parquet"), g["truth"], duck)
        with open(shape_p + ".tmp", "w") as f:
            json.dump(shape, f, indent=1)
        os.replace(shape_p + ".tmp", shape_p)
    with open(shape_p) as f, open(truth_p) as g2:
        return Corpus(d, docs, json.load(f), json.load(g2))
