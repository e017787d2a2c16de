"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed
writes byte-identical parquet files and returns the same ground truth.

* :func:`make_corpus` builds a document corpus with a chosen
  exact-duplicate factor (docs / distinct texts), planted near copies,
  heavy-tailed lengths and clustered vectors, and records the planted
  pairs. The texts use an English-like vocabulary with stopwords so the
  corpus passes the quality funnel.
* :func:`make_batch` builds a day-N ingest batch: fresh docs mixed with
  exact and near copies of corpus docs, with the copy pairs recorded.
* :func:`write_sf_dir` writes a corpus as the ``documents`` /
  ``embeddings`` pair next to the star-schema tables of the engine's
  fixture (``perfbench/data/sf*``, copied unchanged).
"""

from __future__ import annotations

import hashlib
import itertools
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMB_DIM = 64
N_CLUSTERS = 16
STOPWORDS = ("the", "and", "of", "to", "in", "is", "that", "with", "for", "on")
# content words the registry's text queries look for (bm25 terms etc.)
ENGINE_WORDS = (
    "table query join stream spark window merge column vector value data "
    "small filter big group hash customer sort order slow line part fast "
    "row agg key scan batch"
).split()
_ONSETS = ("b", "c", "d", "f", "g", "h", "l", "m", "n", "p", "r", "s", "t", "v", "w")
_NUCLEI = ("a", "e", "i", "o", "u", "ai", "ou")
_CODAS = ("", "n", "r", "s", "t", "l")


def _vocabulary() -> list[str]:
    """Fixed content vocabulary: the engine words plus ~4k pronounceable
    two-syllable words (independent of the seed)."""
    sylls = [o + n + c for o, n, c in itertools.product(_ONSETS, _NUCLEI, _CODAS)]
    words = list(ENGINE_WORDS)
    seen = set(words) | set(STOPWORDS)
    for a, b in itertools.product(sylls[::3], sylls[1::5]):
        w = a + b
        if w not in seen:
            seen.add(w)
            words.append(w)
        if len(words) >= 4000:
            break
    return words


VOCAB = _vocabulary()
# Zipf-like weights: common words are common, the tail is long
_ZIPF = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.95
_ZIPF /= _ZIPF.sum()


def _texts(rng: np.random.Generator, n_tokens: np.ndarray) -> list[str]:
    """One text per entry of ``n_tokens``; about a quarter stopwords."""
    total = int(n_tokens.sum())
    content = rng.choice(len(VOCAB), size=total, p=_ZIPF)
    stop = rng.integers(0, len(STOPWORDS), size=total)
    is_stop = rng.random(total) < 0.25
    vocab = np.array(VOCAB, dtype=object)
    stops = np.array(STOPWORDS, dtype=object)
    toks = np.where(is_stop, stops[stop], vocab[content])
    out, pos = [], 0
    for n in n_tokens:
        doc = toks[pos : pos + n]
        pos += n
        doc[0] = "the"  # every doc carries an English stopword
        out.append(" ".join(doc))
    return out


def _doc_lengths(rng: np.random.Generator, n: int) -> np.ndarray:
    """Heavy-tailed token counts: log-normal quantiles (median ~60,
    clipped to [24, 260] so long docs stay under the funnel's repetition
    limit) in seeded order, so every seed has the same length mix."""
    q = (np.arange(n) + 0.5) / n
    z = np.sqrt(2) * _erfinv(2 * q - 1)
    lengths = np.clip(np.exp(np.log(60) + 0.7 * z), 24, 260).astype(int)
    return rng.permutation(lengths)


def _erfinv(y: np.ndarray) -> np.ndarray:
    """Inverse error function (Giles' single-precision approximation)."""
    w = -np.log((1.0 - y) * (1.0 + y))
    small = w < 5.0
    ws, wl = w - 2.5, np.sqrt(np.maximum(w, 5.0)) - 3.0
    ps = np.polyval([2.81022636e-08, 3.43273939e-07, -3.5233877e-06,
                     -4.39150654e-06, 0.00021858087, -0.00125372503,
                     -0.00417768164, 0.246640727, 1.50140941], ws)
    pl = np.polyval([-0.000200214257, 0.000100950558, 0.00134934322,
                     -0.00367342844, 0.00573950773, -0.0076224613,
                     0.00943887047, 1.00167406, 2.83297682], wl)
    return np.where(small, ps, pl) * y


def near_copy(rng: np.random.Generator, text: str) -> str:
    """Substitute one token in 40 (at least one) with a fresh word."""
    toks = text.split(" ")
    n_sub = max(1, len(toks) // 40)
    for i in rng.choice(np.arange(1, len(toks)), size=n_sub, replace=False):
        toks[i] = VOCAB[int(rng.integers(len(ENGINE_WORDS), len(VOCAB)))] + "x"
    return " ".join(toks)


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


@dataclass
class Corpus:
    """A generated document set and its ground truth."""

    doc_id: list[int]
    text: list[str]
    vec: np.ndarray  # float32 [n, EMB_DIM], rows aligned with doc_id
    exact_pairs: list[tuple[int, int]] = field(default_factory=list)  # (copy, original)
    near_pairs: list[tuple[int, int]] = field(default_factory=list)  # (copy, original)

    @property
    def dup_factor(self) -> float:
        return len(self.text) / len(set(self.text))

    def content_hash(self) -> str:
        h = hashlib.sha256()
        for i, t in zip(self.doc_id, self.text):
            h.update(f"{i}\t{t}\n".encode())
        h.update(np.ascontiguousarray(self.vec).tobytes())
        return h.hexdigest()


def make_corpus(
    seed: int, n_docs: int, dup_factor: float = 3.0, near_share: float = 0.2
) -> Corpus:
    """``n_docs`` docs with ``n_docs / dup_factor`` distinct texts.

    Of the distinct texts, ``near_share`` are near copies of an original
    and the rest are originals. Every other doc is an exact copy of an
    original; copy counts per original are heavy-tailed. Doc ids are a
    seeded permutation of ``0 .. n_docs`` so copies and originals
    interleave. Vectors sit around ``N_CLUSTERS`` seeded centroids;
    copies get their original's vector plus small noise."""
    rng = np.random.default_rng(seed)
    n_distinct = max(2, round(n_docs / dup_factor))
    n_near = round(n_distinct * near_share)
    n_orig = n_distinct - n_near
    n_exact = n_docs - n_distinct
    base = _texts(rng, _doc_lengths(rng, n_orig))
    # heavy-tailed copy counts: a fixed Zipf-shaped allocation of the
    # copies, assigned to originals in seeded order
    w = 1.0 / np.arange(1, n_orig + 1) ** 0.8
    counts = np.floor(w / w.sum() * n_exact).astype(int)
    counts[: n_exact - counts.sum()] += 1
    src = list(range(n_orig))  # which original each row copies
    src += list(np.repeat(rng.permutation(n_orig), counts))
    near_src = rng.choice(n_orig, size=n_near, replace=False)
    texts = [base[s] for s in src] + [near_copy(rng, base[s]) for s in near_src]
    src += list(near_src)
    kind = ["orig"] * n_orig + ["exact"] * n_exact + ["near"] * n_near

    ids = rng.permutation(n_docs)
    # the lowest id among an original's exact copies plays "original"
    owner: dict[int, int] = {}
    for row in range(n_orig + n_exact):
        s = src[row]
        owner[s] = min(owner.get(s, ids[row]), ids[row])
    exact_pairs, near_pairs = [], []
    for row, k in enumerate(kind):
        o = owner[src[row]]
        if k == "near":
            near_pairs.append((int(ids[row]), int(o)))
        elif ids[row] != o:
            exact_pairs.append((int(ids[row]), int(o)))

    centroids = _unit(rng.normal(size=(N_CLUSTERS, EMB_DIM)))
    base_vec = _unit(
        centroids[rng.integers(0, N_CLUSTERS, n_orig)]
        + 0.35 * rng.normal(size=(n_orig, EMB_DIM))
    )
    vec = _unit(base_vec[src] + 0.01 * rng.normal(size=(n_docs, EMB_DIM)))
    order = np.argsort(ids)
    return Corpus(
        doc_id=[int(ids[i]) for i in order],
        text=[texts[i] for i in order],
        vec=vec[order].astype(np.float32),
        exact_pairs=sorted(exact_pairs),
        near_pairs=sorted(near_pairs),
    )


def documents_table(c: Corpus, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    n = len(c.doc_id)
    langs = np.array(["en", "de", "fr", "es", "zh"])
    return pa.table({
        "doc_id": pa.array(c.doc_id, pa.int64()),
        "text": pa.array(c.text, pa.string()),
        "lang": pa.array(langs[rng.choice(5, n, p=[0.6, 0.1, 0.1, 0.1, 0.1])]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in c.text], pa.int64()),
    })


def embeddings_table(c: Corpus, labels: np.ndarray) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(c.doc_id, pa.int64()),
        "embedding": pa.array(list(c.vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def make_batch(seed: int, corpus: Corpus, n: int, first_id: int,
               copy_share: float = 0.3) -> Corpus:
    """One day-N batch of ``n`` docs with ids from ``first_id``: about
    ``copy_share`` of them are copies of ``corpus`` docs (half exact,
    half near), the rest fresh docs from the same generator. The copy
    pairs point at corpus doc ids."""
    rng = np.random.default_rng(seed)
    fresh = make_corpus(seed, n, dup_factor=1.0, near_share=0.0)
    n_copy = round(n * copy_share)
    src = rng.choice(len(corpus.doc_id), size=n_copy, replace=False)
    texts, vecs = list(fresh.text), fresh.vec.copy()
    exact_pairs, near_pairs = [], []
    for row, k in enumerate(src):
        orig = corpus.doc_id[k]
        if row % 2 == 0:
            texts[row] = corpus.text[k]
            exact_pairs.append((first_id + row, orig))
        else:
            texts[row] = near_copy(rng, corpus.text[k])
            near_pairs.append((first_id + row, orig))
        vecs[row] = _unit(corpus.vec[k] + 0.01 * rng.normal(size=EMB_DIM))
    return Corpus(
        doc_id=[first_id + i for i in range(n)],
        text=texts,
        vec=vecs,
        exact_pairs=exact_pairs,
        near_pairs=near_pairs,
    )


def write_sf_dir(out_dir: str, tables_dir: str, seed: int, corpus: Corpus) -> None:
    """A complete sf directory: the star-schema tables copied from
    ``tables_dir`` (the engine's fixture) plus ``corpus`` as the
    ``documents`` / ``embeddings`` pair."""
    os.makedirs(out_dir, exist_ok=True)
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            shutil.copyfile(os.path.join(tables_dir, f), os.path.join(out_dir, f))
    labels = np.abs(np.rint(corpus.vec[:, 0] * 10)).astype(np.int32) % 10
    pq.write_table(documents_table(corpus, seed), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings_table(corpus, labels), os.path.join(out_dir, "embeddings.parquet"))
