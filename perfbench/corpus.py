"""Seeded input generation and the correctness model the benchmark checks
every answer against.

Everything here is pure Python/NumPy: the engine under test only ever
receives the generated documents, never the model.
"""

from __future__ import annotations

import bisect
import hashlib
import json
from dataclasses import dataclass, field

import numpy as np

CONSONANTS = "bcdfghjklmnprstvz"
VOWELS = "aeiou"
K2_LABELS = [f"grp{i:02d}" for i in range(24)]
K1_RANGE = 1000
ZIPF_S = 1.1


def vocabulary(seed: int, size: int) -> list[str]:
    """``size`` distinct lowercase pseudo-words, 4-8 letters (so none can
    be the ``and``/``or`` query keywords). Index 0 is the most frequent
    word under :func:`zipf_probs`."""
    rng = np.random.default_rng([seed, 1])
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 5))
        w = "".join(
            CONSONANTS[int(rng.integers(len(CONSONANTS)))]
            + VOWELS[int(rng.integers(len(VOWELS)))]
            for _ in range(n)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_probs(size: int) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** ZIPF_S
    return p / p.sum()


def embed_text(text: str, dims: int) -> np.ndarray:
    """Deterministic unit-free embedding of ``text``: a Gaussian vector
    seeded by the text's digest. Used for documents and query strings."""
    digest = hashlib.blake2b(text.encode(), digest_size=8).digest()
    rng = np.random.default_rng(int.from_bytes(digest, "little"))
    return rng.standard_normal(dims).astype(np.float32)


@dataclass
class EmbeddingFunction:
    """The collection's ``embedding_function``: list of texts → vectors."""

    dims: int

    def __call__(self, texts: list[str]) -> list[list[float]]:
        return [embed_text(t, self.dims).tolist() for t in texts]


def doc_id(i: int) -> str:
    return f"d{i:07d}"


@dataclass
class Doc:
    id: str
    tokens: list[str]
    meta: dict | None
    emb: np.ndarray | None = None

    @property
    def content(self) -> str:
        return " ".join(self.tokens)

    def meta_json(self) -> str | None:
        return None if self.meta is None else json.dumps(self.meta)

    def user_bytes(self) -> int:
        """Bytes of user data this document carries (id, content,
        metadata JSON, float32 embedding)."""
        n = len(self.id) + len(self.content.encode())
        if self.meta is not None:
            n += len(self.meta_json().encode())
        if self.emb is not None:
            n += 4 * len(self.emb)
        return n


class Generator:
    """Documents of ``words`` Zipf-drawn tokens with sparse ``k1``/``k2``
    metadata; every draw comes from one seeded stream."""

    def __init__(self, seed: int, vocab_size: int, words: int = 20, dims: int = 0):
        self.seed = seed
        self.vocab = vocabulary(seed, vocab_size)
        self.probs = zipf_probs(vocab_size)
        self.words = words
        self.dims = dims
        self.rng = np.random.default_rng([seed, 2])

    def draw_words(self, n: int) -> list[str]:
        idx = self.rng.choice(len(self.vocab), size=n, p=self.probs)
        return [self.vocab[i] for i in idx]

    def draw_meta(self) -> dict | None:
        meta = {}
        if self.rng.random() < 0.9:
            meta["k1"] = int(self.rng.integers(K1_RANGE))
        if self.rng.random() < 0.8:
            meta["k2"] = K2_LABELS[int(self.rng.integers(len(K2_LABELS)))]
        if not meta and self.rng.random() < 0.5:
            return None
        return meta

    def docs(self, start: int, n: int, plant: str | None = None,
             plant_share: float = 0.0) -> list[Doc]:
        """``n`` documents with ids ``start..start+n-1``. When ``plant``
        is given, each document carries it as its last token with
        probability ``plant_share``."""
        idx = self.rng.choice(len(self.vocab), size=(n, self.words), p=self.probs)
        embs = (
            self.rng.standard_normal((n, self.dims)).astype(np.float32)
            if self.dims else [None] * n
        )
        out = []
        for k in range(n):
            tokens = [self.vocab[i] for i in idx[k]]
            if plant is not None and self.rng.random() < plant_share:
                tokens[-1] = plant
            out.append(Doc(doc_id(start + k), tokens, self.draw_meta(), embs[k]))
        return out

    def near_copy(self, src: Doc, new_id: str, edits: int) -> Doc:
        """``src`` with ``edits`` tokens replaced by fresh draws."""
        tokens = list(src.tokens)
        for pos in self.rng.choice(len(tokens), size=edits, replace=False):
            tokens[int(pos)] = self.draw_words(1)[0]
        emb = (
            self.rng.standard_normal(self.dims).astype(np.float32)
            if self.dims else None
        )
        return Doc(new_id, tokens, self.draw_meta(), emb)


def write_parquet(docs: list[Doc], path: str) -> None:
    """Write ``docs`` as (id, content, metadata[, embedding]) parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        "id": pa.array([d.id for d in docs], pa.string()),
        "content": pa.array([d.content for d in docs], pa.string()),
        "metadata": pa.array([d.meta_json() for d in docs], pa.string()),
    }
    if docs and docs[0].emb is not None:
        dims = len(docs[0].emb)
        flat = np.concatenate([d.emb for d in docs]).astype(np.float32)
        cols["embedding"] = pa.FixedSizeListArray.from_arrays(
            pa.array(flat), dims
        ).cast(pa.list_(pa.float32()))
    pq.write_table(pa.table(cols), path)


# ----------------------------------------------------------------------
# the model
# ----------------------------------------------------------------------


@dataclass
class Model:
    """The live documents, with the inverted index needed to answer
    every benchmark query exactly."""

    docs: dict[str, Doc] = field(default_factory=dict)
    postings: dict[str, set[str]] = field(default_factory=dict)
    _terms: list[str] = field(default_factory=list)
    _terms_dirty: bool = False
    _emb_ids: list[str] | None = None
    _emb: np.ndarray | None = None

    def put(self, d: Doc) -> None:
        self.remove(d.id)
        self.docs[d.id] = d
        for t in set(d.tokens):
            s = self.postings.get(t)
            if s is None:
                self.postings[t] = s = set()
                self._terms_dirty = True
            s.add(d.id)
        self._emb = None

    def remove(self, i: str) -> None:
        old = self.docs.pop(i, None)
        if old is None:
            return
        for t in set(old.tokens):
            self.postings[t].discard(i)
        self._emb = None

    def __len__(self) -> int:
        return len(self.docs)

    def user_bytes(self) -> int:
        return sum(d.user_bytes() for d in self.docs.values())

    # -- full text ------------------------------------------------------

    def term(self, w: str) -> set[str]:
        return set(self.postings.get(w, ()))

    def prefix(self, p: str) -> set[str]:
        if self._terms_dirty or not self._terms:
            self._terms = sorted(self.postings)
            self._terms_dirty = False
        out: set[str] = set()
        i = bisect.bisect_left(self._terms, p)
        while i < len(self._terms) and self._terms[i].startswith(p):
            out |= self.postings[self._terms[i]]
            i += 1
        return out

    def phrase(self, words: list[str]) -> set[str]:
        cand = set.intersection(*(self.term(w) for w in words))
        n = len(words)
        out = set()
        for i in cand:
            toks = self.docs[i].tokens
            if any(toks[j:j + n] == words for j in range(len(toks) - n + 1)):
                out.add(i)
        return out

    # -- metadata -------------------------------------------------------

    def where(self, ids, where: dict) -> list[str]:
        return [i for i in ids if where_match(self.docs[i].meta, where)]

    def ordered(self, ids, order_by: str) -> list[str]:
        desc = order_by.startswith("-")
        key = order_by.lstrip("-")

        def val(i):
            m = self.docs[i].meta
            return None if m is None else m.get(key)

        present = [i for i in ids if val(i) is not None]
        missing = sorted(i for i in ids if val(i) is None)
        # id ascending breaks ties in either direction
        present.sort(key=lambda i: (val(i), i) if not desc else (_neg(val(i)), i))
        return missing + present if desc else present + missing

    # -- vectors --------------------------------------------------------

    def cosine(self, q: np.ndarray) -> tuple[list[str], np.ndarray]:
        if self._emb is None:
            self._emb_ids = [i for i, d in self.docs.items() if d.emb is not None]
            m = np.stack([self.docs[i].emb for i in self._emb_ids]).astype(np.float64)
            self._emb = m / np.linalg.norm(m, axis=1, keepdims=True)
        qv = q.astype(np.float64)
        return self._emb_ids, self._emb @ (qv / np.linalg.norm(qv))


def _neg(v):
    """Descending sort key for a metadata value of one type per key."""
    if isinstance(v, str):
        return tuple(-ord(c) for c in v) + (1,)
    return -v


def where_match(meta: dict | None, where: dict) -> bool:
    """The subset of the ``where`` language the benchmark issues: key →
    literal (equality) or ``{"$gte"|"$lt"|"$in": value}``. A missing key
    never matches."""
    for key, spec in where.items():
        v = None if meta is None else meta.get(key)
        if v is None:
            return False
        if not isinstance(spec, dict):
            spec = {"$eq": spec}
        for op, arg in spec.items():
            ok = {
                "$eq": lambda: v == arg,
                "$gte": lambda: v >= arg,
                "$lt": lambda: v < arg,
                "$in": lambda: v in arg,
            }[op]()
            if not ok:
                return False
    return True


def topk_matches(
    ids: list[str], scores: np.ndarray, got: list[tuple[str, float]], k: int,
    tol: float = 1e-6,
) -> bool:
    """Engine top-``k`` ``got`` (id, rank) equals the brute-force cosine
    ranking up to ties within ``tol``: every returned score is the true
    score of its id, scores are non-increasing, and nothing left out
    beats the last one returned by more than ``tol``."""
    if len(got) != min(k, len(ids)):
        return False
    pos = {i: n for n, i in enumerate(ids)}
    true = [scores[pos[i]] for i, _ in got]
    if any(abs(t - r) > 1e-5 for t, (_, r) in zip(true, got)):
        return False
    if any(b[1] > a[1] + tol for a, b in zip(got, got[1:])):
        return False
    kth = np.partition(scores, -k)[-k] if len(scores) >= k else scores.min()
    return min(true) >= kth - tol


def shingles(tokens: list[str], n: int = 3) -> set[tuple[str, ...]]:
    return {tuple(tokens[i:i + n]) for i in range(max(1, len(tokens) - n + 1))}


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)

