"""Deterministic text embeddings via feature hashing.

The hashing trick (Weinberger et al. 2009, "Feature Hashing for Large
Scale Multitask Learning"): each token/n-gram hashes to one of ``dim``
buckets with a hash-derived ±1 sign, the doc vector is the signed
bucket-count histogram, L2-normalized. Inner products approximate
bag-of-n-grams similarity unbiasedly — good enough to drive the
embedding-based operator family (SemDeDup cells, embedding near-dup
pairs, IVF ANN, topic clustering) on corpora that arrive WITHOUT an
embedding column, with zero model downloads and exact reproducibility
on any engine (md5-keyed: the kernel replays in five lines of plain
Python).

This is the embedding analog of the module family's posture elsewhere
(langid marker lexicons, the unigram perplexity stand-in): a real
neural encoder plugs into the same seams — `Collection(
embedding_function=...)` or any (id, embedding) frame — and this
operator documents, not hides, that it is the lexical stand-in.

Reference surface parity: the reference accepts any user-supplied
``embedding_function`` (`/root/reference/src/sifts/core.py:78-96`);
:func:`hashing_embedder` is a ready-made one.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Default-family token extraction, Python syntax (functions/text.py).
# r14 unicode flip — embedding/family coupling, stated precisely:
# vectors are a pure function of the extracted tokens, so any text
# containing a non-[a-z0-9] character that the unicode family now
# keeps ('café', 'naïve', any accented Latin — not only non-Latin
# scripts) embeds DIFFERENTLY than it did pre-flip. Pure-ASCII text is
# byte-identical. A pre-flip collection with such content should
# re-embed (`Collection.backfill_embeddings`) or pin the old behavior
# via `tokenizer="ascii"` on hashing_embedder/embed_hashing below —
# unlike postings there is no recorded family here, because the embedding
# function's identity is the USER's contract with the store (the
# reference has the same property for its user-supplied
# embedding_function, core.py:78-96); these params make that contract
# expressible.
from sifts_spark.functions.text import token_match_re_py


def _embed_texts(texts, dim: int, ngrams: tuple, seed: int,
                 tokenizer: str | None = None):
    """The shared kernel: list[str|None] -> list[list[float]].
    Pure Python+hashlib so the facade callable, the Arrow kernel and
    test references are ONE implementation, not three."""
    import re

    word_re = re.compile(token_match_re_py(tokenizer))
    out = []
    for t in texts:
        toks = word_re.findall(t.lower()) if t else []
        vec = [0.0] * dim
        for n in ngrams:
            for i in range(len(toks) - n + 1):
                gram = " ".join(toks[i : i + n])
                h = hashlib.md5(
                    f"{seed}\x00{gram}".encode()
                ).digest()
                bucket = int.from_bytes(h[:8], "big") % dim
                sign = 1.0 if h[8] & 1 else -1.0
                vec[bucket] += sign
        norm = math.sqrt(sum(x * x for x in vec))
        if norm > 0:
            vec = [x / norm for x in vec]
        out.append(vec)
    return out


def hashing_embedder(
    dim: int = 256, ngrams: tuple = (1, 2), seed: int = 1,
    tokenizer: str | None = None,
):
    """A ready-made ``embedding_function`` for the Collection facade:
    ``texts -> [[float, ...], ...]`` by feature hashing. A CLOSURE so
    cloudpickle ships it by value into executor-side batch embedding
    (the facade's W4 path) without importing this module there."""

    def embed(texts):
        return _embed_texts(texts, dim, ngrams, seed, tokenizer)

    return embed


def embed_hashing(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
    ngrams: tuple = (1, 2),
    seed: int = 1,
    tokenizer: str | None = None,
) -> DataFrame:
    """Bulk embedding: (id, embedding array<double>) for every row —
    the DataFrame twin of :func:`hashing_embedder` (same kernel, so a
    facade-embedded collection and a bulk-embedded frame agree
    bit-for-bit; pinned by test).

    Properties the consumers rely on: deterministic for (text, dim,
    ngrams, seed) on any engine/partitioning; unit L2 norm (empty/NULL
    text → the all-zero vector, which the ANN/dedup family treats as
    unassignable — the documented NULL-ish posture); cosine between
    vectors is an unbiased estimate of bag-of-n-gram cosine, so
    near-duplicate text scores near 1 and unrelated text near 0.

    Scale shape: ONE Arrow pass per row, no shuffle, no model state —
    the kernel ships as a closure; output is dim x 8 bytes per doc
    (2 KiB at the default 256), so downstream IVF/SemDeDup costs are
    bounded by dim, not vocabulary.
    """
    from pyspark.sql.functions import pandas_udf

    from sifts_spark.functions.hashing import ensure_min_parallelism

    @pandas_udf("array<double>")
    def _emb(texts: pd.Series) -> pd.Series:
        return pd.Series(
            _embed_texts(list(texts), dim, ngrams, seed, tokenizer)
        )

    out = ensure_min_parallelism(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    )
    return out.select("id", _emb(F.col("_t")).alias("embedding"))
