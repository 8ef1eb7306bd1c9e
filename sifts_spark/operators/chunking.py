"""Document chunking for retrieval indexing (RAG-style).

The reference indexes whole documents (`core.py:139-187` — one FTS row
and one embedding per doc); real retrieval over book-length documents
indexes CHUNKS: token-budgeted windows aligned to sentence boundaries,
with an overlap so answers straddling a boundary stay findable. This
operator turns the canonical docs frame into a chunks frame that feeds
the same Collection/embedding/ANN machinery (chunk ids are
``{doc_id}#{index}``, parent id and char offsets ride along for
provenance and de-overlapping at answer time).

Semantics (deterministic, pinned by a pure-Python reference in tests):

* sentences split at ``[.!?]+`` followed by whitespace (the same
  regex in Python and tests — no NLP dependency);
* greedy fill: whole sentences pack into a chunk until the NEXT
  sentence would exceed ``max_tokens``;
* a single sentence longer than ``max_tokens`` hard-splits at token
  boundaries (no chunk ever exceeds the budget — downstream packing
  and embedding windows rely on that invariant);
* each following chunk re-opens with the previous chunk's last
  sentences totaling ≥ ``overlap_tokens`` (bounded to strictly fewer
  tokens than the whole previous chunk, so progress is guaranteed);
* tokens are the engine's BPE-ish surface regex
  (``textanalysis.TOKEN_COUNT_RE``) — consistent with every other
  token budget in the repo; pass a trained BPE model's counts
  downstream when true-token budgets matter.

Distributed shape: ONE Arrow ``mapInPandas`` scan (per-doc string
work), no shuffle; output cardinality is
chunks-per-doc × docs, each row budget-bounded, so downstream
embedding/indexing stages see bounded row sizes regardless of input
document length — the operator that makes 400-page PDFs safe for a
row-oriented index at 100 TB.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sifts_spark.operators.textanalysis import TOKEN_COUNT_RE_PY

_SENT_RE = re.compile(r"(?<=[.!?])\s+")

_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("chunk_index", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("begin_char", T.IntegerType()),
        T.StructField("end_char", T.IntegerType()),
    ]
)


def chunk_text(
    text: str, max_tokens: int = 256, overlap_tokens: int = 32
) -> list[dict]:
    """Pure-Python single-doc chunker (the per-row kernel; also the
    reference the tests pin the distributed path against). Returns
    ``[{text, n_tokens, begin_char, end_char}]`` in document order."""
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    if not (0 <= overlap_tokens < max_tokens):
        raise ValueError("overlap_tokens must be in [0, max_tokens)")
    # IGNORECASE instead of .lower(): lowering can change string LENGTH
    # for some Unicode (e.g. 'İ'), which would corrupt char offsets.
    # The _PY twin (stdlib re has no \p{..}) is case-closed by class.
    tok_re = re.compile(TOKEN_COUNT_RE_PY, re.IGNORECASE)

    # sentence spans (begin, end) over the raw text
    spans: list[tuple[int, int]] = []
    start = 0
    for m in _SENT_RE.finditer(text):
        spans.append((start, m.start()))
        start = m.end()
    if start < len(text):
        spans.append((start, len(text)))

    # hard-split any over-budget sentence at token boundaries
    pieces: list[tuple[int, int, int]] = []  # (begin, end, n_tokens)
    for b, e in spans:
        toks = [m.span() for m in tok_re.finditer(text[b:e])]
        if not toks:
            continue
        if len(toks) <= max_tokens:
            pieces.append((b, e, len(toks)))
            continue
        for i in range(0, len(toks), max_tokens):
            part = toks[i: i + max_tokens]
            pieces.append((b + part[0][0], b + part[-1][1], len(part)))

    chunks: list[dict] = []
    cur: list[tuple[int, int, int]] = []
    cur_tokens = 0

    def flush() -> None:
        nonlocal cur, cur_tokens
        if not cur:
            return
        b, e = cur[0][0], cur[-1][1]
        chunks.append(
            {
                "text": text[b:e],
                "n_tokens": cur_tokens,
                "begin_char": b,
                "end_char": e,
            }
        )
        if overlap_tokens:
            # re-open with the tail sentences totaling >= overlap, but
            # strictly fewer tokens than the whole chunk (progress)
            tail: list[tuple[int, int, int]] = []
            t = 0
            for piece in reversed(cur):
                if t >= overlap_tokens or t + piece[2] >= cur_tokens:
                    break
                tail.insert(0, piece)
                t += piece[2]
            cur, cur_tokens = tail, t
        else:
            cur, cur_tokens = [], 0

    for piece in pieces:
        if cur and cur_tokens + piece[2] > max_tokens:
            flush()
            # the seeded overlap tail plus a near-budget piece may
            # still exceed the budget — shed overlap until it fits
            # (never below empty: piece itself is <= max_tokens)
            while cur and cur_tokens + piece[2] > max_tokens:
                dropped = cur.pop(0)
                cur_tokens -= dropped[2]
        cur.append(piece)
        cur_tokens += piece[2]
    if cur and (not chunks or cur[-1][1] > chunks[-1]["end_char"]):
        b, e = cur[0][0], cur[-1][1]
        chunks.append(
            {"text": text[b:e], "n_tokens": cur_tokens,
             "begin_char": b, "end_char": e}
        )
    return chunks


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 256,
    overlap_tokens: int = 32,
    meta_col: str | None = None,
    provenance_metadata: bool = False,
    keep_empty_docs: bool = False,
) -> DataFrame:
    """Docs frame → chunks frame ``(chunk_id, doc_id, chunk_index,
    text, n_tokens, begin_char, end_char)``; see module docstring for
    the boundary/overlap/budget contract.

    ``keep_empty_docs=True``: a doc whose text yields zero chunks
    (empty/whitespace-only) emits ONE empty chunk ``{id}#0`` (text
    ``""``, span 0-0) instead of vanishing — the Collection facade
    needs every accepted id to stay retrievable (reference parity:
    whole-doc ``add()`` indexes empty content as a row).

    ``provenance_metadata=True`` appends a ``metadata`` string column:
    the parent's JSON metadata (from ``meta_col`` when given — must be
    a JSON string column) merged with the reserved provenance keys
    ``_parent`` / ``_chunk`` / ``_begin_char`` / ``_end_char``. That is
    the shape the Collection facade indexes (``add_chunked``) so
    ``group_by_parent`` queries can de-overlap hits per parent and
    report char-span provenance — the merge rides the SAME Arrow
    kernel (already Python, zero extra passes)."""
    import json as _json

    out_cols = ["chunk_id", "doc_id", "chunk_index", "text",
                "n_tokens", "begin_char", "end_char"]
    schema = _CHUNK_SCHEMA
    if provenance_metadata:
        out_cols = out_cols + ["metadata"]
        schema = T.StructType(
            list(_CHUNK_SCHEMA) + [T.StructField("metadata", T.StringType())]
        )

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            metas = pdf[meta_col] if meta_col else [None] * len(pdf)
            rows = []
            for rid, text, meta in zip(pdf[id_col], pdf[text_col], metas):
                rid = str(rid)
                base = None
                if provenance_metadata:
                    base = _json.loads(meta) if meta else {}
                    if not isinstance(base, dict):
                        # scalar/array metadata can't host reserved keys
                        base = {"_meta": base}
                pieces = chunk_text(text or "", max_tokens, overlap_tokens)
                if not pieces and keep_empty_docs:
                    pieces = [
                        {"text": "", "n_tokens": 0,
                         "begin_char": 0, "end_char": 0}
                    ]
                for i, c in enumerate(pieces):
                    row = (f"{rid}#{i}", rid, i, c["text"], c["n_tokens"],
                           c["begin_char"], c["end_char"])
                    if provenance_metadata:
                        row = row + (_json.dumps(
                            {**base, "_parent": rid, "_chunk": i,
                             "_begin_char": c["begin_char"],
                             "_end_char": c["end_char"]}
                        ),)
                    rows.append(row)
            yield pd.DataFrame(rows, columns=out_cols)

    in_cols = [F.col(id_col).cast("string").alias(id_col), text_col]
    if meta_col:
        in_cols.append(meta_col)
    return docs.select(*in_cols).mapInPandas(kernel, schema)
