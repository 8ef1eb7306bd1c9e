"""The user-facing Collection API — reference-parity surface, Spark inside.

Mirrors /root/reference/src/sifts/core.py's public API exactly
(signatures: ``add`` core.py:140, ``update`` core.py:173, ``delete``
core.py:184, ``query`` core.py:190-198, ``get`` core.py:370, ``count``
core.py:125, ``delete_all`` core.py:386, factory core.py:714-737):

    col = Collection("/path/to/store", "my_collection",
                     embedding_function=embed, use_fts=True)
    col.add(["Lorem ipsum dolor", "sit amet"])
    col.query("Lorem or amet", where={"k": "v"}, order_by="-k1",
              limit=10, offset=0)
    -> {"total": int, "results": [{"id", "content", "metadata", "rank"}]}

Documented decisions where the reference's two backends diverge
(SURVEY.md §2.7, §7):

* ``total`` when the requested page is empty → 0 even if matches exist
  (PostgreSQL semantics, ``count(*) OVER()`` of returned rows,
  core.py:341-344 / tests/sifts/test_postgres.py:411-413; the SQLite
  vector path reports the pre-slice total instead — we pin PG).
* Search results default-sort by ``rank`` DESC (BM25 for text, cosine
  for vector). The reference returns FTS hits in storage order and its
  tests never assert FTS order; ours is deterministic and useful.
* NOT a quirk we keep: the reference's SQLite vector path materializes
  the whole collection client-side (core.py:527-542). Our vector path is
  a distributed TakeOrderedAndProject.
"""

from __future__ import annotations

import json
import re
import uuid
from collections import Counter
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from sifts_spark.functions.metadata import (
    compile_keyset_after,
    compile_order_by,
    compile_where,
    lexicographic_after,
)
from sifts_spark.functions.vector import cosine_vs_const_seqfold_arrow
from sifts_spark.operators import search as _search
from sifts_spark.queryparser import has_phrase, has_run_phrase, parse_query
from sifts_spark.session import get_spark
from sifts_spark.sources.store import (
    _UNSET as _UNSET_STOP_DF,
    DOC_SCHEMA,
    DocumentStore,
    validate_name,
)

# Default metadata column for bulk ingest: auto-detected if
# present, NULL-filled if absent. Any EXPLICITLY passed missing column
# name raises — including "metadata" itself, which is why the default
# is a sentinel object rather than the string (an explicit
# metadata_col="metadata" must be distinguishable from the default).
DEFAULT_METADATA_COL = "metadata"
_AUTO_METADATA = object()

EmbeddingFunction = Callable[[list[str]], Sequence[Sequence[float]]]


def _reject_duplicate_ids(ids: list[str]) -> None:
    """One version per id per batch: the newest-batch-wins read cannot
    order two versions inside one batch (Postgres refuses the same
    batch: ON CONFLICT cannot affect a row twice)."""
    dups = sorted(i for i, n in Counter(ids).items() if n > 1)
    if dups:
        raise ValueError(
            f"duplicate ids in one call: {dups[:10]}"
            + (f" and {len(dups) - 10} more" if len(dups) > 10 else "")
        )


class SparkCollection:
    """A named document collection inside a storage root."""

    def __init__(
        self,
        root: str,
        name: str,
        embedding_function: EmbeddingFunction | None = None,
        use_fts: bool = True,
        spark: SparkSession | None = None,
        auto_compact_batches: int | None = None,
        vacuum_grace_seconds: float = 300.0,
        auto_compact_fold_bytes: int | None = None,
        index_positions: bool | None = None,
        promote_metadata: list[str] | None = None,
        tokenizer: str | None = None,
    ):
        self.name = validate_name(name)
        self.embedding_function = embedding_function
        self.use_fts = use_fts
        self.spark = spark or get_spark()
        self.store = DocumentStore(self.spark, root)
        # Positional postings (term positions in the index): phrase
        # queries verify adjacency index-side instead of re-tokenizing
        # every candidate's content — the FTS5-parity path
        # (core.py:460-462 gets positions free from FTS5; Lucene/ES
        # also index positions for text fields by default). DEFAULT ON
        # for NEW collections since r13 — measured overhead is ~0%
        # build time and ~2x the postings sidecar (the sidecar is
        # corpus-comparable, not corpus-dominating), vs a 29x phrase
        # cliff at sf1 for users who never learn the flag exists.
        # ``None`` (the default) = honor the collection's pinned layout
        # when one exists, else positional for a collection with no
        # batches yet (reopening never converts a layout); ``False``
        # pins the plain layout for new collections (recorded in the
        # two-valued ``_positions`` marker so a later default-flag
        # reopen of the still-empty collection cannot convert it;
        # still sticky-upgradeable later); ``True`` forces the upgrade
        # on an existing plain collection (new batches positional, old
        # ones re-verify soundly via the ``_pending`` 3-valued path).
        explicit = index_positions is not None
        if index_positions is None:
            pinned = self.store.positions_layout(self.name)
            if pinned is not None:
                index_positions = pinned
            else:
                index_positions = use_fts and not self.store._batch_dirs(
                    self.name
                )
                # no marker written here: the DEFAULT path must stay
                # read-only (legacy collections open fine on read-only
                # mounts); a default-created new collection gets its
                # "1" marker from the first maintain_postings.
        self.index_positions = index_positions
        if use_fts and explicit:
            # explicit flag = DDL intent: record it before any write so
            # a default-flag reopen of a still-empty collection cannot
            # flip an explicit plain opt-out (no-op when a marker
            # already exists)
            self.store.pin_positions_layout(self.name, index_positions)
        # Token family (r14 unicode flip): queries MUST tokenize with
        # the family the postings index was built with — the sticky
        # ``_tokenizer`` store marker records it (absent marker +
        # existing sidecars = pre-flip ascii index; fresh collections
        # get the unicode default). The query paths read the marker
        # per call (``_tok_family``), so a cross-handle retokenize/
        # compact-upgrade is honored without reopening. An explicit
        # ``tokenizer=`` is DDL intent: pinned, and a mismatch against
        # an existing index RAISES (store.pin_tokenizer) instead of
        # silently dropping matches.
        if tokenizer is not None:
            self.store.pin_tokenizer(self.name, tokenizer)
        # Promoted metadata columns: `where` predicates on these keys
        # compile against typed sidecar columns materialized at write
        # (parquet-pushable, row-group skipping) instead of
        # get_json_object expressions — the PG expression-index / Delta
        # generated-column analog. STICKY (store `_promoted` marker,
        # union semantics); enabling on a non-empty collection rewrites
        # the live snapshot once (see DocumentStore.promote_metadata).
        if promote_metadata:
            self.store.promote_metadata(self.name, promote_metadata)
        # LSM write amplification control: every read resolves
        # newest-batch-wins across ALL live batches, so an append-heavy
        # collection accretes read-side work. When set, any write that
        # leaves >= N batches triggers compact() inline — the auto-
        # OPTIMIZE posture; leave None to schedule compaction yourself
        # (the Delta-OPTIMIZE-on-a-cron posture, right for bulk loads).
        self.auto_compact_batches = auto_compact_batches
        # Size-tiered auto-compaction: when set, the inline compaction
        # folds only the suffix of batches each under this many bytes —
        # frequent small adds stop rewriting the whole collection every
        # N writes (bytes rewritten are tier-sized). None = full fold.
        self.auto_compact_fold_bytes = auto_compact_fold_bytes
        # Retention clock handed to store.vacuum() after facade-driven
        # compactions: superseded batches stay on disk this long so any
        # in-flight reader planned pre-compact keeps its files (Delta's
        # VACUUM retention contract). 0 reclaims immediately —
        # single-threaded callers only.
        self.vacuum_grace_seconds = vacuum_grace_seconds
        # (N, avgdl) memo keyed by a LOCAL write-version counter: text
        # queries pass these two scalars into BM25 with ZERO filesystem
        # metadata ops on the hot path (the previous key was a fresh
        # batch-dir LIST — an RTT per query on an object store). Our own
        # writes bump the counter; EXTERNAL writers' batches are picked
        # up by the postings read (manifest-resolved per query) but the
        # two cached stats scalars need refresh() — documented contract.
        self._docs_version = 0
        self._stats_cache: dict[int, tuple[int, float]] = {}
        # ANN index meta memo (centroids + cells-dir pointer): read once,
        # invalidated by build_vector_index()/refresh().
        self._vecindex_meta_cache: Any = _AUTO_METADATA  # sentinel: unread

    # ------------------------------------------------------------------
    # write path
    # ------------------------------------------------------------------

    def add(
        self,
        contents: Sequence[str],
        ids: Sequence[str] | None = None,
        metadatas: Sequence[dict | None] | None = None,
    ) -> list[str]:
        """Upsert documents; returns ids (UUIDv4 default, core.py:147-150).

        Upsert-on-conflict semantics (core.py:493-501) come from the
        store's newest-batch-wins read, not an in-place rewrite. An id
        given twice in one call raises ``ValueError`` naming the ids;
        nothing is written.
        """
        contents = list(contents)
        if ids is None:
            ids = [str(uuid.uuid4()) for _ in contents]
        # None/empty entries get generated UUIDs (core.py:147-150 —
        # str(None) would silently collide every such doc on id "None").
        ids = [
            str(i) if i is not None and str(i) != "" else str(uuid.uuid4())
            for i in ids
        ]
        if len(ids) != len(contents):
            raise ValueError("ids and contents must have the same length")
        _reject_duplicate_ids(ids)
        if metadatas is None:
            metadatas = [None] * len(contents)
        if len(metadatas) != len(contents):
            raise ValueError("metadatas and contents must have the same length")
        metas = [None if m is None else json.dumps(m) for m in metadatas]

        if self.embedding_function is not None:
            # One batch call per add — reference call pattern core.py:518.
            embs = [
                [float(x) for x in v] for v in self.embedding_function(contents)
            ]
        else:
            embs = [None] * len(contents)

        rows = list(zip(ids, contents, metas, embs, [False] * len(contents)))
        df = self.spark.createDataFrame(rows, DOC_SCHEMA)
        self.store.append_batch(self.name, df)
        self._maintain_index()
        return ids

    def add_dataframe(
        self,
        df: DataFrame,
        id_col: str = "id",
        content_col: str = "content",
        metadata_col: str | None = _AUTO_METADATA,  # type: ignore[assignment]
        embedding_col: str | None = None,
    ) -> int:
        """Bulk ingest path (the 100 TB route): any DataFrame in, ids
        defaulted with ``uuid()``, embeddings via a pandas_udf batch call
        on executors (Arrow) when an embedding_function is configured.
        Returns the committed batch number (monotone per collection —
        callers can scope "rows this write landed" by it, see
        :meth:`add_chunked_dataframe`).

        ``metadata_col``: the DEFAULT (a sentinel, not the string) picks
        up a ``metadata`` column when the frame has one and degrades to
        NULL when it doesn't. ANY explicitly passed column that is
        absent raises — even ``"metadata"`` itself — because silently
        dropping caller-visible metadata on a typo'd name is the one
        wrong default."""
        if metadata_col is _AUTO_METADATA:
            metadata_col = (
                DEFAULT_METADATA_COL
                if DEFAULT_METADATA_COL in df.columns
                else None
            )
        elif metadata_col and metadata_col not in df.columns:
            raise ValueError(
                f"metadata_col={metadata_col!r} not in DataFrame columns "
                f"{df.columns}; pass metadata_col=None to ingest without "
                "metadata"
            )
        if metadata_col:
            if df.schema[metadata_col].dataType.typeName() == "string":
                meta_expr = F.col(metadata_col)
            else:
                meta_expr = F.to_json(F.col(metadata_col))
        else:
            meta_expr = F.lit(None).cast("string")
        cols = [
            (
                F.coalesce(F.col(id_col).cast("string"), F.expr("uuid()"))
                if id_col in df.columns
                else F.expr("uuid()")
            ).alias("id"),
            F.col(content_col).cast("string").alias("content"),
            meta_expr.alias("metadata"),
        ]
        if embedding_col and embedding_col in df.columns:
            # project in the SAME select: referencing df[embedding_col]
            # on the already-projected frame is unresolvable when the
            # projection dropped that column
            cols.append(F.col(embedding_col).cast("array<float>").alias("embedding"))
            out = df.select(*cols)
        elif self.embedding_function is not None:
            out = df.select(*cols)
            fn = self.embedding_function
            import pandas as pd
            from pyspark.sql.functions import pandas_udf

            # NO type annotations on the kernel: the module uses
            # `from __future__ import annotations`, so hints are
            # strings resolved against module globals — where `pd`
            # doesn't exist — and pandas_udf would raise
            # UNSUPPORTED_SIGNATURE; the returnType argument alone
            # carries the typing.
            @pandas_udf("array<float>")
            def _embed(s):
                vecs = fn(s.tolist())
                return pd.Series([[float(x) for x in v] for v in vecs])

            out = out.withColumn("embedding", _embed(F.col("content")))
        else:
            out = df.select(*cols).withColumn(
                "embedding", F.lit(None).cast("array<float>")
            )
        out = out.withColumn("deleted", F.lit(False))
        batch = self.store.append_batch(self.name, out)
        self._maintain_index()
        return batch

    def add_chunked(
        self,
        contents: Sequence[str],
        ids: Sequence[str] | None = None,
        metadatas: Sequence[dict | None] | None = None,
        max_tokens: int = 256,
        overlap_tokens: int = 32,
    ) -> list[str]:
        """Upsert documents CHUNKED for retrieval (RAG posture): each
        document is split into token-budgeted sentence-aligned windows
        (operators/chunking.py) and every chunk is indexed as its own
        row with id ``{doc_id}#{i}`` — FTS postings and embeddings are
        per-chunk, so book-length documents stay findable and
        embeddable. Parent id, chunk index and char span ride in the
        chunk's metadata under reserved ``_``-keys, merged with the
        user's metadata; query with ``group_by_parent=True`` to get one
        best-chunk hit per parent document with span provenance.
        Returns the PARENT ids (extends the reference's whole-doc
        collection posture, core.py:714-737). A parent id given twice
        raises ``ValueError``, as in :meth:`add`."""
        contents = list(contents)
        if ids is None:
            ids = [str(uuid.uuid4()) for _ in contents]
        ids = [
            str(i) if i is not None and str(i) != "" else str(uuid.uuid4())
            for i in ids
        ]
        if len(ids) != len(contents):
            raise ValueError("ids and contents must have the same length")
        _reject_duplicate_ids(ids)
        if metadatas is None:
            metadatas = [None] * len(contents)
        if len(metadatas) != len(contents):
            raise ValueError("metadatas and contents must have the same length")
        metas = [None if m is None else json.dumps(m) for m in metadatas]
        df = self.spark.createDataFrame(
            list(zip(ids, contents, metas)),
            "id string, content string, metadata string",
        )
        self.add_chunked_dataframe(
            df, max_tokens=max_tokens, overlap_tokens=overlap_tokens
        )
        return list(ids)

    def add_chunked_dataframe(
        self,
        df: DataFrame,
        id_col: str = "id",
        content_col: str = "content",
        metadata_col: str | None = _AUTO_METADATA,  # type: ignore[assignment]
        max_tokens: int = 256,
        overlap_tokens: int = 32,
    ) -> None:
        """Bulk twin of :meth:`add_chunked` (the 100 TB route): one
        Arrow ``mapInPandas`` chunking scan (no shuffle; output rows
        are budget-bounded regardless of input doc length), then the
        standard bulk ingest — per-chunk embeddings via the configured
        embedding_function. ``metadata_col`` semantics match
        :meth:`add_dataframe` (sentinel default auto-detects)."""
        from sifts_spark.operators.chunking import chunk_documents

        if metadata_col is _AUTO_METADATA:
            metadata_col = (
                DEFAULT_METADATA_COL
                if DEFAULT_METADATA_COL in df.columns
                else None
            )
        elif metadata_col and metadata_col not in df.columns:
            raise ValueError(
                f"metadata_col={metadata_col!r} not in DataFrame columns "
                f"{df.columns}; pass metadata_col=None to ingest without "
                "metadata"
            )
        src = df
        if metadata_col and df.schema[metadata_col].dataType.typeName() != "string":
            src = df.withColumn(metadata_col, F.to_json(F.col(metadata_col)))
        chunks = chunk_documents(
            src,
            id_col=id_col,
            text_col=content_col,
            max_tokens=max_tokens,
            overlap_tokens=overlap_tokens,
            meta_col=metadata_col,
            provenance_metadata=True,
            # an accepted id must stay retrievable even when its text
            # chunks to nothing (reference parity for empty docs)
            keep_empty_docs=True,
        )
        # UPSERT semantics: newest-batch-wins resolves per ROW id, so a
        # re-added parent shrinking from 5 chunks to 2 would leave
        # d#2..d#4 live with STALE text. WRITE-FIRST, RETIRE-SECOND:
        # the new chunk batch lands before any tombstone, so a crash
        # between the two leaves extra stale chunks (healed by a
        # re-run), never lost documents — the delete-first order would
        # drop previously-live rows if the add never arrived. Stale =
        # live rows of the incoming parents whose WINNER predates the
        # new batch (re-used chunk ids won batch `new_batch` and are
        # excluded — tombstoning them now would kill the rows we just
        # wrote); `coalesce(_parent, id)` also retires a whole-doc row
        # being re-added as chunked. Fully distributed: the retirement
        # list flows through delete_dataframe (a full re-ingest of a
        # chunked corpus retires EVERY live chunk — never a Python
        # list); the isEmpty probe on the persisted id-sized frame is
        # what keeps the common append-only ingest from paying an
        # empty tombstone batch per call.
        new_batch = self.add_dataframe(
            chunks, id_col="chunk_id", content_col="text",
            metadata_col="metadata",
        )
        parents = src.select(
            F.col(id_col).cast("string").alias("__p")
        ).distinct()
        stale = (
            self.docs()
            .join(
                self.store.live_versions(self.name).filter(
                    F.col("batch") < F.lit(new_batch)
                ).select("id"),
                "id",
                "left_semi",
            )
            .withColumn(
                "__p",
                F.coalesce(
                    F.get_json_object(F.col("metadata"), "$._parent"),
                    F.col("id"),
                ),
            )
            .join(parents, "__p", "left_semi")
            .select("id")
            .persist()
        )
        try:
            if not stale.isEmpty():
                self.delete_dataframe(stale)
        finally:
            stale.unpersist()

    def update(
        self,
        ids: Sequence[str],
        contents: Sequence[str],
        metadatas: Sequence[dict | None] | None = None,
    ) -> list[str]:
        """Alias for add with mandatory ids (core.py:173-182)."""
        if ids is None:
            raise ValueError("update requires ids")
        return self.add(contents, ids=ids, metadatas=metadatas)

    def delete(self, ids: Sequence[str]) -> None:
        """Append tombstones (core.py:184-188 parity; idempotent,
        tests/sifts/test_sqlite.py:115-127)."""
        ids = [str(i) for i in ids]
        if not ids:
            return
        rows = [(i, None, None, None, True) for i in ids]
        df = self.spark.createDataFrame(rows, DOC_SCHEMA)
        self.store.append_batch(self.name, df)
        self._maintain_index()

    def delete_dataframe(self, ids_df: DataFrame, id_col: str = "id") -> None:
        """Distributed delete: tombstone every id in ``ids_df`` without a
        driver round-trip — the bulk twin of :meth:`delete` (a 100 TB
        kill list never fits in a Python list). One appended batch."""
        tomb = ids_df.select(
            F.col(id_col).cast("string").alias("id"),
            F.lit(True).alias("deleted"),
        ).dropDuplicates(["id"])
        self.store.append_batch(self.name, tomb)
        self._maintain_index()

    def delete_all(self) -> None:
        """Drop the collection partition (core.py:386-400)."""
        self.store.drop_collection(self.name)
        self._docs_version += 1

    def promote_metadata(self, keys: list[str]) -> list[str]:
        """Promote metadata ``keys`` to typed sidecar columns on the
        LIVE collection (union with any existing promotion; sticky —
        same semantics as the ``Collection(promote_metadata=)``
        constructor kwarg, see that doc). On a non-empty collection
        this rewrites the snapshot once into a full fold (postings
        re-maintained for fts collections); subsequent ``where`` /
        ``order_by`` / keyset-cursor work on these keys compiles
        against the parquet-pushable sidecars. Returns the full
        promoted key list.

        ANN-index interplay mirrors :meth:`compact`: the index is
        brought up to date first, and the rewrite's fold is recorded as
        covered — otherwise the next write's maintenance would
        re-assign the ENTIRE rewritten corpus into the index for zero
        new information (every id is already covered by construction)."""
        meta = self._vector_index_meta()
        if meta is not None and "built_through" in meta:
            self.maintain_vector_index()
        out = self.store.promote_metadata(self.name, keys)
        self._docs_version += 1  # snapshot may have been rewritten
        if meta is not None and "built_through" in meta:
            ff = self.store.full_fold_batch(
                self.store.read_manifest(self.name)
            )
            if ff is not None and ff > int(meta["built_through"]):
                self.store.mark_vector_index_batch_covered(self.name, ff, meta)
        return out

    def compact(
        self,
        vacuum: bool = True,
        max_fold_bytes: int | None = None,
        stop_df_ratio=_UNSET_STOP_DF,
    ) -> None:
        """OPTIMIZE + (optionally) VACUUM: fold live batches, then
        reclaim superseded dirs older than ``vacuum_grace_seconds``.
        ``max_fold_bytes`` folds only the small-batch suffix (size-
        tiered; see ``DocumentStore.compact`` for the two safety
        invariants); None folds everything.

        ``stop_df_ratio`` (full folds only): pin — or with ``None``/
        ``0`` clear — the sticky stop-gram pruning marker before the
        rebuild, the global-df-safe door to ``build_postings``'s
        pruning knob (positions of terms with df > ratio×N are
        dropped; bytes knob — recall is unaffected through the
        content-verify degradation). Omitted = keep the current
        marker; later per-append batches build unpruned (batch-local
        df) and re-converge at the next full fold.

        ANN-index interplay: the index is brought up to date FIRST
        (every pending batch assigned), so after the fold every live id
        is already covered — the folded batch is then recorded as
        covered with an empty index layer instead of being redundantly
        re-assigned by the next maintenance sweep (a corpus-sized
        map job for zero new information)."""
        meta = self._vector_index_meta()
        if meta is not None and "built_through" in meta:
            self.maintain_vector_index()
        folded = self.store.compact(
            self.name,
            postings=self.use_fts,
            max_fold_bytes=max_fold_bytes,
            stop_df_ratio=stop_df_ratio,
        )
        # a full fold may also flip the index's token family
        # (_upgrade_tokenizer_after_full_fold), which changes the stats
        self._docs_version += 1
        if folded is not None and meta is not None and "built_through" in meta:
            self.store.mark_vector_index_batch_covered(self.name, folded, meta)
        if vacuum:
            self.store.vacuum(self.name, self.vacuum_grace_seconds)

    def retokenize(
        self,
        tokenizer: str | None = None,
        stop_df_ratio=_UNSET_STOP_DF,
    ) -> str:
        """Rebuild the FTS sidecars under ``tokenizer`` (default: the
        engine's current default family) and re-stamp the sticky
        ``_tokenizer`` marker — the explicit upgrade verb for
        collections indexed pre-r14 under the ascii family (a FULL
        ``compact()`` performs the same upgrade implicitly, but
        no-ops on single-batch collections). Queries on any handle
        pick the new family up immediately (the marker is read per
        query). Returns the new family name.

        ``stop_df_ratio``: pin — or with ``None``/``0`` clear — the
        sticky stop-gram pruning marker before the rebuild (the
        global-df-safe door to ``build_postings``'s pruning knob;
        requires a positional layout). Unlike ``compact()`` this verb
        rebuilds even single-batch collections, so it is the "apply
        the pruning NOW" form."""
        out = self.store.retokenize(
            self.name, tokenizer, stop_df_ratio=stop_df_ratio
        )
        self._docs_version += 1  # new family: new dl per doc
        return out

    def refresh(self) -> None:
        """Invalidate cached per-snapshot query constants (BM25 corpus
        stats, ANN index meta, promoted-keys marker). Call after a
        DIFFERENT process/handle wrote to (or promoted metadata on)
        this collection; your own writes through this facade
        invalidate automatically."""
        self._docs_version += 1
        self._vecindex_meta_cache = _AUTO_METADATA
        self.store.refresh_markers(self.name)

    def _maintain_index(self) -> None:
        """W3: derived-index maintenance on every write (reference
        core.py:504-514 — fts index updated in the same add). Writes a
        postings batch for the just-appended docs batch, then applies
        the auto-compaction policy if configured."""
        self._docs_version += 1
        if self.use_fts:
            self.store.maintain_postings(
                self.name,
                positions=True if self.index_positions else None,
            )
        # ANN index twin of the postings sweep: assign the new batch
        # into the existing centroid set (no-op without an index).
        self.maintain_vector_index()
        if (
            self.auto_compact_batches
            and len(self.store._batch_dirs(self.name)) >= self.auto_compact_batches
        ):
            self.compact(max_fold_bytes=self.auto_compact_fold_bytes)

    # ------------------------------------------------------------------
    # dedup — the operator suite wired to the facade
    # ------------------------------------------------------------------

    def find_duplicates(self, method: str = "minhash", **kwargs) -> DataFrame:
        """Near/exact-duplicate PAIRS in the live snapshot
        → (id_a, id_b, score) — the facade door into operators/dedup.

        methods: ``exact`` (normalized-text digest; score 1.0),
        ``minhash`` (LSH + exact-Jaccard verify; kwargs like
        ``jaccard_threshold``/``bands`` pass through),
        ``ngram`` (exact word-n-gram Jaccard over rarest-shingle
        blocked candidates; kwargs like ``threshold``/
        ``shingle_size``),
        ``simhash`` (hamming ≤ ``max_hamming``; score = 1 - h/64),
        ``embedding`` (cosine within IVF cells; requires stored
        embeddings; kwargs like ``threshold``/``centroids``).

        Token-shingle methods (minhash/ngram/simhash) tokenize with
        the COLLECTION's pinned family (the sticky ``_tokenizer``
        marker) unless ``tokenizer=`` overrides — a cjk_bigram-pinned
        collection near-dups at bigram granularity instead of treating
        each unspaced run as one opaque token."""
        from sifts_spark.operators import dedup as _D

        if method in ("minhash", "ngram", "simhash"):
            kwargs.setdefault("tokenizer", self._tok_family())
        docs = self.docs()
        if method == "exact":
            dup = _D.exact_duplicates(docs, id_col="id", text_col="content")
            return (
                dup.filter(F.col("id") != F.col("canonical_id"))
                .select(
                    F.col("canonical_id").alias("id_a"),
                    F.col("id").alias("id_b"),
                    F.lit(1.0).alias("score"),
                )
            )
        if method == "minhash":
            return _D.minhash_lsh_pairs(
                docs, id_col="id", text_col="content", **kwargs
            ).withColumnRenamed("jaccard", "score")
        if method == "ngram":
            return _D.ngram_jaccard_pairs(
                docs, id_col="id", text_col="content", **kwargs
            ).withColumnRenamed("jaccard", "score")
        if method == "simhash":
            return _D.simhash_pairs(
                docs, id_col="id", text_col="content", **kwargs
            ).select(
                "id_a", "id_b",
                (F.lit(1.0) - F.col("hamming") / F.lit(64.0)).alias("score"),
            )
        if method == "embedding":
            return _D.embedding_dup_pairs(
                docs.filter(F.col("embedding").isNotNull()),
                id_col="id", vec_col="embedding", **kwargs
            ).withColumnRenamed("cos_sim", "score")
        raise ValueError(f"unknown dedup method {method!r}")

    def topics(
        self,
        n_topics: int | None = None,
        k_terms: int = 10,
        seed: int = 1,
        centroids: list | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """Corpus composition audit over the live snapshot — the
        facade door into :func:`~sifts_spark.operators.topics
        .topic_clusters` (embedding k-means + c-TF-IDF labels) →
        ``(assignments, topics)`` DataFrames: (id, topic_id, sim) and
        (topic_id, n_docs, rank, term, tf, score).

        Requires stored embeddings (docs without one are not
        assigned). ``n_topics`` defaults to the trainer's √N rule;
        pass ``centroids`` (e.g. a persisted artifact) to reuse a
        trained set and skip training (centroid training and the
        scalar average-class-length aggregate run eagerly; the
        returned frames themselves stay lazy)."""
        from sifts_spark.operators.topics import topic_clusters

        return topic_clusters(
            self.docs(),
            n_topics=n_topics,
            id_col="id",
            text_col="content",
            vec_col="embedding",
            k_terms=k_terms,
            centroids=centroids,
            seed=seed,
        )

    def dedup(self, method: str = "minhash", dry_run: bool = False, **kwargs) -> int:
        """Deduplicate the collection IN PLACE: find duplicate pairs,
        resolve transitive clusters (connected components), tombstone
        every non-canonical member (canonical = min id per cluster).
        Returns the number of docs removed (0 on a second run —
        idempotent). ``dry_run=True`` counts without deleting.

        Fully distributed: pairs → cluster labels → a tombstone BATCH
        via :meth:`delete_dataframe` — no kill list ever reaches the
        driver.

        ``method="semantic"`` routes through SemDeDup
        (:func:`~sifts_spark.operators.dedup.semdedup`, Abbas et al.
        2023) instead of the pair/cluster path: per IVF cell, eps-graph
        components over stored embeddings, keeping the least-
        prototypical member of each — the decision rows ARE the kill
        list, no pair materialization (kwargs like ``eps``/
        ``centroids``/``n_cells`` pass through)."""
        from sifts_spark.operators.dedup import duplicate_clusters, semdedup

        if method == "semantic":
            victims = (
                semdedup(
                    self.docs().filter(F.col("embedding").isNotNull()),
                    id_col="id", vec_col="embedding", **kwargs,
                )
                .filter(~F.col("keep"))
                .select("id")
                .persist()
            )
        else:
            pairs = self.find_duplicates(method, **kwargs)
            verts = self.docs().select("id")
            victims = (
                duplicate_clusters(verts, pairs, id_col="id")
                .filter(F.col("id") != F.col("cluster_id"))
                .select("id")
                .persist()  # one compute serves both the count and the write
            )
        try:
            n = victims.count()
            if n and not dry_run:
                self.delete_dataframe(victims)
        finally:
            victims.unpersist()
        from sifts_spark.operators.dedup import report_dropped_buckets

        report_dropped_buckets()  # log any skew-guard exclusions loudly
        return n

    def backfill_embeddings(self) -> int:
        """Embed every live doc whose stored ``embedding`` is NULL
        through the configured ``embedding_function`` → count
        re-upserted. The missing-vector verb for collections that
        predate an embedder (docs added without one, bulk
        ``add_dataframe`` loads without an embedding column, or
        substring-dedup rewrites under a then-missing embedder):
        open the collection WITH the embedder, call this once, and
        vector/hybrid search covers the whole corpus.

        Docs with NULL content are skipped (nothing to embed — they
        stay NULL); re-upsert is newest-batch-wins with content and
        metadata preserved, so the operation is idempotent (a second
        call finds zero NULL embeddings) and incremental-index
        maintenance picks the new vectors up like any other batch.

        Scale shape: one snapshot scan filtered to NULL embeddings →
        ONE missing-docs-sized append batch (the Arrow embed kernel
        runs inside the write, never on the driver).
        """
        if self.embedding_function is None:
            raise ValueError(
                "backfill_embeddings requires an embedding_function"
            )
        missing = (
            self.docs()
            .filter(
                F.col("embedding").isNull() & F.col("content").isNotNull()
            )
            .select("id", "content", "metadata")
            .persist()
        )
        try:
            n = missing.count()
            if n:
                self.add_dataframe(
                    missing, id_col="id", content_col="content",
                    metadata_col="metadata",
                )
            return n
        finally:
            missing.unpersist()

    def dedup_substrings(
        self,
        k: int = 50,
        w: int = 10,
        within_doc: bool = False,
        dry_run: bool = False,
    ) -> dict:
        """Cut duplicated runs of >= ``k`` tokens out of stored
        contents (Lee et al. 2021 ExactSubstr, via
        :func:`~sifts_spark.operators.substring.remove_duplicate_spans`
        in exact mode) — the in-place REWRITE counterpart of
        :meth:`dedup`, which removes whole documents. The corpus-wide
        first copy of each run survives; every other copy is cut and
        the doc re-upserted (newest-batch-wins), docs left empty are
        tombstoned. Returns ``{"rewritten", "removed", "chars_cut"}``;
        idempotent (a second run finds no cross-doc runs to cut).

        Embeddings of rewritten docs are RECOMPUTED through the
        configured ``embedding_function`` (the content changed, so the
        stored vector is stale by definition) or set NULL when none is
        configured — never silently kept.

        Scale shape: one token-count-sized fingerprint shuffle (the
        operator's inherent ExactSubstr cost), then one upsert batch +
        one tombstone batch — touched-docs-sized, not corpus-sized."""
        from sifts_spark.operators.substring import remove_duplicate_spans

        docs = self.docs()
        changed = (
            remove_duplicate_spans(
                docs, id_col="id", text_col="content",
                k=k, w=w, within_doc=within_doc,
            )
            .filter(F.col("n_spans_removed") > 0)
            .persist()
        )
        try:
            # "emptied" must catch ALL whitespace remnants — F.trim
            # strips only space (0x20), so a doc reduced to '\n' or
            # '\t' would be re-upserted as junk instead of tombstoned
            blank = F.col("text").rlike(r"^\s*$")
            emptied = changed.filter(blank)
            rewritten = changed.filter(~blank)
            stats = changed.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("removed_chars").alias("chars"),
                F.count(F.when(blank, 1)).alias("gone"),
            ).first()
            out = {
                "rewritten": int(stats["n"] or 0) - int(stats["gone"] or 0),
                "removed": int(stats["gone"] or 0),
                "chars_cut": int(stats["chars"] or 0),
            }
            if dry_run or not stats["n"]:
                return out
            if out["rewritten"]:
                self.add_dataframe(
                    rewritten.join(docs.select("id", "metadata"), "id"),
                    id_col="id", content_col="text",
                    metadata_col="metadata",
                )
            if out["removed"]:
                self.delete_dataframe(emptied.select("id"))
            return out
        finally:
            changed.unpersist()

    # ------------------------------------------------------------------
    # ANN index (IVF sidecar) — the scale path for vector_search
    # ------------------------------------------------------------------

    def build_vector_index(
        self,
        n_cells: int | None = None,
        sample_size: int = 65536,
        seed: int = 1,
        kind: str = "ivf",
        m: int = 8,
        nbits: int = 8,
    ) -> dict:
        """Train and persist an ANN index over the live snapshot's
        embeddings, behind ``query(approx=True)``.

        ``kind="ivf"`` (default): kmeans centroids (``n_cells ~
        sqrt(N)``) + an ``(id, cell)`` sidecar partitioned by cell, so
        approx queries read only their probed cells (partition pruning)
        instead of scoring the whole collection.

        ``kind="ivfpq"``: the faiss-IVFADC composition — the same cell
        sidecar additionally carries each vector's ``m``-byte PQ code
        (trained sub-codebooks live in the index ``_meta``); approx
        queries then ADC-score the probed candidates FROM THE CODES
        (the scan payload is 32× smaller than float vectors at the
        default 64-dim/m=8/nbits=8 shape) and exact-refine only the
        ADC top pool against live embeddings. This replaces the
        reference's full pgvector float scan
        (/root/reference/src/sifts/core.py:558-564) with a code-sized
        scan at 100 TB.

        **Staleness contract**: writes through THIS facade after the
        build are assigned into the existing centroid set incrementally
        (:meth:`maintain_vector_index`, automatic on every write) — new
        docs are retrievable with ``approx=True`` without a rebuild.
        A rebuild is still what re-TRAINS centroids/codebooks (drifted
        data slowly degrades cell balance, not correctness). External
        writers' batches are picked up by the next maintenance sweep
        from any facade. Updates and deletes are safe immediately: the
        index only selects candidate ids; final scores come from live
        embeddings and dead ids drop out of the snapshot join."""
        from sifts_spark.operators.vector_search import kmeans_centroids

        if kind not in ("ivf", "ivfpq"):
            raise ValueError(f"unknown index kind {kind!r} (ivf | ivfpq)")
        emb = self.docs().filter(F.col("embedding").isNotNull())
        km = kmeans_centroids(
            emb, n_cells=n_cells, vec_col="embedding",
            sample_size=sample_size, seed=seed,
        )
        extra: dict = {
            "n_cells": len(km),
            "kind": kind,
            "built_through": self._max_live_batch(),
        }
        codebooks = None
        if kind == "ivfpq":
            from sifts_spark.operators.quantization import pq_train

            first = emb.select("embedding").first()
            dim = len(first["embedding"]) if first else 0
            if dim == 0 or dim % m:
                raise ValueError(
                    f"ivfpq requires embedding dim divisible by m={m} "
                    f"(got dim={dim})"
                )
            codebooks = pq_train(
                emb, dim=dim, m=m, nbits=nbits, vec_col="embedding",
                sample_size=sample_size, seed=seed,
            )
            extra.update({"m": m, "nbits": nbits, "dim": dim,
                          "codebooks": codebooks})
        assignments = self._assign_batch(emb, km, codebooks)
        meta = self.store.write_vector_index(self.name, assignments, km, extra)
        self._vecindex_meta_cache = meta
        return meta

    def _max_live_batch(self) -> int:
        dirs = self.store._batch_dirs(self.name)
        return max((int(d.split("=", 1)[1]) for d in dirs), default=0)

    @staticmethod
    def _assign_batch(emb: DataFrame, centroids, codebooks) -> DataFrame:
        """(id, cell[, codes]) for one frame of embedding rows — the
        map-side projection shared by full builds and incremental
        appends (inlined centroids, Arrow kernels, no shuffle)."""
        from sifts_spark.functions.vector import cell_assign_arrow

        cols = [
            F.col("id"),
            F.coalesce(
                cell_assign_arrow(F.col("embedding"), centroids), F.lit(-1)
            ).alias("cell"),
        ]
        if codebooks is not None:
            from sifts_spark.operators.quantization import pq_encode_arrow

            cols.append(
                pq_encode_arrow(F.col("embedding"), codebooks).alias("codes")
            )
        return emb.select(*cols)

    def maintain_vector_index(self) -> int:
        """Assign docs batches written after the index build into the
        existing centroid set (no re-train, no corpus rewrite) — the
        vector twin of the postings sweep. Runs automatically after
        every write through this facade; call it directly to pick up
        external writers' batches. Returns the number of batches
        assigned. No-op when no index exists (or a pre-incremental
        index without ``built_through``, which stays rebuild-only)."""
        meta = self._vector_index_meta()
        if meta is None or "built_through" not in meta:
            return 0
        from sifts_spark.operators.vector_search import centroid_rows

        km = centroid_rows(meta["centroids"])
        codebooks = meta.get("codebooks") if meta.get("kind") == "ivfpq" else None
        have = self.store.vector_index_batches(self.name, meta)
        done = 0
        for d in self.store._batch_dirs(self.name):
            n = int(d.split("=", 1)[1])
            if n <= int(meta["built_through"]) or n in have:
                continue
            batch_docs = (
                self.store._read_batch_docs(self.name, d)
                .filter(~F.col("deleted") & F.col("embedding").isNotNull())
            )
            if self.store.append_vector_index_batch(
                self.name, n, self._assign_batch(batch_docs, km, codebooks), meta
            ):
                done += 1
        return done

    def _vector_index_meta(self) -> dict | None:
        if self._vecindex_meta_cache is _AUTO_METADATA:
            self._vecindex_meta_cache = self.store.read_vector_index_meta(
                self.name
            )
        return self._vecindex_meta_cache

    def _vector_candidates(
        self, qvec: list[float], nprobe: int, with_codes: bool = False
    ) -> DataFrame:
        """Rows in the query's ``nprobe`` nearest cells — the probe
        step. One driver-side numpy pass over the (tiny) centroid table
        picks the cells (same rounded-similarity/lowest-id tie-break as
        the distributed assignment), then the sidecar read prunes to
        those ``cell=`` partitions. Ids assigned by several index
        layers (doc updated after the build) dedupe newest-batch-wins,
        so ``with_codes`` returns the freshest code per id."""
        import numpy as np

        meta = self._vector_index_meta()
        if meta is None:
            raise ValueError(
                "approx vector search requires build_vector_index() first"
            )
        cents = sorted(meta["centroids"], key=lambda cv: cv[0])
        cids = np.array([c for c, _ in cents], dtype=np.int64)
        mat = np.array([v for _, v in cents], dtype=np.float64)
        q = np.asarray(qvec, dtype=np.float64)
        denom = np.linalg.norm(mat, axis=1) * np.linalg.norm(q)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.where(denom > 0, np.round(mat @ q / denom, 6), -np.inf)
        order = np.argsort(-sims, kind="stable")[:nprobe]
        cand = self.store.read_vector_cells(
            self.name, [int(c) for c in cids[order]], meta,
            with_codes=with_codes,
        )
        if "batch" in cand.columns:
            w = Window.partitionBy("id").orderBy(F.col("batch").desc())
            cand = (
                cand.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "batch")
            )
        else:
            cand = cand.dropDuplicates(["id"])
        return cand

    def _approx_candidates(
        self,
        qvec: list[float],
        nprobe: int,
        adc_limit: int | None,
        refine: int,
    ) -> DataFrame:
        """Candidate id frame for an approx search. Float-IVF index:
        the probed cells' ids. IVFPQ index: the probed candidates
        ADC-scored from their m-byte PQ codes and — when the caller's
        page size is known — pruned to the top ``adc_limit * refine``
        ids, so the expensive exact-cosine stage downstream touches a
        pool-sized frame instead of every probed candidate (whose float
        embeddings never enter this stage at all: the scan payload is
        the code column)."""
        meta = self._vector_index_meta()
        is_pq = meta is not None and meta.get("kind") == "ivfpq"
        cand = self._vector_candidates(qvec, nprobe, with_codes=is_pq)
        if not is_pq or "codes" not in cand.columns:
            return cand.select("id")
        from sifts_spark.operators.quantization import pq_adc_score_arrow

        qlit = F.array(*[F.lit(float(x)) for x in qvec]).cast("array<double>")
        scored = cand.select(
            "id",
            pq_adc_score_arrow(
                F.col("codes"), qlit, meta["codebooks"], qid_col=F.lit(0)
            ).alias("_adc"),
        )
        if adc_limit:
            scored = scored.orderBy(
                F.col("_adc").desc_nulls_last(), F.col("id")
            ).limit(max(int(adc_limit) * max(int(refine), 1), int(adc_limit)))
        return scored.select("id")

    # ------------------------------------------------------------------
    # read path
    # ------------------------------------------------------------------

    def docs(self, as_of: int | None = None) -> DataFrame:
        """Current snapshot as a DataFrame (power-user escape hatch).

        ``as_of``: a manifest version (``store.manifest_versions``) for
        snapshot time travel — what the collection looked like when that
        version was published. History is bounded by vacuum retention
        (Delta semantics)."""
        if as_of is not None:
            return self.store.snapshot_at(self.name, as_of)
        return self.store.read(self.name)

    def diff(self, since: int, until: int | None = None) -> DataFrame:
        """Changed ids between manifest versions → (id, change ∈
        added/updated/deleted); ``until=None`` = the current snapshot.
        The incremental-consumer door into
        :meth:`~sifts_spark.sources.store.DocumentStore.diff` —
        versions come from ``store.manifest_versions(name)``.

        Caching contract: the returned frame is backed by an id-sized
        ``persist()`` registered in the session cache registry (the
        operator-persist contract, ``sifts_spark/caching.py``) — it
        stops the verify join from re-running the winner-window scans
        per subtree. That executor memory is freed only by
        :func:`sifts_spark.release_all` (re-exported at the package
        root); a long-lived caller who diffs in a loop without
        releasing accumulates one pinned id-sized cache per call.
        Call ``release_all()`` after the action that consumes the
        diff completes."""
        return self.store.diff(self.name, since, until)

    def count(self) -> int:
        """core.py:125-138."""
        return self.docs().count()

    def get(
        self,
        limit: int | None = None,
        offset: int = 0,
        where: dict | None = None,
        order_by: str | list[str] | None = None,
        group_by_parent: bool = False,
        after: dict | None = None,
    ) -> dict:
        """Plain scan (core.py:370-384) — query('') with no rank column."""
        return self.query(
            "", limit=limit, offset=offset, where=where, order_by=order_by,
            group_by_parent=group_by_parent, after=after,
        )

    def query_df(
        self,
        query_string: str = "",
        limit: int | None = None,
        offset: int = 0,
        where: dict | None = None,
        order_by: str | list[str] | None = None,
        vector_search: bool = False,
        approx: bool = False,
        nprobe: int = 2,
        refine: int = 4,
        group_by_parent: bool = False,
        highlight: bool = False,
        after: dict | None = None,
        exact_runs: bool = False,
        substring_scan: bool = False,
    ) -> DataFrame:
        """DataFrame variant of :meth:`query` — the requested page as a
        DataFrame ``(id, content, metadata[, rank])``, fully lazy, for
        pipeline composition (feed dedup/analysis operators without a
        driver round-trip). ``highlight=True`` (text queries) appends a
        ``snippet`` column via one distributed Arrow pass
        (:func:`~sifts_spark.functions.snippets.snippet_column` — the
        same kernel :meth:`query` uses driver-side, for building
        search-results DATASETS). ``after=`` is the keyset cursor,
        ``substring_scan=`` the leading-``*`` scan opt-in
        (see :meth:`query`)."""
        self._validate_highlight(highlight, query_string, vector_search)
        df, is_search = self._query_plan(
            query_string, where, order_by, vector_search, approx, nprobe,
            # ADC-pruning to limit*refine CHUNKS before a parent
            # collapse can underfill the page (one many-chunk parent
            # may fill the pruned pool alone) — skip the prune and
            # score every probed candidate exactly when collapsing
            adc_limit=None if group_by_parent else limit,
            refine=refine,
            exact_runs=exact_runs,
            substring_scan=substring_scan,
        )
        if group_by_parent:
            df = self._collapse_parents(df, is_search)
        df = self._paginate(df, is_search, order_by, limit, offset, after)
        proj = ["id", "content", "metadata"] + (["rank"] if is_search else [])
        out = df.select(*proj)
        # _validate_highlight guarantees a parseable text query here
        if highlight:
            from sifts_spark.functions.snippets import snippet_column

            fam = self._tok_family()
            out = out.withColumn(
                "snippet",
                snippet_column(
                    parse_query(
                        query_string, tokenizer=fam,
                        substring_scan=substring_scan,
                    ),
                    F.col("content"),
                    tokenizer=fam,
                ),
            )
        return out

    def query(
        self,
        query_string: str = "",
        limit: int | None = None,
        offset: int = 0,
        where: dict | None = None,
        order_by: str | list[str] | None = None,
        vector_search: bool = False,
        approx: bool = False,
        nprobe: int = 2,
        refine: int = 4,
        group_by_parent: bool = False,
        highlight: bool = False,
        after: dict | None = None,
        exact_runs: bool = False,
        substring_scan: bool = False,
    ) -> dict:
        """The unified query pipeline (core.py:190-364).

        Stages: validate → match predicate (text AST | cosine | none) →
        metadata filter → sort → offset/limit → project, with the total
        (the reference's count(*) OVER(), without its single-partition
        window) taken from one read of the match plan by page shape: a
        sorted page with a limit counts through an observation on the
        page's own top-k action; a page with no limit, offset or cursor
        counts its rows; any other page (an unsorted scan with a limit,
        or a sorted page with an offset or cursor but no limit) counts
        a persisted frame that the page then reads. An unlimited sorted
        page is never observed: its global sort samples the plan for
        range bounds first, which would count every row twice.

        ``approx=True`` (extension; requires :meth:`build_vector_index`)
        restricts a ``vector_search`` to the query's ``nprobe`` nearest
        IVF cells before exact scoring — the scale path that replaces
        the reference's full pgvector scan (core.py:558-564). ``total``
        then counts the RANKED CANDIDATES, and recall follows the IVF
        trade (see the index's staleness contract). Over an IVFPQ index
        with a ``limit``, candidates are additionally ADC-pruned to the
        top ``limit * refine`` before exact scoring (``total`` counts
        that pool); reported ranks are ALWAYS exact live-embedding
        cosines — quantization affects which candidates are scored,
        never the scores.

        ``group_by_parent=True`` (for collections built with
        :meth:`add_chunked`): hits collapse to ONE row per parent
        document — the best-ranked chunk for searches, the first chunk
        (document order) for plain scans. The returned ``id`` is the
        PARENT id; the best chunk's text is the content and its
        ``_chunk``/``_begin_char``/``_end_char`` metadata keys carry
        the span provenance. ``where`` filters apply to chunk metadata
        BEFORE the collapse; ``total`` counts matched parents.

        ``highlight=True`` (extension; text queries only): each result
        gains a ``snippet`` — the densest-match window of its content
        with matched tokens bracketed (:func:`~sifts_spark.functions
        .snippets.make_snippet`; call it directly for custom
        window/markers). Driver-side over the page only, so the cost
        is O(limit x doc length) — the bulk path is unaffected.

        ``after=`` (extension): keyset cursor — pass the LAST result
        dict of the previous page (``page["results"][-1]``) to get the
        next page under the same ``order_by``/``where``. Deep
        pagination via ``offset=N`` sorts and skips N rows every page
        (each partition keeps an N+limit heap — the cost GROWS with
        the walk); a cursor compiles to a strictly-after row filter
        under the identical total order (order keys, then id
        tiebreak), so every page is filter + page-sized top-k no
        matter how deep — the seek method, the only pagination shape
        that survives a 100 TB corpus. ``total`` still reports the
        full pre-cursor match count (the PG total semantics). Mutually
        exclusive with ``offset``. Keep ``order_by`` and ``where``
        fixed across a walk; a cursor over an unordered plain scan
        walks in id order — start such a walk from the empty-id cursor
        ``after={"id": ""}`` (the cursorless first page keeps the
        legacy storage-order contract).

        ``exact_runs=True`` (extension; expanding tokenizer families):
        adds the exact run-boundary verify — a query word an expanding
        family compiled to a gram-chain phrase must also occur as a
        written substring of the content, killing the documented
        cross-boundary gram-chain over-match ("中文字" matching
        "中文 文字"; measured rates in CJK_FP_EVAL.json — 0% of natural
        within-run query matches, ~10% of boundary-spanning query
        matches on a maximally-spaced corpus). Costs a content
        re-verify over the candidate pool (the positions-free phrase
        cost class); a no-op for queries without a synthesized
        gram-chain phrase.

        ``substring_scan=True`` (extension): grants leading-``*``
        terms whose head token the family stores whole or
        sub-gram-length — word-family tokens, latin segments under
        cjk_bigram, sub-gram-width needles — by compiling them to
        token-suffix/token-contains leaves (``*x`` / ``*x*``). The
        reference's SQLite backend documents ``*`` anywhere in a term
        (README.md:69). Served through the SAME postings path as every
        text query: the term dictionary answers the ask exactly
        (endswith/contains over the sorted term column — a term-column
        scan for that disjunct, index bytes instead of corpus bytes,
        no per-doc re-tokenization), BM25 aggregates tf/df over the
        matching terms like a trailing-``*`` prefix, and results keep
        the full ranked-search contract. Off by default: the
        parse-time ``ParseError`` with the retokenize-to-trigram
        remedy remains the default posture (an unannounced term-scan
        surprise is worse than an explicit opt-in).
        """
        self._validate_highlight(highlight, query_string, vector_search)
        df, is_search = self._query_plan(
            query_string, where, order_by, vector_search, approx, nprobe,
            # same rationale as query_df: never ADC-prune per-chunk
            # below a parent collapse
            adc_limit=None if group_by_parent else limit,
            refine=refine,
            exact_runs=exact_runs,
            substring_scan=substring_scan,
        )
        if group_by_parent:
            df = self._collapse_parents(df, is_search)
        # Total + page from one read of the match plan (the rule is in
        # the docstring). A sorted page with a limit plans as
        # TakeOrderedAndProject, which reads every pre-limit row exactly
        # once, so a count(1) observed below the cursor filter (total is
        # the pre-cursor count, PG semantics) is exact. An unsorted
        # limit stops reading early, and an unlimited sort runs a
        # RangePartitioner sampling job over the same subtree (an
        # observation there counts each row twice): those pages count a
        # persisted frame that the page then reads, released before
        # query() returns. The bulk path (query_df) stays lazy and never
        # counts.
        proj = ["id", "content", "metadata"] + (["rank"] if is_search else [])

        def page_rows(frame: DataFrame, total: Observation | None = None) -> list:
            return self._paginate(
                frame, is_search, order_by, limit, offset, after, total
            ).select(*proj).collect()

        if limit and (is_search or order_by or after is not None):
            seen = Observation()
            rows = page_rows(df, seen)
            # get blocks until the observed action ends: read it after
            total = seen.get["n"] if rows else 0
        elif not (limit or offset or after is not None):
            rows = page_rows(df)
            total = len(rows)
        else:
            df = df.persist()
            try:
                total = df.count()
                rows = page_rows(df)
            finally:
                df.unpersist()

        snip_ast = None
        snip_fam = None
        # _validate_highlight guarantees a parseable text query here
        if highlight:
            from sifts_spark.functions.snippets import make_snippet

            snip_fam = self._tok_family()
            snip_ast = parse_query(
                query_string, tokenizer=snip_fam,
                substring_scan=substring_scan,
            )
        results = []
        for r in rows:
            d: dict[str, Any] = {
                "id": r["id"],
                "content": r["content"],
                "metadata": json.loads(r["metadata"]) if r["metadata"] else None,
            }
            if is_search:
                d["rank"] = r["rank"]
            if snip_ast is not None:
                d["snippet"] = make_snippet(
                    r["content"], snip_ast, tokenizer=snip_fam
                )
            results.append(d)
        # PG semantics: empty page reports total=0 (core.py:341-344).
        return {"total": total if results else 0, "results": results}

    def mmr_query(
        self,
        query_string: str,
        k: int = 10,
        fetch_k: int | None = None,
        lambda_: float = 0.5,
        where: dict | None = None,
        approx: bool = False,
        nprobe: int = 2,
        group_by_parent: bool = False,
        after: dict | str | None = None,
    ) -> dict:
        """Diversified vector search via Maximal Marginal Relevance
        (extension; Carbonell & Goldstein, SIGIR 1998 — the standard
        redundancy-removing rerank for RAG retrieval, where the top-k
        by cosine is often k near-copies of one passage).

        Two phases: (1) DISTRIBUTED — the usual vector-search plan
        (``where`` filter, optional ``approx``/``nprobe`` IVF pruning)
        pools the top ``fetch_k`` (default ``max(4*k, 20)``) candidates
        by exact cosine, a TakeOrdered per-partition-heap cut, never a
        global sort; (2) DRIVER-SIDE — greedy MMR over the pool
        (:func:`~sifts_spark.operators.vector_search.mmr_select`;
        sequential by nature and pool-sized regardless of corpus
        size). ``lambda_=1`` degenerates to plain top-k order.

        ``group_by_parent=True`` (chunked collections): candidates
        collapse to the best chunk per parent BEFORE the pool cut, so
        diversification operates on distinct parent documents.

        Returns ``{"total": pool_size, "results": [...]}`` in
        SELECTION order; each result carries ``rank`` (the exact
        cosine to the query — never the blended score, mirroring the
        approx path's scores-are-always-exact contract) and
        ``mmr_position`` (its pick order).

        ``after`` — seek-method cursor (r14; the last paginated
        surface without one): pass the previous page's last ``id`` (or
        ``{"id": ...}``) with the SAME query/fetch_k/lambda_ and the
        next ``k`` picks of the deterministic greedy selection come
        back, ``mmr_position`` continuing absolutely. Unlike the
        keyset cursors on ``query``/``hybrid_query`` this does NOT
        shrink the distributed read — MMR's order is defined by the
        greedy recurrence, not a sortable key, so each page re-pools
        and re-runs the (pool-bounded, driver-side, ~fetch_k² dot
        products) selection and slices after the cursor. Flat cost
        per page in CORPUS terms — the pool cut stays TakeOrdered —
        just not decreasing in pool terms. A cursor id that the
        selection never picked raises (stale cursor / changed params).
        """
        if not 0.0 <= lambda_ <= 1.0:
            raise ValueError(f"lambda_ must be in [0, 1], got {lambda_}")
        pool_n = fetch_k or max(4 * k, 20)
        if pool_n < k:
            raise ValueError(f"fetch_k ({pool_n}) must be >= k ({k})")
        df, _ = self._query_plan(
            query_string, where, None, True, approx, nprobe,
            adc_limit=None if group_by_parent else pool_n, refine=4,
        )
        if group_by_parent:
            df = self._collapse_parents(df, True)
        pool = (
            df.orderBy(F.col("rank").desc(), F.col("id"))
            .limit(pool_n)
            .select("id", "content", "metadata", "rank", "embedding")
            .collect()
        )
        from sifts_spark.operators.vector_search import mmr_select

        picks, base = self._mmr_page(
            pool,
            [r["rank"] for r in pool],
            [r["embedding"] for r in pool],
            k,
            lambda_,
            after,
            mmr_select,
        )
        results = []
        for pos, i in enumerate(picks, start=base):
            r = pool[i]
            results.append(
                {
                    "id": r["id"],
                    "content": r["content"],
                    "metadata": json.loads(r["metadata"])
                    if r["metadata"]
                    else None,
                    "rank": r["rank"],
                    "mmr_position": pos,
                }
            )
        return {"total": len(pool) if results else 0, "results": results}

    @staticmethod
    def _mmr_page(pool, rel, embs, k, lambda_, after, mmr_select):
        """(pick indices for this page, absolute position of the first)
        — the shared cursor slice for :meth:`mmr_query` /
        :meth:`hybrid_mmr_query`. No cursor: plain first-k selection.
        With a cursor: the FULL pool selection order is computed (the
        greedy is deterministic — rank desc, id asc pool order + first-
        argmax tie-break — so every page sees the identical sequence)
        and sliced strictly after the cursor id."""
        if after is None:
            return mmr_select(rel, embs, k, lambda_), 0
        after_id = after.get("id") if isinstance(after, dict) else after
        if after_id is None:
            raise ValueError("after must be an id string or {'id': ...}")
        order = mmr_select(rel, embs, len(pool), lambda_)
        ids = [pool[i]["id"] for i in order]
        try:
            pos = ids.index(str(after_id))
        except ValueError:
            raise ValueError(
                f"after id {after_id!r} is not in this query's selection "
                "order — stale cursor, or query/fetch_k/lambda_ changed "
                "between pages"
            ) from None
        return order[pos + 1 : pos + 1 + k], pos + 1

    def hybrid_mmr_query(
        self,
        query_string: str,
        k: int = 10,
        fetch_k: int | None = None,
        lambda_: float = 0.5,
        where: dict | None = None,
        rrf_k: int = 60,
        weights: tuple[float, float] = (1.0, 1.0),
        approx: bool = False,
        nprobe: int = 2,
        group_by_parent: bool = False,
        after: dict | str | None = None,
        exact_runs: bool = False,
        substring_scan: bool = False,
    ) -> dict:
        """MMR diversification over the HYBRID (BM25×vector RRF) pool —
        :meth:`hybrid_query`'s retrieval with :meth:`mmr_query`'s
        redundancy removal. The fused top ``fetch_k`` (default
        ``max(4*k, 50)`` — the SAME leg-pool default as
        :meth:`hybrid_query`, so ``lambda_=1`` reproduces its order
        exactly; a different pool size shifts RRF contributions at
        the leg-pool boundary) candidates join their live embeddings
        (pool-sized join), then greedy MMR picks ``k``
        (:func:`~sifts_spark.operators.vector_search.mmr_select`).

        RRF scores live on a ~1/rrf_k scale, far below unit cosines,
        and their gaps are rank-shaped (a two-tier pool min-max
        normalizes to 1-vs-~0, letting a near-duplicate's sliver of
        cosine margin beat every diverse candidate), so relevance
        enters the λ blend RANK-NORMALIZED: position ``i`` of the
        fused order maps to ``(n-1-i)/(n-1)`` — uniform spacing on
        [0, 1], faithful to RRF's own score-free philosophy; λ keeps
        its usual meaning (1 = pure fused order, 0 = pure diversity).
        Rows without an embedding (possible for FTS-only hits in a
        mixed collection) participate as zero vectors: cosine 0 to
        everything, never penalized for redundancy, never shielding
        others.

        Returns results in SELECTION order with ``rank`` = the RRF
        score and ``mmr_position``; ``total`` = pool size, as in
        :meth:`mmr_query`. ``group_by_parent=True`` collapses chunks
        to parents before the pool cut (best fused chunk carries its
        embedding into the diversity term). ``after`` — the same
        pool-bounded seek cursor as :meth:`mmr_query` (last consumed
        ``id``, same query/fetch_k/lambda_ per walk).
        """
        if not 0.0 <= lambda_ <= 1.0:
            raise ValueError(f"lambda_ must be in [0, 1], got {lambda_}")
        pool_n = fetch_k or max(4 * k, 50)
        if pool_n < k:
            raise ValueError(f"fetch_k ({pool_n}) must be >= k ({k})")
        fused = self._hybrid_fused(
            query_string, where, rrf_k, pool_n, weights, approx, nprobe,
            exact_runs=exact_runs, substring_scan=substring_scan,
        )
        joined = fused.join(
            self.docs().select("id", "content", "metadata", "embedding"),
            "id",
        )
        if group_by_parent:
            joined = self._collapse_parents(
                joined.withColumnRenamed("rrf", "rank"), is_search=True
            ).withColumnRenamed("rank", "rrf")
        pool = (
            joined.orderBy(F.col("rrf").desc(), F.col("id"))
            .limit(pool_n)
            .collect()
        )
        from sifts_spark.operators.vector_search import mmr_select

        n = len(pool)
        rel = [
            (n - 1 - i) / (n - 1) if n > 1 else 1.0 for i in range(n)
        ]
        dim = next(
            (len(r["embedding"]) for r in pool if r["embedding"] is not None),
            1,
        )
        embs = [
            list(r["embedding"])
            if r["embedding"] is not None
            else [0.0] * dim
            for r in pool
        ]
        picks, base = self._mmr_page(
            pool, rel, embs, k, lambda_, after, mmr_select
        )
        results = []
        for pos, i in enumerate(picks, start=base):
            r = pool[i]
            results.append(
                {
                    "id": r["id"],
                    "content": r["content"],
                    "metadata": json.loads(r["metadata"])
                    if r["metadata"]
                    else None,
                    "rank": r["rrf"],
                    "mmr_position": pos,
                }
            )
        return {"total": len(pool) if results else 0, "results": results}

    @staticmethod
    def _validate_highlight(
        highlight: bool, query_string: str, vector_search: bool
    ) -> None:
        """R1-style validation (the order_by/vector_search precedent):
        ``highlight`` marks matched QUERY TOKENS, so it is definable
        only for a text search — silently returning rows without the
        requested ``snippet`` column (the pre-r11 behavior) gave the
        caller no signal why it was missing."""
        if not highlight:
            return
        if vector_search:
            raise ValueError(
                "highlight=True cannot be combined with "
                "vector_search=True: a vector query has no match "
                "tokens to mark (use hybrid_query for fused "
                "text+vector results with snippets)"
            )
        if not query_string.strip():
            raise ValueError(
                "highlight=True requires a non-empty text query: a "
                "plain scan has no match tokens to mark"
            )

    def _query_plan(
        self,
        query_string: str,
        where: dict | None,
        order_by: str | list[str] | None,
        vector_search: bool,
        approx: bool = False,
        nprobe: int = 2,
        adc_limit: int | None = None,
        refine: int = 4,
        exact_runs: bool = False,
        substring_scan: bool = False,
    ) -> tuple[DataFrame, bool]:
        """Validate + build the pre-pagination plan (match ∧ where, with
        rank column for searches).

        ``adc_limit``/``refine`` apply only to an ``approx`` search over
        an IVFPQ index: the probed candidates are ADC-scored from their
        PQ codes and pruned to the top ``adc_limit * refine`` before
        exact cosine scoring — the faiss IVFADC-with-refinement plan.
        ``adc_limit=None`` (no page limit known) skips the prune: all
        probed candidates are scored exactly, same recall as float
        IVF."""
        # R1 validations (core.py:200-205)
        if vector_search and order_by:
            raise ValueError("order_by cannot be combined with vector_search")
        if vector_search and self.embedding_function is None:
            raise ValueError("vector_search requires an embedding_function")
        if approx and not vector_search:
            raise ValueError("approx=True requires vector_search=True")
        has_text = bool(query_string.strip())
        if has_text and not vector_search and not self.use_fts:
            raise ValueError("Full-text search is not enabled for this collection")

        df = self.docs()
        is_search = False
        if vector_search:
            qvec = [float(x) for x in self.embedding_function([query_string])[0]]
            if approx:
                # Candidate ids from the probed cells only; the join
                # back to the snapshot keeps scoring on LIVE embeddings
                # (stale index rows for deleted/updated docs drop out
                # or re-score — never stale values).
                df = df.join(
                    self._approx_candidates(qvec, nprobe, adc_limit, refine),
                    "id",
                )
            # r18: the seqfold Arrow kernel replaces the interpreted
            # HOF fold on the serving path. Collection rank is
            # UNROUNDED and user-visible, so the ordinary Arrow cosine
            # (pairwise-SIMD sum order, last-ulp drift) was never
            # eligible; this kernel reproduces the fold's exact float
            # semantics (sequential cumsum, same IEEE ops) — pinned
            # bit-exact incl. null/zero-norm/dim-mismatch/NaN edges by
            # test_seqfold_kernel_bitexact_vs_hof. A/B on this shape:
            # sf1 med 0.620→0.305s (2×), sf0.1 parity.
            df = df.filter(F.col("embedding").isNotNull()).withColumn(
                "rank",
                cosine_vs_const_seqfold_arrow(F.col("embedding"), qvec),
            )
            is_search = True
        elif has_text:
            # BM25 with MEMOIZED corpus stats: (N, avgdl) are computed
            # from the live postings once per snapshot and facade
            # (_corpus_stats), so the query plan itself contains no
            # stats aggregation over the postings index.
            fam = self._tok_family()
            # substring_scan grants (Suffix/Substring leaves) flow
            # through the SAME postings path as every text query (r16):
            # the term dictionary answers a token-substring ask exactly
            # (search_postings: endswith/contains over the sorted term
            # column — a term-column scan for that disjunct, index
            # bytes instead of corpus bytes), BM25 aggregates tf/df
            # over the matching terms like a Prefix leaf, and results
            # keep the full ranked-search contract.
            ast = parse_query(
                query_string, tokenizer=fam, substring_scan=substring_scan
            )
            n_docs, avgdl = self._corpus_stats()
            # On a full fold whose postings carry df, whole-term ASTs
            # score the filtered rows in one pass (search_postings
            # switches on the column). Otherwise, the default pool=None:
            # no operator-internal persist, so the serving path never
            # leaks CacheManager entries (Spark holds InMemoryRelations
            # strongly until an explicit unpersist). The double index
            # probe it costs is measured-cheaper than the pool persist
            # at sf0.1 AND sf1 (see search_postings' docstring, r8).
            scored = _search.search_postings(
                self.store.read_postings(self.name), ast,
                n_docs=n_docs, avgdl=avgdl,
            )
            df = df.join(scored, "id")
            # quoted phrases: over a POSITIONAL index (index_positions=
            # True) search_postings verified adjacency index-side and
            # returns ``_pending`` — only truncation/pre-positions-batch
            # inconclusive rows re-tokenize their content (a fully
            # positional store has none, so the when() branch never
            # touches the bytes). Positions-free index: the candidates
            # are all-words-present — verify adjacency on the joined
            # content (map-side predicate over the candidate pool only).
            # Phrase-free queries skip this branch entirely, so their
            # plans stay byte-identical. BM25 rank for a phrase is the
            # sum of its words' contributions (the positions-free
            # approximation) on either layout.
            if exact_runs and has_run_phrase(ast):
                # opt-in EXACT RUN-BOUNDARY verify (expanding families):
                # index-side adjacency CONFIRMS a gram-chain match, so
                # _pending=False does not prove run-exactness — the
                # residual verify anchors the synthesized phrases'
                # written words in raw content (rates in
                # CJK_FP_EVAL.json; cost tiering in exact_runs_verify —
                # conjunctive spines pay one Contains per phrase, no
                # content re-tokenize).
                from sifts_spark.operators.search import exact_runs_verify

                df = exact_runs_verify(df, ast, "content", fam)
            elif has_phrase(ast):
                from sifts_spark.functions.text import tokenize as _tok

                verify = ast.to_column(_tok(F.col("content"), fam))
                if "_pending" in scored.columns:
                    df = df.filter(
                        F.when(F.col("_pending"), verify).otherwise(
                            F.lit(True)
                        )
                    ).drop("_pending")
                else:
                    df = df.filter(verify)
            is_search = True

        if where:
            df = df.filter(
                compile_where(F.col("metadata"), where, self._promoted_map())
            )
        return df, is_search

    def _promoted_map(self) -> dict | None:
        """Promoted-key → (string, double) sidecar columns for
        compile_where — predicates on these push to the parquet scan."""
        keys = self.store.promoted_keys(self.name)
        if not keys:
            return None
        return {
            k: (F.col(f"_m_{k}"), F.col(f"_mn_{k}")) for k in keys
        }

    def hybrid_query(
        self,
        query_string: str,
        k: int = 10,
        where: dict | None = None,
        rrf_k: int = 60,
        pool: int | None = None,
        weights: tuple[float, float] = (1.0, 1.0),
        approx: bool = False,
        nprobe: int = 2,
        group_by_parent: bool = False,
        highlight: bool = False,
        after: dict | None = None,
        exact_runs: bool = False,
        substring_scan: bool = False,
    ) -> dict:
        """Hybrid text+vector search fused by Reciprocal Rank Fusion
        (extension — the reference exposes FTS and vector search only
        separately, core.py:190-364; RRF is the standard score-free
        fusion: Cormack/Clarke/Buettcher, SIGIR 2009).

        Both retrievers rank the same live snapshot: BM25 over the
        postings index and cosine over the embedding column (the
        ``approx``/``nprobe`` IVF path applies to the vector leg).
        Each leg keeps its top-``pool`` (default ``max(4*k, 50)``);
        fused score = ``w_t/(rrf_k + pos_text) + w_v/(rrf_k +
        pos_vec)``, a leg contributing 0 for ids it did not retrieve.
        Returns ``{"total": fused_candidates, "results": [{id,
        content, metadata, rank}]}`` with ``rank`` = the RRF score.

        Scale shape: each leg is a TakeOrderedAndProject to ``pool``
        rows (per-partition heaps, no global sort); the global
        row_number windows and the full-outer fuse run on pool-sized
        frames; only the final ``k`` winners join back to the snapshot
        for their payload.

        ``group_by_parent=True`` (chunked collections, see
        :meth:`add_chunked`): fusion stays per-CHUNK (each leg ranks
        chunks), then hits collapse to the best-fused chunk per parent
        before the top-``k`` cut — UP TO ``k`` distinct parent
        documents come back, each carrying its winning chunk's text
        and span metadata; ``total`` counts matched parents. The pool
        is cut at CHUNK granularity before the collapse, so a corpus
        where a few parents' many chunks dominate both legs can yield
        fewer than ``k`` parents even though more match below the
        pool cut — raise ``pool`` to widen. The payload join happens
        on the pool-sized frame instead of the ``k`` winners (the
        collapse needs metadata) — still pool-bounded.

        ``highlight=True``: per-result ``snippet`` over the TEXT leg's
        query terms (same contract as :meth:`query`; a vector-leg-only
        hit simply shows its unmarked leading window).

        ``after=`` (extension): keyset cursor over the FUSED order
        (rrf desc, id asc) — pass a result dict from the previous page
        (it carries ``rank`` = the RRF score and ``id``); the next
        page is the strictly-after filter + top-``k`` cut on the same
        deterministic pool. ``total`` stays the full fused-candidate
        count (total-before-cursor, matching offset semantics). The
        pool must be the same (or wider) across pages — a cursor from
        a wider pool may skip rows a narrower pool never ranked.
        """
        # Same error surface as query/query_df for the same misuse: a
        # whitespace-only query with highlight=True must raise the
        # _validate_highlight ValueError, not a downstream parser error
        # (vector_search never applies on the hybrid path).
        self._validate_highlight(highlight, query_string, False)
        after_pred = (
            None if after is None else _hybrid_after_pred(after)
        )
        fused = self._hybrid_fused(
            query_string, where, rrf_k, pool or max(4 * k, 50),
            weights, approx, nprobe, exact_runs=exact_runs,
            substring_scan=substring_scan,
        ).persist()  # pool-sized; without it the count + collect each
        # re-run BOTH retrieval legs over the corpus
        try:
            if group_by_parent:
                parents = self._hybrid_parent_pool(fused).persist()
                try:
                    total = parents.count()
                    page = (
                        parents
                        if after_pred is None
                        else parents.filter(after_pred)
                    )
                    rows = (
                        page.orderBy(F.col("rrf").desc(), F.col("id"))
                        .limit(k)
                        .collect()
                    )
                finally:
                    parents.unpersist()
            else:
                total = fused.count()
                page = (
                    fused
                    if after_pred is None
                    else fused.filter(after_pred)
                )
                rows = self._hybrid_winners(page, k).collect()
        finally:
            fused.unpersist()
        results = [
            {
                "id": r["id"],
                "content": r["content"],
                "metadata": json.loads(r["metadata"]) if r["metadata"] else None,
                "rank": r["rrf"],
            }
            for r in rows
        ]
        if highlight:
            from sifts_spark.functions.snippets import make_snippet

            fam = self._tok_family()
            snip_ast = parse_query(
                query_string, tokenizer=fam, substring_scan=substring_scan
            )
            for d in results:
                d["snippet"] = make_snippet(d["content"], snip_ast, tokenizer=fam)
        return {"total": total if results else 0, "results": results}

    def hybrid_query_df(
        self,
        query_string: str,
        k: int = 10,
        where: dict | None = None,
        rrf_k: int = 60,
        pool: int | None = None,
        weights: tuple[float, float] = (1.0, 1.0),
        approx: bool = False,
        nprobe: int = 2,
        group_by_parent: bool = False,
        highlight: bool = False,
        after: dict | None = None,
        exact_runs: bool = False,
        substring_scan: bool = False,
    ) -> DataFrame:
        """DataFrame variant of :meth:`hybrid_query` — the ``k`` fused
        winners as a lazy ``(id, content, metadata, rank)`` frame
        (``rank`` = RRF score), for pipeline composition; same
        semantics, no driver round-trip, no pre-limit total count.
        ``highlight=True`` appends a ``snippet`` column over the TEXT
        leg's query terms in one distributed Arrow pass
        (:func:`~sifts_spark.functions.snippets.snippet_column` — the
        same kernel :meth:`hybrid_query` applies driver-side, so the
        two paths can never disagree; a vector-leg-only hit shows its
        unmarked leading window)."""
        self._validate_highlight(highlight, query_string, False)
        after_pred = (
            None if after is None else _hybrid_after_pred(after)
        )
        fused = self._hybrid_fused(
            query_string, where, rrf_k, pool or max(4 * k, 50),
            weights, approx, nprobe, exact_runs=exact_runs,
            substring_scan=substring_scan,
        )
        if group_by_parent:
            parents = self._hybrid_parent_pool(fused)
            if after_pred is not None:
                parents = parents.filter(after_pred)
            winners = (
                parents
                .orderBy(F.col("rrf").desc(), F.col("id"))
                .limit(k)
            )
        else:
            if after_pred is not None:
                fused = fused.filter(after_pred)
            winners = self._hybrid_winners(fused, k)
        out = winners.select("id", "content", "metadata",
                             F.col("rrf").alias("rank"))
        if highlight:
            from sifts_spark.functions.snippets import snippet_column

            fam = self._tok_family()
            out = out.withColumn(
                "snippet",
                snippet_column(
                    parse_query(
                        query_string, tokenizer=fam,
                        substring_scan=substring_scan,
                    ),
                    F.col("content"),
                    tokenizer=fam,
                ),
            )
        return out

    def _hybrid_fused(
        self,
        query_string: str,
        where: dict | None,
        rrf_k: int,
        pool: int,
        weights: tuple[float, float],
        approx: bool,
        nprobe: int,
        exact_runs: bool = False,
        substring_scan: bool = False,
    ) -> DataFrame:
        """(id, rrf) for every candidate either leg retrieved.
        ``exact_runs`` and ``substring_scan`` apply to the TEXT leg
        (see :meth:`query`)."""
        if not self.use_fts:
            raise ValueError("hybrid_query requires use_fts=True")
        if self.embedding_function is None:
            raise ValueError("hybrid_query requires an embedding_function")
        if not query_string.strip():
            raise ValueError("hybrid_query requires a non-empty query")
        w_t, w_v = (float(weights[0]), float(weights[1]))

        text_leg, _ = self._query_plan(
            query_string, where, None, vector_search=False,
            exact_runs=exact_runs, substring_scan=substring_scan,
        )
        vec_leg, _ = self._query_plan(
            query_string, where, None, vector_search=True,
            approx=approx, nprobe=nprobe, adc_limit=pool,
        )
        legs = []
        for leg, name in ((text_leg, "pos_t"), (vec_leg, "pos_v")):
            top = (
                leg.select("id", "rank")
                .orderBy(F.col("rank").desc_nulls_last(), F.col("id"))
                .limit(pool)
            )
            w = Window.orderBy(F.col("rank").desc_nulls_last(), F.col("id"))
            legs.append(
                top.withColumn(name, F.row_number().over(w)).select("id", name)
            )
        return (
            legs[0]
            .join(legs[1], "id", "full_outer")
            .select(
                "id",
                (
                    F.coalesce(
                        F.lit(w_t) / (F.lit(rrf_k) + F.col("pos_t")), F.lit(0.0)
                    )
                    + F.coalesce(
                        F.lit(w_v) / (F.lit(rrf_k) + F.col("pos_v")), F.lit(0.0)
                    )
                ).alias("rrf"),
            )
        )

    def _hybrid_winners(self, fused: DataFrame, k: int) -> DataFrame:
        """Top-k fused rows joined with their snapshot payload."""
        winners = fused.orderBy(F.col("rrf").desc(), F.col("id")).limit(k)
        return (
            winners.join(self.docs().select("id", "content", "metadata"), "id")
            .orderBy(F.col("rrf").desc(), F.col("id"))
        )

    def _hybrid_parent_pool(self, fused: DataFrame) -> DataFrame:
        """Fused pool joined with its payload, collapsed to the best
        fused chunk per parent — pool-sized in, ≤pool-sized out."""
        joined = fused.join(
            self.docs().select("id", "content", "metadata"), "id"
        )
        return self._collapse_parents(
            joined.withColumnRenamed("rrf", "rank"), is_search=True
        ).withColumnRenamed("rank", "rrf")

    def _collapse_parents(self, df: DataFrame, is_search: bool) -> DataFrame:
        """One row per parent document for chunked collections: the
        best-ranked chunk (searches) or the first chunk in document
        order (plain scans). Parent = the reserved ``_parent`` metadata
        key, falling back to the row's own id, so mixed chunked/whole
        collections collapse correctly. One window shuffle keyed by
        parent over the (candidate-pool-sized for searches) frame —
        per-group sorts are chunks-per-doc tiny."""
        parent = F.coalesce(
            F.get_json_object(F.col("metadata"), "$._parent"), F.col("id")
        )
        order = (
            [F.col("rank").desc_nulls_last()]
            if is_search
            else [
                F.coalesce(
                    F.get_json_object(F.col("metadata"), "$._chunk")
                    .cast("int"),
                    F.lit(0),
                ).asc()
            ]
        )
        w = Window.partitionBy("__parent").orderBy(*order, F.col("id"))
        return (
            df.withColumn("__parent", parent)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .withColumn("id", F.col("__parent"))
            .drop("__rn", "__parent")
        )

    def _tok_family(self) -> str:
        """The INDEX's token family (sticky ``_tokenizer`` marker) —
        read fresh per query so a cross-handle retokenize/compact
        upgrade is honored immediately (one driver-side small-file
        read; the same cost class as the manifest read every query
        already pays)."""
        return self.store.postings_tokenizer(self.name)

    def _corpus_stats(self) -> tuple[int, float]:
        """Memoized (N, avgdl) for BM25 — recomputed when THIS facade
        writes (local version counter, no filesystem metadata op on the
        query path). External writers: call :meth:`refresh`."""
        key = self._docs_version
        hit = self._stats_cache.get(key)
        if hit is None:
            hit = _search.corpus_stats(self.store.read_postings(self.name))
            self._stats_cache = {key: hit}  # single-snapshot cache
        return hit

    def _paginate(
        self,
        df: DataFrame,
        is_search: bool,
        order_by: str | list[str] | None,
        limit: int | None,
        offset: int,
        after: dict | None = None,
        total: Observation | None = None,
    ) -> DataFrame:
        """Sort (R7 / rank-desc default) then offset/limit (R9).

        ``limit`` in (None, 0) means NO limit — the reference's default
        ``limit=0`` only appends LIMIT when truthy (core.py:327-333).

        ``after`` (extension): keyset cursor — a result dict from a
        previous page (``page["results"][-1]``). Compiles to a
        strictly-after row-comparison FILTER under the same total order
        the sort uses (order keys, then id), so deep pagination stays a
        filter + page-sized top-k instead of ``OFFSET N``'s
        N+page-sized per-partition heaps — the seek method, the only
        pagination that survives a 100 TB corpus. Mutually exclusive
        with ``offset``; a cursor over an UNORDERED plain scan walks in
        id order (an explicit order is what makes a seek meaningful).

        ``total``: an observation of the pre-cursor row count
        (``count(1)`` as ``n``), attached once the page's inputs have
        validated — an observation whose action never runs stays
        registered with the session."""
        pm = self._promoted_map()
        sort_cols = compile_order_by(
            F.col("metadata"), order_by, numeric="auto", promoted=pm,
        )
        if after is not None:
            if offset:
                raise ValueError(
                    "after= (keyset cursor) and offset are mutually "
                    "exclusive — a cursor IS the page position"
                )
            meta_json, cur_id, cur_rank = _keyset_cursor(after)
            if sort_cols:
                pred = compile_keyset_after(
                    F.col("metadata"), order_by, meta_json, cur_id,
                    F.col("id"), numeric="auto", promoted=pm,
                )
            elif is_search:
                if "rank" not in after:
                    # a missing rank would compile as a rank-NULL
                    # cursor, which sorts after every ranked row —
                    # silently returning zero results. Refuse instead
                    # (mirrors the offset/after mutual-exclusion error).
                    raise ValueError(
                        "after= on a ranked search page requires the "
                        "cursor dict to carry 'rank' (pass the result "
                        "dict exactly as the previous page returned it)"
                    )
                # rank desc_nulls_last, id asc — as the default sort
                rank = F.col("rank")
                pred = lexicographic_after([
                    (rank.isNull(), F.lit(cur_rank is None), False),
                    (rank, F.lit(cur_rank).cast("double"), True),
                    (F.col("id"), F.lit(cur_id), False),
                ])
            else:
                pred = F.col("id") > F.lit(cur_id)
        if total is not None:
            df = df.observe(total, F.count(F.lit(1)).alias("n"))
        if after is not None:
            df = df.filter(pred)
        if sort_cols:
            # id tiebreak keeps pages deterministic under equal keys
            df = df.orderBy(*sort_cols, F.col("id"))
        elif is_search:
            # Deterministic default: rank desc, id tiebreak (documented
            # deviation from reference storage order, SURVEY §2.7).
            df = df.orderBy(F.col("rank").desc_nulls_last(), F.col("id"))
        elif after is not None:
            df = df.orderBy(F.col("id"))
        if offset:
            df = df.offset(offset)
        if limit:
            df = df.limit(limit)
        return df


def _hybrid_after_pred(after: dict) -> Column:
    """Strictly-after predicate over the hybrid fused order
    (``rrf`` desc, ``id`` asc) from a previous page's result dict.
    The RRF score is the cursor's ``rank`` (exactly as
    :meth:`SparkCollection.hybrid_query` returns it) and is never NULL
    on a fused row, so a missing/None rank is caller error, not a
    NULL-cursor sort position — refuse it (same posture as the ranked
    search cursor in ``_paginate``)."""
    if (
        not isinstance(after, dict)
        or "id" not in after
        or after.get("rank") is None
    ):
        raise ValueError(
            "hybrid after= expects a result dict from a previous "
            "hybrid page carrying 'id' and 'rank' (the RRF score)"
        )
    return lexicographic_after(
        [
            (
                F.col("rrf"),
                F.lit(float(after["rank"])).cast("double"),
                True,
            ),
            (F.col("id"), F.lit(str(after["id"])), False),
        ]
    )


def _keyset_cursor(after: dict) -> tuple[str | None, str, float | None]:
    """Normalize an ``after=`` cursor to (metadata_json, id, rank).

    Accepts a result dict exactly as :meth:`CollectionHandle.query`
    returns it — ``metadata`` may be the parsed dict (re-serialized
    with the same ``json.dumps`` the write path uses, so facade-written
    tokens roundtrip byte-identically), an already-raw JSON string, or
    None. Caveat for EXTERNALLY written raw JSON: numerically-equal but
    differently-spelled tokens ("1.50" vs a re-serialized "1.5") can
    perturb tie order among equal sort keys — the id tiebreak keeps the
    walk complete and duplicate-free regardless."""
    if not isinstance(after, dict) or "id" not in after:
        raise ValueError(
            "after= expects a result dict from a previous page "
            "(at minimum {'id': ...})"
        )
    meta = after.get("metadata")
    if isinstance(meta, (dict, list)):
        meta_json: str | None = json.dumps(meta)
    elif meta is None or isinstance(meta, str):
        meta_json = meta
    else:
        raise ValueError(f"after['metadata'] must be dict/str/None, got {type(meta)}")
    rank = after.get("rank")
    return meta_json, str(after["id"]), None if rank is None else float(rank)


def Collection(
    db_url: str = "",
    name: str = "default",
    embedding_function: EmbeddingFunction | None = None,
    use_fts: bool = True,
    spark: SparkSession | None = None,
    auto_compact_batches: int | None = None,
    vacuum_grace_seconds: float = 300.0,
    auto_compact_fold_bytes: int | None = None,
    index_positions: bool | None = None,
    promote_metadata: list[str] | None = None,
    tokenizer: str | None = None,
) -> SparkCollection:
    """Factory with reference-shaped URL-scheme dispatch (core.py:714-737).

    The reference routes: empty → default SQLite file (core.py:721-724),
    ``sqlite:///path`` → SQLite backend (core.py:725-731), anything else
    → a Postgres DSN (core.py:732-737). Here every collection lives in
    ONE Spark store whose root may sit on any Hadoop-supported
    filesystem:

    * empty → ``./sifts_spark_store`` (default-file parity)
    * ``sqlite:///path`` / ``sifts://path`` → ``path`` as the store root
      (a reference user's SQLite URL keeps working; the "db file"
      becomes a store directory)
    * ``file://``, ``hdfs://``, ``s3a://``, ``gs://``, ``abfs://``, … →
      passed through to the Hadoop FileSystem resolved from the scheme
    * ``postgres://`` / ``postgresql://`` DSNs → rejected with guidance:
      there is no server to dial; point the engine at a storage root.
    """
    root = db_url or "./sifts_spark_store"
    if re.match(r"^postgres(ql)?://", root):
        raise ValueError(
            "PostgreSQL DSNs are not supported: this engine stores "
            "collections on a (distributed) filesystem. Pass a storage "
            "root path or URI (e.g. '/data/store', 'hdfs:///store', "
            "'s3a://bucket/store') instead."
        )
    for prefix in ("sqlite:///", "sifts://"):
        if root.startswith(prefix):
            root = root[len(prefix):] or "./sifts_spark_store"
            break
    return SparkCollection(
        root,
        name,
        embedding_function=embedding_function,
        use_fts=use_fts,
        spark=spark,
        auto_compact_batches=auto_compact_batches,
        vacuum_grace_seconds=vacuum_grace_seconds,
        auto_compact_fold_bytes=auto_compact_fold_bytes,
        index_positions=index_positions,
        promote_metadata=promote_metadata,
        tokenizer=tokenizer,
    )
