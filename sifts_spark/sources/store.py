"""Log-structured partitioned-Parquet document store.

Replaces the reference's mutable row stores (SQLite b-tree / PG heap,
/root/reference/src/sifts/core.py:457-482, :603-632) with an append-only
layout that gives Spark-native upsert/delete WITHOUT requiring Delta:

    root/
      name=<collection>/          <- partition column: tenant pruning
        batch=<n>/part-*.parquet  <- monotonically increasing write batches
      _postings/                  <- derived FTS postings (operators/search)

* ``add`` appends a new ``batch=N`` directory — never rewrites live data,
  so concurrent readers see a consistent snapshot (reads list batch dirs
  at plan time).
* upsert-on-conflict (core.py:493-501 ``ON CONFLICT(id) DO UPDATE``) is
  resolved AT READ: ``row_number() OVER (PARTITION BY id ORDER BY batch
  DESC) = 1`` keeps the newest version of each id.
* ``delete`` appends tombstone rows (``deleted=true``); the read path
  filters them after dedup — classic LSM semantics.
* ``delete_all`` drops the ``name=X`` partition (a metadata/fs operation,
  like Delta ``replaceWhere`` — core.py:386-400 parity).
* ``compact()`` folds a collection's batches into one, bounding the
  read-time dedup cost; at 100 TB you run it on a schedule exactly like
  Delta OPTIMIZE. Compaction never deletes data: it publishes a new
  ``_manifest`` that stops referencing the superseded batches, and
  ``vacuum()`` reclaims them later — the Delta OPTIMIZE/VACUUM split.

**The `_manifest` (transactional metadata).** Each collection carries
its live batch list, the postings sidecar batch list, the full-fold
provenance and its sticky index layout (token family, postings
positions, stop-gram pruning ratio, promoted metadata keys) as
versioned JSON; a layout change commits in the same version as the
batches it rewrites. A read resolves one :class:`Snapshot` from one
manifest read and plans every scan against it. Stores written before
the manifest carried the layout kept it in marker files (``_tokenizer``,
``_positions``, ``_stop_df``, ``_promoted``); those are read, with
their old rules, only until the first publish records the fields and
deletes them. The COMMIT POINT is a conditional put:
every publish writes an immutable ``name=X/_manifest_log/v{n}`` via
temp-write + no-clobber rename — of two publishers racing a version
number exactly one wins, the loser re-derives against the newer state
and claims the next number (Delta-log commit protocol, no
coordinator). The ``name=X/_manifest`` pointer file is a read-RTT
cache refreshed after each commit; readers resolve pointer-first, then
highest committed log version (so a pointer mid-replace or lagging a
concurrent publisher still serves the current manifest), then —
pre-manifest stores only — a directory LIST. This is what the
reference gets from DB transactions
(core.py:446-455, :592-601), reconstructed Delta-log-style:

* **compact-vs-reader race closed**: a reader that planned against the
  old manifest still has its files on disk until ``vacuum(min_age)``
  reclaims them; size ``min_age`` above your longest query, exactly
  Delta's VACUUM retention contract.
* **writer contract**: concurrent ``append_batch`` writers are safe on
  any FS with atomic create (local/HDFS) — each publish re-derives the
  live list from the materialized dirs, so interleaved publishes
  converge instead of losing updates. ``compact``/``vacuum`` assume a
  single maintenance process (the Delta-on-S3 single-writer posture);
  the worst interleaving re-lists a superseded batch, which is
  value-identical dead weight under newest-batch-wins (the folded batch
  outranks everything it folded), reclaimed by the next compact.

**Object-store safe**: every layout/metadata operation (batch discovery,
partition drop, compaction cleanup) goes through the Hadoop FileSystem
API resolved from the root's scheme — the identical code path serves
local disk, ``file://``, ``hdfs://``, ``s3a://``, ``gs://``, ``abfs://``.
No driver-side POSIX directory calls anywhere: at 100 TB the store
lives on an object store that those calls would simply not see.

Schema evolution (reference core.py:472-482 ``PRAGMA table_info`` +
``ALTER TABLE ADD COLUMN`` parity): DOC_SCHEMA is the canonical superset;
``append_batch`` fills any absent nullable column with NULL, and the read
path always presents the canonical schema (missing columns in old batch
files read as NULL via explicit-schema parquet reads) — an old store
created before a column existed keeps working, like the reference's
lazily ALTERed tables.

Scale notes: the dedup shuffle is per-collection (partition-pruned) and
keyed by ``id`` — the same shuffle a Delta MERGE pays. A freshly
compacted collection has exactly one version per id, and AQE coalesces
the near-empty post-filter partitions.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.parse
import uuid

import threading
from dataclasses import dataclass, replace

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Serializes reserve_batch across threads of ONE process (a Spark
# driver hosting several Collection handles). Cross-process atomicity
# comes from the marker create itself (_atomic_create_marker).
_RESERVE_LOCK = threading.Lock()

# ``stop_df_ratio`` omitted: keep the recorded ratio (None/0 clears it).
_KEEP = object()

# Canonical document schema (reference core.py:457-482 + embedding column).
# metadata is a JSON STRING (schemaless, like SQLite's JSON TEXT column);
# embedding is ARRAY<FLOAT> (pgvector parity, float32 storage).
DOC_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("metadata", T.StringType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("deleted", T.BooleanType(), False),
    ]
)

_NAME_RE = re.compile(r"^[-a-zA-Z0-9_\+~#=/]+$")


def validate_name(name: str) -> str:
    """Collection-name validation (reference core.py:93-97)."""
    if not name or not isinstance(name, str) or not _NAME_RE.match(name):
        raise ValueError(
            "Collection name must be a non-empty string matching "
            "[-a-zA-Z0-9_+~#=/]+"
        )
    return name


def normalize_root(root: str) -> str:
    """Scheme-preserving root normalization: URIs pass through untouched
    (``hdfs://``, ``s3a://``, ``file://`` …); bare local paths are
    absolutized so the store is stable under driver cwd changes."""
    if "://" in root or root.startswith("file:"):
        return root.rstrip("/")
    return os.path.abspath(root)


def resolve_snapshot(raw: DataFrame) -> DataFrame:
    """LSM snapshot resolution: newest version per ``id`` wins
    (``batch`` descending), tombstones (``deleted``) dropped after the
    version race — the read-time equivalent of the reference's
    ``ON CONFLICT(id) DO UPDATE`` + ``DELETE`` (core.py:493-501,
    :370-384).

    Shared by :meth:`DocumentStore.read` and the catalog's
    ``store_snapshot`` oracle entry, so the write-path semantics (W1
    upsert / W5 delete) are pinned by the DuckDB correctness gate, not
    only by pytest. One shuffle keyed by ``id``."""
    w = Window.partitionBy("id").orderBy(F.col("batch").desc())
    return (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (~F.col("deleted")))
        .drop("_rn", "batch")
    )


@dataclass(frozen=True)
class Snapshot:
    """One collection as of one manifest version: the live docs and
    postings batches, the full-fold provenance and the sticky index
    layout. :meth:`DocumentStore.snapshot` resolves it with one manifest
    read; a verb plans every scan against one, so a call never mixes two
    versions.

    ``version`` is None for a store with no manifest (batches listed).
    ``tokenizer`` is the token family the postings are built with and
    ``tokenizer_pinned`` whether it was chosen explicitly (a full fold
    keeps a pinned family and moves any other to the current default).
    ``positions`` is the postings layout: True positional, False plain,
    None when no choice is recorded. ``stop_df`` is the stop-gram pruning
    ratio of full-fold rebuilds, ``promoted`` the metadata keys
    materialized as sidecar columns."""

    version: int | None
    batches: tuple[int, ...]
    postings: tuple[int, ...]
    full_fold: int | None
    postings_df: int | None
    tokenizer: str
    tokenizer_pinned: bool
    positions: bool | None
    stop_df: float | None
    promoted: tuple[str, ...]


def _nums(names) -> set[int]:
    """Batch numbers of the ``batch=N`` entries among ``names``."""
    return {
        int(m.group(1)) for d in names if (m := DocumentStore._BATCH_DIR_RE.match(d))
    }


class DocumentStore:
    """One storage root holding many named collections (multi-tenant,
    reference core.py:226: one physical table, ``name``-filtered)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = normalize_root(root)
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        # FileSystem resolved from the ROOT's scheme — local, HDFS and
        # object stores all route through this one handle.
        self._fs = self._Path(self.root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        self._fs.mkdirs(self._Path(self.root))

    # ---- layout helpers (driver-side fs metadata ops, like a catalog) ----
    # All go through the Hadoop FileSystem API: object-store safe.

    def _exists(self, path: str) -> bool:
        return self._fs.exists(self._Path(path))

    def _ls_names(self, path: str) -> list[str]:
        if not self._exists(path):
            return []
        return [
            st.getPath().getName() for st in self._fs.listStatus(self._Path(path))
        ]

    def _delete_dir(self, path: str) -> None:
        if self._exists(path):
            self._fs.delete(self._Path(path), True)

    def _partition_dir(self, name: str) -> str:
        return f"{self.root}/name={urllib.parse.quote(name, safe='')}"

    _BATCH_DIR_RE = re.compile(r"^batch=(\d+)$")
    _RESERVE_RE = re.compile(r"^\.reserve-batch-(\d+)$")

    # ---- manifest: the collection's transactional metadata --------------
    #
    # One JSON file per collection, atomically renamed into place:
    #   {"version": n, "batches": [...], "postings": [...],
    #    "superseded_at": {"<batch>": epoch_s},
    #    "full_fold": <batch> | null, "postings_df": <batch> | null,
    #    "tokenizer": <family>, "tokenizer_pinned": bool,
    #    "positions": bool | null, "stop_df": <ratio> | null,
    #    "promoted": [<key>, ...]}
    # Readers resolve through it (one open+read, no LIST — an RTT saver
    # on object stores); writers re-publish after every layout change.
    # ``full_fold``, ``postings_df`` and the layout fields are carried
    # from the previous version unless the publish changes them.
    # Absent/unreadable manifest -> LIST fallback, which is always
    # value-identical: it can only ADD superseded batches, and
    # newest-batch-wins resolution makes those dead weight, not wrong
    # answers (the folded batch outranks every batch it folded).

    def _manifest_path(self, name: str) -> str:
        return f"{self._partition_dir(name)}/_manifest"

    def _read_json_file(self, path: str) -> dict | None:
        """Small-JSON read through the Hadoop FS (one open+read); None on
        absent/unreadable/partial — callers have a fallback."""
        p = self._Path(path)
        try:
            if not self._fs.exists(p):
                return None
            stream = self._fs.open(p)
            try:
                raw = self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            finally:
                stream.close()
            m = json.loads(raw)
            return m if isinstance(m, dict) else None
        except Exception:
            return None

    def _write_json_atomic(self, path: str, obj: dict) -> None:
        """Write-to-temp + rename-into-place. Hadoop rename refuses to
        clobber, so replacing an existing file is delete+rename — the
        sub-millisecond absent-file window in between degrades readers
        to their fallback, never to an error."""
        parent, base = path.rsplit("/", 1)
        tmp = self._Path(f"{parent}/.{base}.tmp-{uuid.uuid4().hex}")
        dst = self._Path(path)
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(json.dumps(obj).encode("utf-8")))
        finally:
            out.close()
        if not self._fs.rename(tmp, dst):
            self._fs.delete(dst, False)
            if not self._fs.rename(tmp, dst):
                self._fs.delete(tmp, False)
                raise IOError(f"could not atomically publish {path}")

    def _read_small_text(self, path: str) -> str | None:
        """Small text read through the Hadoop FS; None on absent or
        unreadable (callers treat that as "not mine")."""
        p = self._Path(path)
        try:
            if not self._fs.exists(p):
                return None
            stream = self._fs.open(p)
            try:
                return self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            finally:
                stream.close()
        except Exception:
            return None

    def _write_small_text(self, path: str, text: str) -> None:
        """Overwrite a small file we own (claim-marker token stamping)."""
        out = self._fs.create(self._Path(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    @staticmethod
    def _valid_manifest(m: dict | None) -> bool:
        return m is not None and isinstance(m.get("batches"), list)

    def read_manifest(self, name: str) -> dict | None:
        """The collection's manifest, or None (no manifest at all) —
        callers then fall back to a directory LIST.

        Resolution order: the ``_manifest`` pointer file (one read, the
        object-store RTT saver), then — when the pointer is absent,
        unreadable, or mid-replace — the HIGHEST committed version in
        ``_manifest_log`` (the conditional-put authority: every publish
        lands there first, immutably). The log fallback is what closes
        the replace window: a reader arriving between the pointer's
        delete and rename resolves the exact same manifest from the
        log instead of degrading to a raw batch-dir LIST."""
        m = self._read_json_file(self._manifest_path(name))
        if self._valid_manifest(m):
            return m
        log_dir = f"{self._partition_dir(name)}/_manifest_log"
        for v in sorted(self.manifest_versions(name), reverse=True):
            m = self._read_json_file(f"{log_dir}/v{v}")
            if self._valid_manifest(m):
                return m
        return None

    def _publish_log_version(self, name: str, manifest: dict) -> bool:
        """CONDITIONAL PUT of one immutable manifest version: write the
        content to a temp file, then atomically rename it to
        ``_manifest_log/v{n}``. Hadoop rename refuses to clobber an
        existing destination (verified for ``file:``; HDFS per the
        FileSystem contract), so of two publishers racing the same
        version number exactly one wins — the loser re-derives against
        the newer state and claims the next number. False = lost the
        race. This extends safe concurrent publish to any store whose
        rename is atomic-per-file; the log entry doubles as the
        time-travel record (Delta-style VERSION AS OF)."""
        log_dir = f"{self._partition_dir(name)}/_manifest_log"
        self._fs.mkdirs(self._Path(log_dir))
        tmp = self._Path(f"{log_dir}/.v{manifest['version']}.tmp-{uuid.uuid4().hex}")
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(json.dumps(manifest).encode("utf-8")))
        finally:
            out.close()
        dst = self._Path(f"{log_dir}/v{manifest['version']}")
        try:
            won = bool(self._fs.rename(tmp, dst))
        except Py4JJavaError:
            won = False
        if not won:
            self._fs.delete(tmp, False)
        return won

    def _write_manifest(self, name: str, manifest: dict) -> bool:
        """Publish: claim the immutable log version (the commit point),
        then refresh the ``_manifest`` pointer cache. The pointer is a
        replace (delete+rename where rename refuses to clobber); a
        reader in that window — or one racing a concurrent publisher
        whose pointer write lost the last-writer race — resolves
        through the log, which is always current."""
        if not self._publish_log_version(name, manifest):
            return False
        self._write_json_atomic(self._manifest_path(name), manifest)
        return True

    def manifest_versions(self, name: str) -> list[int]:
        """Published manifest versions still readable for time travel
        (oldest may reference vacuumed batches no longer on disk)."""
        return sorted(
            int(d[1:])
            for d in self._ls_names(f"{self._partition_dir(name)}/_manifest_log")
            if d.startswith("v") and d[1:].isdigit()
        )

    def _manifest_at(self, name: str, version: int) -> dict:
        """The logged manifest dict at ``version`` (raises when pruned
        by vacuum retention) — shared by time travel and diff."""
        m = self._read_json_file(
            f"{self._partition_dir(name)}/_manifest_log/v{int(version)}"
        )
        if m is None or not isinstance(m.get("batches"), list):
            raise ValueError(
                f"no readable manifest version {version} for {name!r} "
                f"(available: {self.manifest_versions(name)}) — history is "
                "bounded by vacuum retention"
            )
        return m

    # ---- snapshots: one manifest read resolves a call's whole view ----

    _LAYOUT_KEYS = (
        "tokenizer", "tokenizer_pinned", "positions", "stop_df", "promoted",
    )

    def snapshot(self, name: str) -> Snapshot:
        """The collection as of its current manifest: exactly one
        :meth:`read_manifest`. A store with no manifest lists its batch
        dirs instead."""
        return self._snapshot_of(name, self.read_manifest(name))

    def _snapshot_of(self, name: str, m: dict | None) -> Snapshot:
        m = m or {}
        batches, postings = m.get("batches"), m.get("postings")
        if batches is None or not isinstance(postings, list):
            listed = self._listed_batches(name)
            batches = listed[0] if batches is None else batches
            postings = postings if isinstance(postings, list) else listed[1]
        layout = self._layout(name, m, postings)
        return Snapshot(
            version=m.get("version"),
            batches=tuple(sorted(int(b) for b in batches)),
            postings=tuple(sorted(int(b) for b in postings)),
            full_fold=m.get("full_fold"),
            postings_df=m.get("postings_df"),
            **dict(layout, promoted=tuple(layout["promoted"])),
        )

    def _snap(self, name: str, snap: Snapshot | dict | None) -> Snapshot:
        """``snap`` as a Snapshot: None resolves the current one, a
        logged manifest dict is read with the current layout
        (:meth:`_as_of`)."""
        if snap is None:
            return self.snapshot(name)
        if isinstance(snap, dict):
            return self._as_of(self.snapshot(name), snap)
        return snap

    @staticmethod
    def _as_of(cur: Snapshot, m: dict) -> Snapshot:
        """The batches a logged manifest ``m`` referenced, read with
        ``cur``'s layout: time travel keeps today's columns, and a
        promoted key that version predates reads NULL."""
        return replace(
            cur,
            version=m.get("version"),
            batches=tuple(sorted(int(b) for b in m["batches"])),
            postings=tuple(sorted(int(b) for b in m.get("postings") or [])),
            full_fold=m.get("full_fold"),
            postings_df=m.get("postings_df"),
        )

    def _layout(self, name: str, m: dict | None, postings) -> dict:
        """The layout fields of manifest ``m``; the legacy marker files
        when ``m`` is absent or predates them."""
        if m and all(k in m for k in self._LAYOUT_KEYS):
            return {k: m[k] for k in self._LAYOUT_KEYS}
        return self._legacy_layout(name, postings)

    def _legacy_markers(self, name: str) -> dict[str, str]:
        """Paths of the marker files that held each layout field before
        the manifest did."""
        pdir = self._postings_dir(name)
        return {
            "tokenizer": f"{pdir}/_tokenizer",
            "positions": f"{pdir}/_positions",
            "stop_df": f"{pdir}/_stop_df",
            "promoted": f"{self._partition_dir(name)}/_promoted",
        }

    def _legacy_layout(self, name: str, postings) -> dict:
        """The layout of a store written before the manifest carried it,
        read from its marker files with their old rules. Read-only: the
        first publish records the fields and deletes the markers.

        * ``_tokenizer``: a family, ``pin:``-prefixed when chosen
          explicitly. Absent or invalid content resolves by provenance:
          sidecars already on disk were built ascii (every pre-marker
          store), a collection with none gets the current default.
        * ``_positions``: absent = no choice recorded; only an exact
          ``0`` is plain, any other content (a torn write during the
          positional upgrade) reads positional, so a crash can never
          downgrade the layout.
        * ``_stop_df``: unreadable or out-of-range content reads
          unpruned, the safe direction for a bytes optimization.
        * ``_promoted``: a JSON list of keys."""
        from sifts_spark.functions.text import (
            _SPLIT_RES, DEFAULT_TOKENIZER, TOKENIZER_ASCII,
        )

        txt = {
            k: self._read_small_text(p)
            for k, p in self._legacy_markers(name).items()
        }
        tok = (txt["tokenizer"] or "").strip()
        pinned = tok.startswith("pin:")
        tok = tok[4:] if pinned else tok
        if tok not in _SPLIT_RES:
            tok = TOKENIZER_ASCII if postings else DEFAULT_TOKENIZER
            pinned = False
        try:
            stop_df = float(txt["stop_df"].strip())
        except (AttributeError, ValueError):
            stop_df = None
        return {
            "tokenizer": tok,
            "tokenizer_pinned": pinned,
            "positions": None
            if txt["positions"] is None
            else txt["positions"].strip() != "0",
            "stop_df": stop_df if stop_df and 0.0 < stop_df <= 1.0 else None,
            "promoted": sorted(json.loads(txt["promoted"]))
            if txt["promoted"]
            else [],
        }

    def _drop_legacy_markers(self, name: str) -> None:
        """Delete the legacy layout markers and full-fold stamps once a
        publish carrying the fields has committed, so no reader resolves
        a stale marker."""
        part = self._partition_dir(name)
        stale = list(self._legacy_markers(name).values()) + [
            f"{part}/{d}" for d in self._ls_names(part) if d.startswith(".full-fold-")
        ]
        for path in stale:
            self._fs.delete(self._Path(path), False)

    def snapshot_at(self, name: str, version: int) -> DataFrame:
        """The collection snapshot as of manifest ``version`` — LSM
        resolution over exactly the batches that manifest referenced.
        Time travel is bounded by :meth:`vacuum`'s retention clock
        (identical to Delta: VACUUM erases history); a version whose
        log entry was pruned raises ValueError."""
        return resolve_snapshot(
            self.read_raw(name, self._manifest_at(name, version))
        )

    def diff(
        self, name: str, since: int, until: int | None = None
    ) -> DataFrame:
        """Version-level change feed between two manifest versions →
        (id, change ∈ added/updated/deleted) — what an incremental
        downstream job (re-embed, re-index, re-curate) needs to
        process ONLY what moved since its last run, instead of
        re-scanning the collection (the Delta CDF posture, by manifest
        version).

        ``until=None`` compares against the CURRENT snapshot. Change
        detection: the winning batch number flags candidates cheaply,
        then batch-changed ids are VERIFIED by content digest
        (md5 over content/metadata/embedding) — so a re-upsert of
        identical bytes does NOT read as updated, and neither does a
        :meth:`compact` between the endpoints (compaction rewrites
        every live row's batch number; without the digest verify a
        routine maintenance fold would tell an incremental consumer
        to reprocess the whole corpus — the failure Delta's
        ``dataChange=false`` flag exists to prevent). An id deleted
        and re-added with different bytes is ``updated`` (present in
        both).

        Scale shape: two column-pruned (id, batch, deleted) scans →
        per-side winner windows → ONE full-outer join on id of
        id-sized frames; content bytes move only for the
        batch-changed candidates, which the digest join then prunes
        to real changes (normally append-sized; corpus-sized only
        right after a full compaction, where reading the bytes is the
        price of answering correctly). Both endpoints resolve through
        logged manifests, so the result is exact even while a writer
        races (the log is immutable).

        Caching contract: the returned plan is backed by an id-sized
        ``persist()`` in the session cache registry; call
        :func:`sifts_spark.release_all` once the consuming action
        completes, or repeated ``diff`` calls accumulate pinned
        executor memory for the session lifetime (see
        :meth:`Collection.diff
        <sifts_spark.collection.Collection.diff>`)."""
        # resolve the CURRENT endpoint ONCE: letting live_versions and
        # the digest pass each re-read "current" would tear under a
        # racing writer — the two sides could see different snapshots
        # and silently drop a change (the docstring's exactness claim
        # depends on both sides pinning the same manifest)
        cur = self.snapshot(name)
        m_old = self._as_of(cur, self._manifest_at(name, since))
        m_new = (
            cur if until is None else self._as_of(cur, self._manifest_at(name, until))
        )
        if until is not None and int(until) < int(since):
            raise ValueError(
                f"diff endpoints inverted: since={since} > until={until}"
            )
        old = self.live_versions(name, m_old)
        new = self.live_versions(name, m_new)
        o = old.select("id", F.col("batch").alias("_ob"))
        n = new.select("id", F.col("batch").alias("_nb"))
        # Persisted (session cache registry) because the returned plan
        # reads this id-sized subtree FOUR times — the non-updated
        # union arm, the verified join's candidate side, and both
        # digest scans' semi-join build sides; without the persist each
        # re-runs the two column-pruned winner-window scans. The
        # caller's action materializes it once; a pipeline frees it
        # with caching.release_all() (the operator-persist contract,
        # caching.py).
        from sifts_spark.caching import track

        flagged = track(
            o.join(n, "id", "full_outer")
            .withColumn(
                "change",
                F.when(F.col("_ob").isNull(), F.lit("added"))
                .when(F.col("_nb").isNull(), F.lit("deleted"))
                .when(F.col("_ob") != F.col("_nb"), F.lit("updated")),
            )
            .filter(F.col("change").isNotNull())
            .select("id", "change")
        )

        def field_digest(col: Column) -> Column:
            # per-field md5 prefixed by a null flag, then combined:
            # concatenating raw fields would be ambiguous (a separator
            # or sentinel occurring INSIDE content could collide two
            # distinct (content, metadata) pairs and prune a real
            # change)
            return F.concat(
                F.when(col.isNull(), F.lit("0")).otherwise(F.lit("1")),
                F.md5(F.coalesce(col, F.lit(""))),
            )

        def digest(snapshot: DataFrame, alias: str) -> DataFrame:
            return snapshot.select(
                "id",
                F.md5(
                    F.concat_ws(
                        "\x00",
                        field_digest(F.col("content")),
                        field_digest(F.col("metadata")),
                        field_digest(F.col("embedding").cast("string")),
                    )
                ).alias(alias),
            )

        candidates = flagged.filter(F.col("change") == "updated")

        def side(manifest, alias: str) -> DataFrame:
            # Each raw scan pruned to the batch-changed candidates by a
            # distributed SEMI-JOIN under the winner window (winner
            # resolution is per-id, so pre-filtering to an id subset is
            # exact) — never a driver-collected In-list: the r10 path
            # materialized up to 100k ids on the driver and inlined
            # them as plan literals, which Spark doesn't push to
            # parquet anyway above the 10-element In threshold. In the
            # normal incremental poll the candidate side is append-
            # sized and AQE broadcasts it (content bytes are read once,
            # shuffled never; Spark's runtime bloom-filter injection
            # additionally prunes the scan side); a corpus-sized
            # candidate set (right after a compaction fold) degrades to
            # a shuffled semi-join — reading the bytes is the price of
            # answering correctly.
            raw = self.read_raw(name, manifest).join(
                candidates.select("id"), "id", "left_semi"
            )
            return digest(resolve_snapshot(raw), alias)

        verified = (
            candidates.join(side(m_old, "_dold"), "id")
            .join(side(m_new, "_dnew"), "id")
            .filter(F.col("_dold") != F.col("_dnew"))
            .select("id", "change")
        )
        return flagged.filter(F.col("change") != "updated").unionByName(
            verified
        )

    def _publish_manifest(
        self,
        name: str,
        superseded: set[int] | None = None,
        postings_df: int | None = None,
        full_fold: int | None = None,
        **layout,
    ) -> dict:
        """Re-derive and publish the manifest.

        The live lists come from a LIST of materialized dirs minus the
        accumulated superseded set — NOT from read-modify-write of the
        previous batch list — so two interleaved appenders converge on
        the union of their batches instead of losing an update. Newly
        superseded batches (compact) are stamped with the current time;
        ``vacuum`` honors that stamp as the retention clock.

        The publish itself is a CONDITIONAL PUT of the next immutable
        ``_manifest_log/v{n}`` (:meth:`_publish_log_version`): a loser
        of the version race re-derives against the now-newer state and
        claims the next number, so concurrent publishers serialize
        without a coordinator and every committed version reflects all
        batches materialized at its derivation.

        ``postings_df``: the full-fold batch whose postings sidecar this
        caller just wrote with a ``df`` column (:meth:`maintain_postings`);
        ``full_fold``: the batch a full fold just wrote; ``layout``: the
        layout fields this publish changes (:data:`_LAYOUT_KEYS`). Every
        field not given is carried from the previous version (see
        :meth:`_derive_manifest`), and a layout change re-applies on
        every retry, so it commits in the same version as the batches
        it goes with."""
        _STATE_KEYS = (
            "batches", "postings", "superseded_at", "full_fold", "postings_df",
        ) + self._LAYOUT_KEYS
        log_dir = f"{self._partition_dir(name)}/_manifest_log"
        for _ in range(64):
            # Derive from the log head and claim the number after it: a
            # publisher committing after this LIST makes the claim fail
            # and the loop re-derive, so no carried field is read stale.
            # The pointer may lag the log (a lost last-writer race), so
            # it is only the fallback for a store without a log.
            vs = self.manifest_versions(name)
            prev = self._read_json_file(f"{log_dir}/v{vs[-1]}") if vs else None
            if not self._valid_manifest(prev):
                prev = self.read_manifest(name)
            m = self._derive_manifest(
                name, prev, vs, superseded, postings_df, full_fold, layout
            )
            if prev is not None and all(
                prev.get(k) == m.get(k) for k in _STATE_KEYS
            ):
                # no state change — don't burn a log version; but do
                # heal a missing/lagging pointer cache (prev may have
                # been resolved via the log fallback)
                ptr = self._read_json_file(self._manifest_path(name))
                if ptr is None or ptr.get("version") != prev.get("version"):
                    self._write_json_atomic(self._manifest_path(name), prev)
                return prev
            if self._write_manifest(name, m):
                if prev is None or not all(k in prev for k in self._LAYOUT_KEYS):
                    self._drop_legacy_markers(name)
                return m
        raise RuntimeError(
            f"could not publish a manifest version for {name!r} after 64 "
            "attempts — publisher storm"
        )

    def _derive_manifest(
        self,
        name: str,
        prev: dict | None,
        versions: list[int],
        superseded: set[int] | None,
        postings_df: int | None,
        full_fold: int | None,
        layout: dict,
    ) -> dict:
        old = prev or {}
        sup_at = {
            str(k): float(v)
            for k, v in (old.get("superseded_at") or {}).items()
        }
        if superseded:
            now = time.time()
            for n in superseded:
                sup_at.setdefault(str(n), now)
        mat, post = self._listed_batches(name)
        sup = {int(k) for k in sup_at}
        # prune stamps whose dirs are fully reclaimed (post-vacuum)
        sup_at = {k: v for k, v in sup_at.items() if int(k) in (mat | post)}
        # full-fold provenance: kept while its batch is materialized
        ff = full_fold if full_fold is not None else old.get("full_fold")
        if ff not in mat:
            ff = None
        # ``postings_df`` names the full fold whose postings sidecar
        # carries a ``df`` column. Only the sweep that wrote it sets it;
        # later publishers carry it while it still names the current
        # fold. Losing it (a publish race, a store folded before the
        # field existed) only sends reads down the computed-df path.
        pdf = postings_df if postings_df is not None else old.get("postings_df")
        if pdf is not None and (pdf != ff or pdf not in post):
            pdf = None
        lay = self._layout(name, prev, old.get("postings", post))
        lay.update(layout)
        lay["promoted"] = sorted(lay["promoted"])
        return {
            "version": max(int(old.get("version", 0)), max(versions, default=0)) + 1,
            "batches": sorted(mat - sup),
            "postings": sorted(post - sup),
            "superseded_at": sup_at,
            "full_fold": ff,
            "postings_df": pdf,
            **lay,
        }

    def _listed_batches(self, name: str) -> tuple[set[int], set[int]]:
        """Materialized docs and postings batch numbers, from a LIST.
        In-flight batches are left out: a peer's parquet job creates the
        batch dir (with only ``_temporary`` inside) well before commit,
        under a live reservation marker (docs) or ``.claim-`` marker
        (postings). Listing it would let readers and the postings sweep
        see an empty batch — for postings, read_postings would trust an
        empty dir over its lazy build."""
        part_names = self._ls_names(self._partition_dir(name))
        post_names = self._ls_names(self._postings_dir(name))
        claimed = {
            int(d.split("=", 1)[1])
            for d in post_names
            if d.startswith(".claim-batch=")
        }
        inflight = {
            int(m.group(1)) for d in part_names if (m := self._RESERVE_RE.match(d))
        }
        return _nums(part_names) - inflight, _nums(post_names) - claimed

    def _batch_dirs(self, name: str, snap: Snapshot | dict | None = None) -> list[str]:
        """Live docs batch dirs of ``snap`` (default: the current one)."""
        return [f"batch={n}" for n in self._snap(name, snap).batches]

    def next_batch(self, name: str) -> int:
        """Next unclaimed batch number: one past the max over BOTH
        written batch dirs and in-flight reservation markers, so a
        writer that reserved but hasn't materialized its dir yet still
        holds its number against other writers."""
        nums = [0]
        for d in self._ls_names(self._partition_dir(name)):
            m = self._BATCH_DIR_RE.match(d) or self._RESERVE_RE.match(d)
            if m:
                nums.append(int(m.group(1)))
        return max(nums) + 1

    def reserve_batch(self, name: str) -> int:
        """Atomically claim the next batch number via a marker file.

        ``FileSystem.createNewFile`` is atomic on local disk and HDFS
        (O_EXCL / namenode create): of two racing writers exactly one
        wins a number, the loser re-lists and claims the next. On
        eventual-consistency object stores without atomic create the
        marker narrows but cannot close the race — there, run one
        writer per collection (the same contract Delta's S3 single-
        writer LogStore documents) or front writes with a queue.

        The marker outlives a FAILED write on purpose: the number stays
        burned, so a half-written ``batch=N`` dir can never be claimed
        by a later writer; readers never see N because ``_batch_dirs``
        lists only materialized dirs and ``append_batch`` removes the
        marker only after its write commits.

        Same-process writers additionally serialize on a process-wide
        lock: Hadoop's LOCAL ``createNewFile`` is exists()-then-create
        with no O_EXCL, so two threads in the same driver racing within
        the check window can BOTH "win" a number (observed: four
        threadpool writers all claiming batch 1). For the local scheme
        the marker create also goes through ``java.nio Files.createFile``
        (true O_EXCL), which closes the cross-PROCESS race the Hadoop
        call leaves open."""
        part = self._partition_dir(name)
        self._fs.mkdirs(self._Path(part))
        with _RESERVE_LOCK:
            for _ in range(64):
                batch = self.next_batch(name)
                if self._atomic_create_marker(f"{part}/.reserve-batch-{batch}"):
                    return batch
                # marker exists — lost the race for this number;
                # re-list and try the next.
        raise RuntimeError(
            f"could not reserve a write batch for collection {name!r} "
            "after 64 attempts — writer storm or stuck reservation markers"
        )

    def _atomic_create_marker(self, path: str) -> bool:
        """Create-if-absent with the strongest primitive the scheme
        offers: java.nio O_EXCL for ``file:``, namenode-atomic
        ``createNewFile`` for HDFS-likes. False = already exists (lost
        the race); anything else (permissions, connectivity,
        unsupported op) raises — retrying would bury the real cause
        under a misleading 'writer storm' error."""
        jvm = self.spark._jvm
        p = self._Path(path)
        try:
            if self._fs.getScheme() == "file":
                local = p.toUri().getPath()
                # py4j needs the varargs array passed explicitly
                attrs = jvm.java.lang.reflect.Array.newInstance(
                    jvm.java.lang.Class.forName(
                        "java.nio.file.attribute.FileAttribute"
                    ),
                    0,
                )
                jvm.java.nio.file.Files.createFile(
                    jvm.java.io.File(local).toPath(), attrs
                )
                return True
            return bool(self._fs.createNewFile(p))
        except Py4JJavaError as e:
            jcls = e.java_exception.getClass().getName()
            if "AlreadyExists" in jcls or "AlreadyBeingCreated" in jcls:
                return False
            raise

    def _gc_markers(self, name: str) -> None:
        """Garbage-collect reservation markers that no longer do a job.
        A marker numbered <= the max materialized batch can never be
        re-issued (``next_batch`` claims past the max over dirs AND
        markers), but it may still be a LIVE writer's in-flight shield
        — a slower lower-numbered write racing faster peers. Deleting
        that shield exposes the partial dir to manifests and the
        postings sweep (observed: a peer indexed a zero-row in-flight
        batch into an empty postings corpse). So a marker is reclaimed
        only when:

        * its ``batch=N`` dir is ABSENT — a failed write; the number
          stays safely burned by the higher materialized batches; or
        * its dir contains ``_SUCCESS`` — the write committed but the
          owner crashed before removing its own marker.

        A marker over a PARTIAL dir (no _SUCCESS) is kept forever:
        that is the shield doing exactly its documented job of hiding
        a half-written batch."""
        part = self._partition_dir(name)
        names = set(self._ls_names(part))
        maxb = 0
        for d in names:
            m = self._BATCH_DIR_RE.match(d)
            if m:
                maxb = max(maxb, int(m.group(1)))
        for d in names:
            m = self._RESERVE_RE.match(d)
            if not m or int(m.group(1)) > maxb:
                continue
            n = int(m.group(1))
            if f"batch={n}" in names and not self._exists(
                f"{part}/batch={n}/_SUCCESS"
            ):
                continue  # live or crashed-partial write: keep the shield
            self._fs.delete(self._Path(f"{part}/{d}"), False)

    def collection_names(self) -> list[str]:
        return sorted(
            urllib.parse.unquote(d.split("=", 1)[1])
            for d in self._ls_names(self.root)
            if d.startswith("name=")
        )

    # ---- write path ----

    # ---- promoted metadata columns (pushdown for JSON predicates) ------
    #
    # A `where` over schemaless JSON can never reach the parquet reader:
    # get_json_object is an opaque expression, so every metadata filter
    # scans every row group of every live batch — at 100 TB that is the
    # whole collection's bytes for a 0.1%-selective predicate. Promotion
    # materializes chosen keys as typed sidecar COLUMNS at write time
    # (`_m_<key>` = the raw get_json_object token, `_mn_<key>` = its
    # try_cast double — exactly the two shapes compile_where compares),
    # so promoted predicates become plain column comparisons: pushed to
    # PushedFilters, row groups skipped on min/max stats, the same plan
    # a typed schema would get. The reference's analog is a PG
    # expression index on (metadata->>'key'); Delta's is a generated
    # column. Values are pure derivations of `metadata`, recomputed on
    # every write path (append + compact), never carried by callers.

    _PROMOTED_KEY_RE = re.compile(r"^[A-Za-z0-9_]+$")

    @staticmethod
    def promoted_fields(keys: list[str]) -> list[T.StructField]:
        out: list[T.StructField] = []
        for k in keys:
            out.append(T.StructField(f"_m_{k}", T.StringType(), True))
            out.append(T.StructField(f"_mn_{k}", T.DoubleType(), True))
        return out

    @staticmethod
    def promote_columns(df: DataFrame, keys: list[str]) -> DataFrame:
        """Recompute the promoted sidecar columns from ``metadata``."""
        for k in keys:
            raw = F.get_json_object(F.col("metadata"), f"$.{k}")
            df = df.withColumn(f"_m_{k}", raw).withColumn(
                f"_mn_{k}", raw.try_cast("double")
            )
        return df

    def promote_metadata(self, name: str, keys: list[str]) -> list[str]:
        """Promote ``keys`` (union with any existing promotion; sticky).

        On a collection with live batches, the enable REWRITES the
        current snapshot into one new batch (the full-fold path) so
        every live row carries the columns — promoted reads are only
        correct when every batch under the manifest has them (an old
        batch would read NULL, not the extracted value). The key list
        commits in the same manifest version as that rewrite, so no
        reader sees the keys over unrewritten batches. Time-travel
        snapshots from before the promotion read NULL promoted columns;
        the facade never compiles promoted predicates against them.

        Returns the full promoted key list."""
        if isinstance(keys, str):
            # a str-for-list typo would otherwise promote each CHARACTER
            # as a sticky key and rewrite the corpus with junk sidecars
            raise ValueError(
                "promote_metadata expects a list of keys, got a string "
                f"({keys!r}) — pass [{keys!r}]"
            )
        clean = sorted(set(keys))
        for k in clean:
            if not self._PROMOTED_KEY_RE.match(k):
                raise ValueError(
                    f"promoted metadata key must match [A-Za-z0-9_]+: {k!r}"
                )
        snap = self.snapshot(name)
        new = sorted(set(snap.promoted) | set(clean))
        if new == list(snap.promoted):
            return new
        self._rewrite(name, snap, promoted=new)
        return new

    def _rewrite(self, name: str, snap: Snapshot, **layout) -> None:
        """Commit ``layout`` with a full rewrite of ``snap`` into one new
        batch (the compact body without the <=1-batch no-op), then
        rebuild the postings when the collection had any: the rewrite
        superseded every old sidecar, and without the rebuild a text
        query builds whole-corpus postings lazily until the next write.
        An empty collection just records the layout."""
        old = self._batch_dirs(name, snap)
        if not old:
            self._publish_manifest(name, **layout)
            return
        self._fold(name, snap, old, self.read(name, snap), **layout)
        if snap.postings:
            self.maintain_postings(name)

    def _fold(
        self, name: str, snap: Snapshot, old: list[str], rows: DataFrame,
        full: bool = True, **layout,
    ) -> int:
        """Write ``rows`` as one new batch superseding the batch dirs
        ``old``, and publish it with ``layout`` in one manifest version.
        Nothing is deleted: a reader planned against the previous
        manifest keeps its files until :meth:`vacuum`. A ``full`` fold
        (``rows`` is the whole live snapshot: one non-tombstone version
        per id) records ``full_fold``, and is the free moment an
        unpinned token family moves to the current default: every old
        sidecar was just superseded with its batch."""
        from sifts_spark.functions.text import DEFAULT_TOKENIZER

        part = self._partition_dir(name)
        batch = self.reserve_batch(name)
        body = rows.select([f.name for f in DOC_SCHEMA.fields])
        self.promote_columns(body, layout.get("promoted", snap.promoted)).write.mode(
            "errorifexists"
        ).parquet(f"{part}/batch={batch}")
        self._fs.delete(self._Path(f"{part}/.reserve-batch-{batch}"), False)
        if full and not snap.tokenizer_pinned:
            layout.setdefault("tokenizer", DEFAULT_TOKENIZER)
        self._publish_manifest(
            name,
            superseded={int(d.split("=", 1)[1]) for d in old},
            full_fold=batch if full else None,
            **layout,
        )
        self._gc_markers(name)
        return batch

    def append_batch(self, name: str, df: DataFrame) -> int:
        """Append one batch (columns of DOC_SCHEMA minus partition cols).

        Schema evolution: columns of DOC_SCHEMA absent from ``df`` are
        filled with NULL (except ``deleted`` → false), so callers with
        older/narrower shapes keep working — the reference's lazy
        ALTER-ADD-COLUMN parity (core.py:472-482)."""
        cols = []
        for f in DOC_SCHEMA.fields:
            if f.name in df.columns:
                cols.append(F.col(f.name).cast(f.dataType))
            elif f.name == "deleted":
                cols.append(F.lit(False).alias("deleted"))
            elif f.name == "id":
                raise ValueError("append_batch requires an 'id' column")
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        batch = self.reserve_batch(name)
        out = f"{self._partition_dir(name)}/batch={batch}"
        # promoted keys from the manifest as of this write: a handle
        # opened before another promoted still writes the columns
        self.promote_columns(
            df.select(*cols), self.snapshot(name).promoted
        ).write.mode("errorifexists").parquet(out)
        # Write committed: the dir itself now claims the number; the
        # marker's remaining job (shielding an in-flight write) is done.
        self._fs.delete(self._Path(f"{self._partition_dir(name)}/.reserve-batch-{batch}"), False)
        self._gc_markers(name)
        self._publish_manifest(name)
        return batch

    def drop_collection(self, name: str) -> None:
        self._delete_dir(self._partition_dir(name))
        self._delete_dir(self._postings_dir(name))
        self._delete_dir(self._doclen_dir(name))
        self._delete_dir(self._vecindex_dir(name))

    def _batch_bytes(self, name: str, batch_dir: str) -> int:
        try:
            return int(
                self._fs.getContentSummary(
                    self._Path(f"{self._partition_dir(name)}/{batch_dir}")
                ).getLength()
            )
        except Py4JJavaError:
            return 0

    def compact(
        self,
        name: str,
        postings: bool = False,
        max_fold_bytes: int | None = None,
        stop_df_ratio=_KEEP,
    ) -> int | None:
        """Fold live batches of a collection into a single new batch and
        publish a manifest that stops referencing the old ones — Delta
        OPTIMIZE. Nothing is deleted here: a reader that planned
        against the pre-compact manifest still finds its files until
        :meth:`vacuum` reclaims them (the compact-vs-reader FileNotFound
        race the reference avoids via DB transactions, core.py:446-455,
        is closed by the manifest + deferred reclamation). Returns the
        folded batch's number (None when nothing to fold).

        ``max_fold_bytes=None`` (default) folds EVERYTHING — the full
        OPTIMIZE, which also drops tombstones (nothing older remains to
        shadow). Set it to fold only the SMALL TIER: the maximal
        suffix of the live batch list whose members are each under the
        threshold — the size-tiered posture for append-heavy
        collections, where frequent small adds would otherwise rewrite
        the whole collection on every auto-compaction. Bytes rewritten
        are tier-sized, not collection-sized. Two invariants make the
        suffix fold safe:

        * only a SUFFIX folds — the folded batch outranks exactly the
          batches it folded, so newest-batch-wins resolution against
          the untouched older batches is unchanged (folding an interior
          subset would lift its rows above newer unfolded versions);
        * TOMBSTONES ARE KEPT in the folded output — a delete recorded
          in the suffix may shadow a live row in an older unfolded
          batch; dropping it would resurrect that row. Tombstones
          retire at the next full compaction.

        ``stop_df_ratio``: FULL folds only (the folded batch is the
        whole corpus, so global df is computable) — record (or with
        ``None``/``0`` clear) the sticky stop-gram pruning ratio in the
        fold's manifest version, before the postings sweep; omitted =
        keep the current ratio. Rejected on a suffix fold, whose
        batches keep batch-local df. On an already-single-batch
        collection the fold no-ops and the recorded ratio takes effect
        at the next postings rebuild — ``retokenize(stop_df_ratio=)``
        forces one now."""
        if stop_df_ratio is not _KEEP and max_fold_bytes is not None:
            raise ValueError(
                "stop_df_ratio requires a FULL fold (max_fold_bytes="
                "None): a suffix fold's batches keep batch-local df, "
                "where the knob would mis-prune"
            )
        snap = self.snapshot(name)
        layout = (
            {} if stop_df_ratio is _KEEP
            else {"stop_df": self._stop_df_pin(snap, stop_df_ratio)}
        )
        old = self._batch_dirs(name, snap)
        if max_fold_bytes is not None:
            suffix: list[str] = []
            for d in reversed(old):
                if self._batch_bytes(name, d) >= max_fold_bytes:
                    break
                suffix.append(d)
            old = list(reversed(suffix))
        if len(old) <= 1:
            if layout:
                self._publish_manifest(name, **layout)
            return None
        if max_fold_bytes is None:
            current = self.read(name, snap)
        else:
            # newest version per id WITHIN the suffix, tombstones kept
            raw = self.read_raw(
                name, replace(snap, batches=tuple(int(d[6:]) for d in old))
            )
            w = Window.partitionBy("id").orderBy(F.col("batch").desc())
            current = (
                raw.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "batch")
            )
        batch = self._fold(
            name, snap, old, current, full=max_fold_bytes is None, **layout
        )
        if postings:
            self.maintain_postings(name)
        return batch

    def vacuum(self, name: str, min_age_seconds: float = 3600.0) -> list[str]:
        """Reclaim batch dirs (docs + postings) no longer referenced by
        the manifest — Delta VACUUM. ``min_age_seconds`` is the retention
        clock, measured from when compaction superseded the batch (its
        ``superseded_at`` stamp; dir mtime as fallback): size it above
        your longest-running query so an in-flight plan never loses
        files from under itself. Returns the deleted paths.

        Only batches numbered BELOW the max live batch are candidates,
        so a concurrent appender's freshly materialized (not yet
        published) dir is never touched. No-op on pre-manifest stores —
        without a manifest there is no record of what is dead. Stores
        written by older versions also hold a per-doc length sidecar
        under ``_doclen/``; nothing reads it, and its dead batches are
        reclaimed by the same rule."""
        m = self.read_manifest(name)
        if m is None:
            return []
        live = {int(x) for x in m.get("batches", [])}
        maxb = max(live, default=0)
        sup_at = {int(k): float(v) for k, v in (m.get("superseded_at") or {}).items()}
        cutoff = time.time() - min_age_seconds
        deleted: list[str] = []
        for base in (
            self._partition_dir(name),
            self._postings_dir(name),
            self._doclen_dir(name),
        ):
            for d in self._ls_names(base):
                mm = self._BATCH_DIR_RE.match(d)
                if not mm:
                    continue
                n = int(mm.group(1))
                if n in live or n >= maxb:
                    continue
                path = f"{base}/{d}"
                stamp = sup_at.get(n)
                if stamp is None:
                    try:
                        stamp = (
                            self._fs.getFileStatus(self._Path(path))
                            .getModificationTime() / 1000.0
                        )
                    except Exception:
                        continue
                if stamp > cutoff:
                    continue
                self._delete_dir(path)
                deleted.append(path)
        self._gc_markers(name)
        if deleted:
            # Prune time-travel log entries that reference a reclaimed
            # batch — their snapshots are no longer materializable
            # (Delta parity: VACUUM erases history past retention).
            existing = _nums(self._ls_names(self._partition_dir(name)))
            log_dir = f"{self._partition_dir(name)}/_manifest_log"
            for d in self._ls_names(log_dir):
                if not (d.startswith("v") and d[1:].isdigit()):
                    continue
                entry = self._read_json_file(f"{log_dir}/{d}")
                if entry is None or not set(
                    int(b) for b in entry.get("batches", [])
                ) <= existing:
                    self._fs.delete(self._Path(f"{log_dir}/{d}"), False)
            self._publish_manifest(name)
        return deleted

    # ---- read path ----

    def read_raw(self, name: str, snap: Snapshot | dict | None = None) -> DataFrame:
        """All batches of one collection, versions + tombstones included.

        Promoted collections read the sidecar columns too (explicit
        schema — a pre-promotion batch under a time-travel manifest
        reads them as NULL; live manifests only reference rewritten
        batches, see :meth:`promote_metadata`)."""
        snap = self._snap(name, snap)
        schema = T.StructType(
            list(DOC_SCHEMA.fields) + self.promoted_fields(snap.promoted)
        )
        if not snap.batches:
            return self.spark.createDataFrame([], schema).withColumn(
                "batch", F.lit(0).cast("long")
            )
        # basePath keeps the batch partition column; the name= filter is
        # done by path selection => partition pruning by construction.
        part = self._partition_dir(name)
        return self.spark.read.schema(schema).option("basePath", part).parquet(
            *[f"{part}/batch={n}" for n in snap.batches]
        )

    @staticmethod
    def full_fold_batch(m: Snapshot | dict | None) -> int | None:
        """The only live batch of a snapshot (or manifest) when it IS a
        full fold (``full_fold`` provenance, recorded by the complete
        :meth:`compact` / :meth:`promote_metadata` / :meth:`retokenize`
        rewrite — one non-tombstone version per id by construction);
        None otherwise, including after any later append."""
        if m is None:
            return None
        if isinstance(m, dict):
            ff, batches = m.get("full_fold"), m.get("batches", [])
        else:
            ff, batches = m.full_fold, m.batches
        if ff is not None and [int(b) for b in batches] == [int(ff)]:
            return int(ff)
        return None

    def read(self, name: str, snap: Snapshot | dict | None = None) -> DataFrame:
        """Current snapshot: newest version per id, tombstones dropped.

        **Compacted fast path**: when the snapshot's only live batch is
        a full fold (:meth:`full_fold_batch`), the snapshot is the raw
        scan itself: no id-keyed window, no shuffle — and, crucially,
        FILTERS PUSH THROUGH to the parquet reader (a predicate can
        never cross the newest-batch-wins window, because an old
        version matching it must not resurrect a doc whose current
        version doesn't). Post-OPTIMIZE reads at 100 TB are pure pruned
        scans, exactly Delta's posture; any later append falls back to
        the window path until the next full fold. The sidecar reader,
        :meth:`read_postings`, takes the same fast path when the fold's
        postings batch is on disk: the raw sidecar scan, with no
        :meth:`live_versions` join."""
        snap = self._snap(name, snap)
        if self.full_fold_batch(snap) is not None:
            return (
                self.read_raw(name, snap)
                .filter(~F.col("deleted"))
                .drop("batch")
            )
        return resolve_snapshot(self.read_raw(name, snap))

    def live_versions(self, name: str, snap: Snapshot | dict | None = None) -> DataFrame:
        """(id, batch) of the winning non-deleted version per id — a
        column-pruned scan (parquet reads id/batch/deleted only)."""
        raw = self.read_raw(name, snap).select("id", "batch", "deleted")
        w = Window.partitionBy("id").orderBy(F.col("batch").desc())
        return (
            raw.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (~F.col("deleted")))
            .select("id", "batch")
        )

    # ---- derived postings index (W3: FTS5/GIN replacement) -------------
    #
    # Incrementally maintained: every docs batch gets a postings batch
    # derived from the WRITTEN parquet (one evaluation of the caller's
    # plan even with non-deterministic columns like uuid() ids), written
    # term-sorted so a term lookup is a row-group probe. Staleness is
    # resolved at read by joining on the live (id, batch) winners —
    # Lucene-segment semantics: stale postings are dead weight until
    # ``compact`` physically drops them. Crash between docs write and
    # postings write self-heals: a missing postings batch is rebuilt
    # lazily (and repaired on the next ``maintain_postings`` call).
    # Reference analog: fts index maintained on every add
    # (/root/reference/src/sifts/core.py:504-514).

    def _postings_dir(self, name: str) -> str:
        return f"{self.root}/_postings/name={urllib.parse.quote(name, safe='')}"

    def _postings_batch_dirs(
        self, name: str, snap: Snapshot | dict | None = None
    ) -> list[str]:
        """Postings sidecar batch dirs of ``snap`` (default: current)."""
        return [f"batch={n}" for n in self._snap(name, snap).postings]

    def _doclen_dir(self, name: str) -> str:
        """Per-doc length sidecar that older versions wrote beside the
        postings. Nothing reads it; :meth:`vacuum` and
        :meth:`drop_collection` still reclaim it, so an upgraded store
        leaks no files."""
        return f"{self.root}/_doclen/name={urllib.parse.quote(name, safe='')}"

    def _read_batch_docs(self, name: str, batch_dir: str) -> DataFrame:
        return self.spark.read.schema(DOC_SCHEMA).parquet(
            f"{self._partition_dir(name)}/{batch_dir}"
        )

    def _build_batch_postings(
        self,
        name: str,
        batch_dir: str,
        snap: Snapshot,
        positions: bool = False,
        stop_df_ratio: float | None = None,
        with_df: bool = False,
    ) -> DataFrame:
        """One docs batch's postings, tokenized with ``snap``'s family."""
        from sifts_spark.operators.search import build_postings

        batch = int(batch_dir.split("=", 1)[1])
        docs = self._read_batch_docs(name, batch_dir).filter(~F.col("deleted"))
        return build_postings(
            docs,
            "id",
            "content",
            positions=positions,
            tokenizer=snap.tokenizer,
            stop_df_ratio=stop_df_ratio,
            with_df=with_df,
        ).withColumn("batch", F.lit(batch).cast("long"))

    # ---- sticky index layout (manifest fields) -------------------------
    #
    # ``positions``: once positional (the first positional
    # maintain_postings), every later batch — including compaction
    # rebuilds — is built with positions, so the index converges to
    # fully positional as batches fold. Pre-positions batches read with
    # ``pos = null``, which the phrase evaluator treats as inconclusive
    # → content verify, so correctness never depends on the layout. The
    # layout never downgrades.
    #
    # ``stop_df``: ``build_postings(stop_df_ratio=)`` is deliberately a
    # GLOBAL-df knob (operators/search.py: per-append-batch df is
    # batch-local and would mis-prune). The verbs that rebuild postings
    # from the COMPLETE live corpus — retokenize(), full-fold compact(),
    # the promote_metadata rewrite — are exactly where global df is
    # computable, so they accept the knob, and the recorded ratio makes
    # the choice sticky: every later full-fold rebuild reproduces the
    # pruned layout, while per-append maintenance keeps building
    # UNPRUNED batches (batch-local df — documented scope), converging
    # back to pruned at the next full fold. Mixed layouts are exact
    # either way: pruning empties position arrays only, and an emptied
    # array degrades the affected phrase candidates to the content
    # verify through the size(pos) < tf truncation machinery.
    #
    # ``tokenizer``: a postings index only answers correctly when the
    # QUERY side tokenizes with the family the INDEX was built with — a
    # unicode query term against ascii-built postings silently never
    # matches. The family is therefore a recorded property of the
    # collection, and the query path (Collection) compiles with the
    # snapshot's family, never the session default. Contract: a family
    # NAME freezes its tokenization definition. Any future change to
    # what a family emits (the way cjk_bigram gained mixed-token
    # segmentation during its own development round, before any store
    # could exist under the old definition) must ship as a NEW family
    # name — the field can distinguish families but not versions of
    # one, and a silent definition change would split a store's batches
    # across two tokenizations under one recorded value.

    def pin_positions_layout(self, name: str, positional: bool) -> None:
        """Record the layout choice for a collection that has none yet.
        Called by the facade ONLY on an EXPLICIT ``index_positions=``
        argument (an explicit flag is DDL intent, so a write — and a
        write failure — is expected there; the default-flag path never
        writes, so read-only opens of legacy collections keep working):
        without this, an explicit plain opt-out on a still-empty
        collection would be forgotten — the next default-flag reopen
        would resolve 'new collection → positional' and convert it on
        first write. Never downgrades: a recorded layout wins
        (best-effort under concurrent creates — the check-then-publish
        is not atomic); a later ``maintain_postings(positions=True)``
        still upgrades a plain pin."""
        if self.snapshot(name).positions is None:
            self._publish_manifest(name, positions=bool(positional))

    @staticmethod
    def _stop_df_pin(snap: Snapshot, ratio) -> float | None:
        """Validate a stop-gram pruning ratio → the value to record
        (``None``/``0`` clears). Requires a POSITIONAL layout — on a
        plain one there are no position arrays to prune, and silently
        recording the knob would let the caller believe the layout is
        pruned (the build_postings loud-failure posture)."""
        if not ratio:
            return None
        r = float(ratio)
        if not 0.0 < r <= 1.0:
            raise ValueError(
                f"stop_df_ratio must be in (0, 1], got {ratio!r}"
            )
        if snap.positions is not True:
            raise ValueError(
                "stop_df_ratio prunes position arrays, but this "
                "collection's postings layout is not positional — "
                "open with index_positions=True (or "
                "maintain_postings(positions=True)) first"
            )
        return r

    def pin_tokenizer(self, name: str, tokenizer: str) -> None:
        """Record an EXPLICIT family choice (facade ``tokenizer=`` —
        DDL intent, mirroring :meth:`pin_positions_layout`). Against an
        index already built under a DIFFERENT family this raises
        instead of silently serving the old index with new-family
        query tokens (the drop-every-match failure the field exists
        to prevent); rebuild first via :meth:`retokenize` or a full
        :meth:`compact`; an earlier explicit pin raises the same way.
        With neither postings nor a pin yet the request simply becomes
        the pin; a same-family request turns the recorded family into a
        pin (full-fold upgrades then leave it alone)."""
        from sifts_spark.functions.text import resolve_tokenizer

        t = resolve_tokenizer(tokenizer)
        snap = self.snapshot(name)
        if (snap.postings or snap.tokenizer_pinned) and snap.tokenizer != t:
            raise ValueError(
                f"collection {name!r} postings are tokenized {snap.tokenizer!r}; "
                f"rebuild them (retokenize/compact) before opening with "
                f"tokenizer={t!r} — honoring the new family against the "
                f"old index would silently drop matches"
            )
        self._publish_manifest(name, tokenizer=t, tokenizer_pinned=True)

    def retokenize(
        self,
        name: str,
        tokenizer: str | None = None,
        stop_df_ratio=_KEEP,
    ) -> str:
        """Rebuild the collection under ``tokenizer`` (default: the
        current default family) — the explicit upgrade verb for
        collections the full-fold upgrade doesn't reach (e.g. a
        single-batch legacy store, which ``compact`` no-ops on).

        Implemented AS a forced full fold (the compact body without the
        <=1-batch no-op), not a sidecar delete-in-place: the live
        snapshot is rewritten into a NEW batch, the manifest flips to
        it with the new family in the same version, and the new batch's
        sidecars build under the new family — so a concurrent reader
        planned against the pre-retokenize manifest keeps its
        (old-family) files until :meth:`vacuum` reclaims them, exactly
        the compact-vs-reader contract. A crash before the publish
        leaves the old-family collection untouched; after it, the new
        manifest's only live batch has no sidecars, so everything
        builds new-family. Single concurrent DDL WRITER assumed (the
        promote_metadata contract); readers need nothing. Returns the
        new family.

        An EXPLICIT ``tokenizer`` always pins: an unpinned non-default
        family would be moved back to the default by the next full
        fold, discarding the family the user just asked for.
        ``retokenize()`` with NO argument keeps the prior pinnedness —
        it is "rebuild under the current default", not a pin.

        ``stop_df_ratio``: the rebuilt corpus is ONE batch, so global
        df is computable — record (or with ``None``/``0`` clear) the
        sticky stop-gram pruning ratio before the rebuild's postings
        sweep (see :meth:`_stop_df_pin`); omitted = keep the current
        ratio."""
        from sifts_spark.functions.text import resolve_tokenizer

        t = resolve_tokenizer(tokenizer)
        snap = self.snapshot(name)
        layout = {
            "tokenizer": t,
            "tokenizer_pinned": snap.tokenizer_pinned or tokenizer is not None,
        }
        if stop_df_ratio is not _KEEP:
            layout["stop_df"] = self._stop_df_pin(snap, stop_df_ratio)
        self._rewrite(name, snap, **layout)
        return t

    def maintain_postings(
        self,
        name: str,
        claim_ttl: float = 900.0,
        positions: bool | None = None,
    ) -> None:
        """Write a postings batch for every docs batch that lacks one
        (normally exactly the batch just appended). Idempotent;
        overwrite mode heals partial writes.

        ``positions=True`` builds POSITIONAL postings (term positions
        per posting, see :func:`~sifts_spark.operators.search.
        build_postings`) and records the positional layout in this
        sweep's manifest version, so every later maintenance —
        including ``positions=None`` callers like :meth:`compact` —
        keeps it; ``None`` means "whatever this collection already
        uses". Every batch builds with the snapshot's token family.

        **Concurrent-writer safety**: each sidecar batch is built under
        an atomically-created ``.claim-N`` marker. Without it, two
        handles appending at once would both sweep the OTHER's fresh
        batch as "missing" and race two Spark jobs onto one output dir
        — they share the committer's ``_temporary/`` workspace, and the
        first job's commit deletes it under the second (observed:
        FileNotFoundException under a 6-writer pool; the docs-batch
        reservation alone does not cover the sidecars). A batch claimed
        by a LIVE peer is skipped — the claimer writes it, and until
        then the read path builds missing postings lazily, so queries
        never miss data. Claims older than ``claim_ttl`` seconds are
        treated as crashed writers and broken."""
        snap = self.snapshot(name)
        upgrade = bool(positions) and snap.positions is not True
        use_pos = snap.positions is True if positions is None else positions
        have = set(self._postings_batch_dirs(name, snap))
        live = self._batch_dirs(name, snap)
        # the sticky stop_df ratio applies ONLY when the batch being
        # built IS the entire live corpus (a full-fold/retokenize/
        # promote rewrite, or a single-batch bulk load) — exactly when
        # batch-local df equals global df; multi-batch sweeps build
        # unpruned (batch-local df would mis-prune — the build_postings
        # scope note) and the layout converges back at the next fold
        sdf = snap.stop_df if use_pos else None
        # a full fold's sidecar also stores each term's global df, and
        # the manifest's ``postings_df`` records it for read_postings
        ff = self.full_fold_batch(snap)
        fold_dir = None if ff is None else f"batch={ff}"
        wrote_df = None
        for d in live:
            if d in have:
                continue
            token = self._claim_sidecar(name, d, claim_ttl)
            if token is None:
                continue  # a live peer owns this batch's sidecar build
            stop_hb = self._claim_heartbeat(
                f"{self._postings_dir(name)}/.claim-{d}", token, claim_ttl
            )
            try:
                p = self._build_batch_postings(
                    name,
                    d,
                    snap,
                    positions=use_pos,
                    stop_df_ratio=sdf if live == [d] else None,
                    with_df=d == fold_dir,
                )
                # term-sorted within files => parquet min/max
                # row-group skipping turns a term lookup into an
                # index probe; the term bloom filter additionally
                # drops groups on rare-term misses
                p.sortWithinPartitions("term", "id").write.mode(
                    "overwrite"
                ).option("parquet.bloom.filter.enabled#term", "true").parquet(
                    f"{self._postings_dir(name)}/{d}"
                )
                if d == fold_dir:
                    wrote_df = ff
            finally:
                stop_hb()
                self._release_sidecar_claim(name, d, token)
        self._publish_manifest(
            name, postings_df=wrote_df, **({"positions": True} if upgrade else {})
        )

    def _claim_sidecar(self, name: str, batch_dir: str, ttl: float) -> str | None:
        """Claim one sidecar build via atomic marker create → an OWNER
        TOKEN (uuid, stamped into the marker file), or None when a live
        peer holds it. A marker older than ``ttl`` is a crashed writer:
        break it and take over (the overwrite-mode build heals whatever
        the corpse left).

        The token is what :meth:`_release_sidecar_claim` matches before
        deleting: a build that outlives ``ttl`` gets its claim broken by
        a peer, and without the ownership check the still-alive
        original's ``finally`` would delete the PEER's fresh marker —
        re-opening the two-Spark-jobs-one-output-dir race the claim
        exists to prevent. With the token, the original sees a foreign
        (or empty mid-stamp) marker and leaves it in place.

        Staleness is judged by marker mtime against LOCAL ``time.time()``
        — but the owner HEARTBEATS the marker's mtime every ~ttl/3 while
        its build runs (:meth:`_claim_heartbeat`), so the TTL measures
        owner liveness, not wall time: a build outliving ``ttl`` keeps
        its claim, and cross-host clock skew can only delay takeover of
        a genuinely crashed owner, not break a live one (unless skew
        exceeds the heartbeat interval itself — size ``ttl`` at 3× your
        worst plausible skew). The token check above turns any residual
        early break into duplicate work, never a corrupted output dir:
        the broken original declines to touch the new owner's marker.

        The break is an atomic RENAME of the stale marker to a
        breaker-unique tombstone name — of two sweepers racing to break
        the same corpse, exactly one rename succeeds (delete-then-
        recreate would let the loser's delete kill the winner's FRESH
        claim and put two Spark jobs on one output dir again). The
        winner still goes through the normal atomic create, so a third
        writer claiming normally in the same window also stays safe."""
        pdir = self._postings_dir(name)
        self._fs.mkdirs(self._Path(pdir))
        return self._claim_marker_with_ttl(f"{pdir}/.claim-{batch_dir}", ttl)

    def _claim_marker_with_ttl(self, marker: str, ttl: float) -> str | None:
        """Generic claim: atomic marker create stamped with an owner
        token; breaks markers older than ``ttl`` via the atomic-rename
        tombstone dance documented on :meth:`_claim_sidecar`. Returns
        the token (pass to :meth:`_release_marker`) or None."""
        token = uuid.uuid4().hex
        if self._atomic_create_marker(marker):
            self._write_small_text(marker, token)
            return token
        try:
            age = time.time() - (
                self._fs.getFileStatus(self._Path(marker)).getModificationTime()
                / 1000.0
            )
        except Py4JJavaError:
            # marker vanished between create and stat: owner just
            # finished — nothing left to build under this claim
            return None
        if age <= ttl:
            return None
        parent = marker.rsplit("/", 1)[0]
        tomb = self._Path(f"{parent}/.claim-broken-{uuid.uuid4().hex[:8]}")
        try:
            won = self._fs.rename(self._Path(marker), tomb)
        except Py4JJavaError:
            won = False
        if not won:
            return None  # another breaker got there first
        self._fs.delete(tomb, False)
        if not self._atomic_create_marker(marker):
            return None
        self._write_small_text(marker, token)
        return token

    def _claim_heartbeat(self, marker: str, token: str, ttl: float):
        """Daemon thread refreshing a held claim's mtime every ~ttl/3 s,
        so the TTL measures owner LIVENESS instead of build wall time:
        a build that runs longer than ``claim_ttl`` no longer loses its
        claim to a peer (duplicate work) — with a heartbeating owner,
        only a genuinely dead owner's marker ever goes stale, which
        also retires the cross-host clock-skew sizing caveat (skew now
        only delays crash TAKEOVER, it cannot break a live claim that
        beats faster than the skew).

        The refresh is ``FileSystem.setTimes`` (mtime-only — it can
        never CREATE the path): if a peer somehow broke the claim
        anyway, the marker was renamed to a tombstone and the next beat
        fails or sees a foreign token, so the heartbeat stops rather
        than resurrecting the old path over the new owner's marker.

        Returns a ``stop()`` callable; invoke it in the same ``finally``
        as the release."""
        stop = threading.Event()
        interval = max(min(ttl / 3.0, 60.0), 0.05)

        def beat() -> None:
            while not stop.wait(interval):
                try:
                    if self._read_small_text(marker) != token:
                        return  # broken by a peer — no longer ours
                    self._fs.setTimes(
                        self._Path(marker), int(time.time() * 1000), -1
                    )
                except Exception:
                    return  # marker gone / FS hiccup: stop beating

        t = threading.Thread(target=beat, daemon=True, name="claim-heartbeat")
        t.start()

        def stopper() -> None:
            stop.set()
            t.join(timeout=5.0)

        return stopper

    def _release_marker(self, marker: str, token: str, what: str) -> None:
        """Delete a claim marker ONLY if we still own it (its content
        matches our token). A foreign token means a peer broke our claim
        past the TTL and now owns the work — deleting its live marker
        would let a third writer double-claim, so log and leave it."""
        content = self._read_small_text(marker)
        if content is None:
            return  # already gone — nothing to release
        if content == token:
            self._fs.delete(self._Path(marker), False)
            return
        import logging

        logging.getLogger(__name__).warning(
            "claim for %s was broken by a peer while this build ran "
            "(its token differs); leaving the peer's marker in place — "
            "size the claim TTL above your worst-case build time",
            what,
        )

    def _release_sidecar_claim(self, name: str, batch_dir: str, token: str) -> None:
        self._release_marker(
            f"{self._postings_dir(name)}/.claim-{batch_dir}", token,
            f"{name}/{batch_dir}",
        )

    def read_postings(
        self, name: str, snap: Snapshot | dict | None = None
    ) -> DataFrame:
        """Live postings (term, id, dl, tf[, pos]) — one lazy plan.

        On-disk postings batches are unioned with lazily-built postings
        for any docs batch not yet indexed (crash healing / stores
        written with use_fts off), then joined with the live (id, batch)
        winners so stale versions and tombstoned docs drop out. A full
        fold whose sidecar is on disk skips the join (see :meth:`read`);
        a lazily built fold keeps it. When the manifest's
        ``postings_df`` names that fold, its rows also carry ``df``, the
        term's document frequency over the live corpus. Lazy builds
        tokenize with ``snap``'s family (default: the current one)."""
        snap = self._snap(name, snap)
        docs_dirs = self._batch_dirs(name, snap)
        use_pos = snap.positions is True
        fields = [
            T.StructField("term", T.StringType(), True),
            T.StructField("id", T.StringType(), True),
            T.StructField("dl", T.IntegerType(), True),
            T.StructField("tf", T.LongType(), True),
        ]
        cols = ["term", "id", "dl", "tf"]
        if use_pos:
            # pre-positions batches lack the column on disk; the explicit
            # read schema fills pos = null, which the phrase evaluator
            # treats as inconclusive → content-verify fallback (exact
            # either way, see search_postings)
            fields.append(
                T.StructField("pos", T.ArrayType(T.IntegerType()), True)
            )
            cols.append("pos")
        POSTINGS_SCHEMA = T.StructType(fields)
        if not docs_dirs:
            return self.spark.createDataFrame([], POSTINGS_SCHEMA)
        have = set(self._postings_batch_dirs(name, snap))
        on_disk = [d for d in docs_dirs if d in have]
        missing = [d for d in docs_dirs if d not in have]
        parts: list[DataFrame] = []
        if on_disk:
            ff = self.full_fold_batch(snap)
            # the fold's sidecar carries df when the manifest says so
            df_cols = ["df"] if ff is not None and snap.postings_df == ff else []
            scan = (
                self.spark.read.schema(
                    T.StructType(
                        fields
                        + [T.StructField(c, T.IntegerType(), True) for c in df_cols]
                    )
                )
                .option("basePath", self._postings_dir(name))
                .parquet(*[f"{self._postings_dir(name)}/{d}" for d in on_disk])
            )
            if ff is not None:
                # full fold with its sidecar on disk: every posting is live
                return scan.select(*cols, *df_cols)
            parts.append(scan.select(*cols, F.col("batch").cast("long")))
        for d in missing:
            parts.append(
                self._build_batch_postings(name, d, snap, positions=use_pos)
            )
        p = parts[0]
        for more in parts[1:]:
            p = p.unionByName(more)
        live = self.live_versions(name, snap)
        return p.join(live, ["id", "batch"]).select(*cols)

    # ---- persisted IVF/IVFPQ vector index (ANN sidecar) -----------------
    #
    # A covering CANDIDATE SELECTOR, not a data copy: `(id[, codes])`
    # parquet laid out ``cells-v{V}/batch={n}/cell={c}/`` beside a
    # `_meta` JSON holding the trained centroids (and, for an IVFPQ
    # index, the PQ codebooks). Queries read ONLY the probed `cell=`
    # dirs (partition pruning by construction — `cell` is the inner
    # partition column, so a cell filter prunes directories under every
    # batch) and join the ids back to the live snapshot for scoring —
    # so a stale index can only lose recall on docs not yet assigned,
    # never return stale values: final scores always come from live
    # embeddings and deletes drop out in the id join.
    #
    # The ``batch={n}`` layer is what makes the index INCREMENTALLY
    # maintainable (mirroring the postings sidecar): a full build
    # writes one ``batch={built_through}`` dir covering the snapshot;
    # each docs batch appended after that gets its own assignment dir
    # via :meth:`append_vector_index_batch` — new-batch-sized work, no
    # centroid re-train, no corpus rewrite. Rebuilds write a fresh
    # versioned cells dir and atomically flip the meta (same recipe as
    # the manifest); vacuum_vector_index reclaims unreferenced dirs.

    def _vecindex_dir(self, name: str) -> str:
        return f"{self.root}/_vecindex/name={urllib.parse.quote(name, safe='')}"

    def _vecindex_meta_path(self, name: str) -> str:
        return f"{self._vecindex_dir(name)}/_meta"

    def read_vector_index_meta(self, name: str) -> dict | None:
        m = self._read_json_file(self._vecindex_meta_path(name))
        if m is None or not isinstance(m.get("centroids"), list):
            return None
        return m

    @staticmethod
    def _assignment_cols(assignments: DataFrame) -> list:
        cols = [F.col("id").cast("string"), F.col("cell").cast("long")]
        if "codes" in assignments.columns:  # IVFPQ: m-byte PQ codes
            cols.append(F.col("codes").cast("array<int>"))
        return cols

    def write_vector_index(
        self, name: str, assignments: DataFrame, centroids: list, extra: dict
    ) -> dict:
        """Persist ``assignments`` (id, cell[, codes]) under a fresh
        versioned cells dir (as its initial ``batch=`` layer), then
        atomically flip ``_meta`` to reference it — readers mid-query
        keep their old dir until :meth:`vacuum_vector_index` reclaims
        it. ``extra['built_through']`` names the newest docs batch the
        build covered; later batches are appended incrementally."""
        base = self._vecindex_dir(name)
        self._fs.mkdirs(self._Path(base))
        prev = self.read_vector_index_meta(name)
        version = (int(prev.get("version", 0)) + 1) if prev else 1
        cells_dir = f"cells-v{version}"
        bt = int(extra.get("built_through", 0))
        assignments.select(*self._assignment_cols(assignments)).write.partitionBy(
            "cell"
        ).parquet(f"{base}/{cells_dir}/batch={bt}")
        meta = {
            "version": version,
            "cells_dir": cells_dir,
            "centroids": [[int(c), [float(x) for x in v]] for c, v in centroids],
            "built_at": time.time(),
            **extra,
        }
        self._write_json_atomic(self._vecindex_meta_path(name), meta)
        return meta

    def vector_index_batches(self, name: str, meta: dict) -> set[int]:
        """Docs-batch numbers already assigned into the index's current
        cells dir (the build layer + every incremental append)."""
        base = f"{self._vecindex_dir(name)}/{meta['cells_dir']}"
        return {
            int(m.group(1))
            for d in self._ls_names(base)
            if (m := self._BATCH_DIR_RE.match(d))
            # a dir without _SUCCESS is a crashed append: not indexed,
            # healed by the next overwrite-mode append under a claim
            and self._exists(f"{base}/{d}/_SUCCESS")
        }

    def append_vector_index_batch(
        self,
        name: str,
        batch: int,
        assignments: DataFrame,
        meta: dict,
        claim_ttl: float = 900.0,
    ) -> bool:
        """Incrementally assign one docs batch into the CURRENT cells
        dir (postings-sidecar mirror: new-batch-sized work, claimed
        under a TTL'd owner-token marker so two facades appending at
        once never race two Spark jobs onto one output dir). Returns
        True when this call wrote the batch; False when it already
        exists or a live peer owns the build."""
        base = f"{self._vecindex_dir(name)}/{meta['cells_dir']}"
        out = f"{base}/batch={int(batch)}"
        if self._exists(f"{out}/_SUCCESS"):
            return False
        token = self._claim_marker_with_ttl(
            f"{base}/.vclaim-batch={int(batch)}", claim_ttl
        )
        if token is None:
            return False
        stop_hb = self._claim_heartbeat(
            f"{base}/.vclaim-batch={int(batch)}", token, claim_ttl
        )
        try:
            # STATIC overwrite (the session default is dynamic, which
            # neither truncates a crashed partial dir nor writes the
            # _SUCCESS marker this layer's bookkeeping keys on)
            assignments.select(*self._assignment_cols(assignments)).write.mode(
                "overwrite"
            ).option("partitionOverwriteMode", "static").partitionBy(
                "cell"
            ).parquet(out)
        finally:
            stop_hb()
            self._release_marker(
                f"{base}/.vclaim-batch={int(batch)}", token,
                f"{name}/vecindex/batch={batch}",
            )
        return True

    def mark_vector_index_batch_covered(
        self, name: str, batch: int, meta: dict
    ) -> None:
        """Record a docs batch as covered by the index WITHOUT any
        assignment rows — an empty committed layer (dir + _SUCCESS).
        Used after compaction: the fold's content was already assigned
        under the batches it folded, so re-assigning it would be a
        corpus-sized map job for zero new information."""
        out = f"{self._vecindex_dir(name)}/{meta['cells_dir']}/batch={int(batch)}"
        self._fs.mkdirs(self._Path(out))
        self._atomic_create_marker(f"{out}/_SUCCESS")

    def read_vector_cells(
        self,
        name: str,
        cells: list[int],
        meta: dict | None = None,
        with_codes: bool = False,
    ) -> DataFrame | None:
        """Rows of the probed cells — a partition-pruned read of only
        the matching ``cell=`` dirs (under every ``batch=`` layer).
        Returns (id[, codes, batch]) — an id can appear once per layer
        that assigned it (update after build); callers dedupe newest-
        batch-wins. None when no index exists."""
        m = meta if meta is not None else self.read_vector_index_meta(name)
        if m is None:
            return None
        base = f"{self._vecindex_dir(name)}/{m['cells_dir']}"
        df = (
            self.spark.read.option("basePath", base)
            .parquet(base)
            .filter(F.col("cell").isin([int(c) for c in cells]))
        )
        cols = ["id"]
        if with_codes and "codes" in df.columns:
            cols.append("codes")
        if "batch" in df.columns:
            cols.append("batch")
        return df.select(*cols)

    def vacuum_vector_index(self, name: str, min_age_seconds: float = 3600.0) -> list[str]:
        """Reclaim cells dirs no longer referenced by ``_meta`` (older
        rebuilds), on the same retention clock as :meth:`vacuum`."""
        m = self.read_vector_index_meta(name)
        if m is None:
            return []
        cutoff = time.time() - min_age_seconds
        deleted = []
        for d in self._ls_names(self._vecindex_dir(name)):
            if not d.startswith("cells-v") or d == m["cells_dir"]:
                continue
            path = f"{self._vecindex_dir(name)}/{d}"
            try:
                mtime = (
                    self._fs.getFileStatus(self._Path(path)).getModificationTime()
                    / 1000.0
                )
            except Exception:
                continue
            if mtime <= cutoff:
                self._delete_dir(path)
                deleted.append(path)
        return deleted
