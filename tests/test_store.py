"""DocumentStore layout tests: scheme-agnostic Hadoop-FS ops, schema
evolution, and factory URL dispatch (SURVEY §2.1 S3/S4)."""

from __future__ import annotations

import pytest

from sifts_spark.collection import Collection
from sifts_spark.sources.store import DocumentStore, normalize_root


def test_file_scheme_uri_store(tmp_path, spark):
    """The store works addressed through an explicit file:// URI — the
    layout ops resolve the FileSystem from the root's scheme, the same
    code path hdfs://, s3a://, gs:// take (no POSIX os.* involved)."""
    root = f"file://{tmp_path}/scheme_store"
    col = Collection(root, "test", spark=spark)
    col.add(["Lorem ipsum", "sit amet"], ids=["a", "b"])
    assert col.count() == 2
    col.delete(["a"])
    assert col.count() == 1
    # reopen through the URI — data persisted under the scheme'd root
    col2 = Collection(root, "test", spark=spark)
    assert col2.count() == 1
    assert col2.store.collection_names() == ["test"]
    col2.compact()
    assert col2.count() == 1
    col2.delete_all()
    assert col2.count() == 0


def test_normalize_root():
    assert normalize_root("s3a://bucket/store/") == "s3a://bucket/store"
    assert normalize_root("hdfs://nn/store") == "hdfs://nn/store"
    assert normalize_root("rel/path").startswith("/")  # absolutized


def test_no_posix_layout_ops():
    """Regression gate: the store must not regrow driver-side POSIX
    layout calls (the round-1 100 TB blocker)."""
    import inspect

    import sifts_spark.sources.store as store_mod

    src = inspect.getsource(store_mod)
    for banned in ("os.listdir", "os.makedirs", "shutil", "os.path.isdir"):
        assert banned not in src, f"POSIX layout op {banned} reintroduced"


def test_append_batch_schema_evolution(store_root, spark):
    """A narrower DataFrame (missing embedding/metadata/deleted) appends
    cleanly; absent columns read back as NULL — reference lazy
    ALTER-ADD-COLUMN parity (core.py:472-482)."""
    store = DocumentStore(spark, store_root)
    narrow = spark.createDataFrame(
        [("x", "hello world")], "id string, content string"
    )
    store.append_batch("t", narrow)
    snap = store.read("t").collect()
    assert len(snap) == 1
    row = snap[0]
    assert row["content"] == "hello world"
    assert row["metadata"] is None and row["embedding"] is None


def test_append_batch_requires_id(store_root, spark):
    store = DocumentStore(spark, store_root)
    no_id = spark.createDataFrame([("c",)], "content string")
    with pytest.raises(ValueError, match="id"):
        store.append_batch("t", no_id)


def test_factory_url_dispatch(tmp_path, spark):
    # sqlite:/// parity: the reference's SQLite URL routes to a store root
    root = str(tmp_path / "via_sqlite_url")
    col = Collection(f"sqlite:///{root}", "test", spark=spark)
    col.add(["doc"], ids=["1"])
    assert Collection(root, "test", spark=spark).count() == 1
    # PG DSNs rejected with guidance
    with pytest.raises(ValueError, match="storage root"):
        Collection("postgresql://user@host/db", "test", spark=spark)
    with pytest.raises(ValueError, match="storage root"):
        Collection("postgres://user@host/db", "test", spark=spark)


def test_concurrent_writers_reserve_distinct_batches(store_root, spark):
    """Two handles on one collection: a reservation claimed before the
    other writer's dir even exists must still push the second writer to
    the next number (the reserve-marker protocol, atomic createNewFile)."""
    from sifts_spark.sources.store import DocumentStore

    a = DocumentStore(spark, store_root)
    b = DocumentStore(spark, store_root)
    # a reserves but has not materialized its batch dir yet (in-flight)
    n1 = a.reserve_batch("c")
    n2 = b.reserve_batch("c")  # must see a's marker, not reuse the number
    assert (n1, n2) == (1, 2)

    # both writes land under their reserved numbers
    df1 = spark.createDataFrame([("x", "one")], "id string, content string")
    df2 = spark.createDataFrame([("y", "two")], "id string, content string")
    out1 = f"{a._partition_dir('c')}/batch={n1}"
    out2 = f"{b._partition_dir('c')}/batch={n2}"
    from pyspark.sql import functions as F
    for store, df, out, n in ((a, df1, out1, n1), (b, df2, out2, n2)):
        df.select(
            "id", "content",
            F.lit(None).cast("string").alias("metadata"),
            F.lit(None).cast("array<float>").alias("embedding"),
            F.lit(False).alias("deleted"),
        ).write.parquet(out)
        # commit = marker release (the step append_batch performs); a
        # batch whose marker is still live is IN-FLIGHT and correctly
        # invisible to readers
        store._fs.delete(
            store._Path(f"{store._partition_dir('c')}/.reserve-batch-{n}"),
            False,
        )
    assert {r["id"] for r in a.read("c").collect()} == {"x", "y"}


def test_interleaved_writers_via_append_batch(store_root, spark):
    """Plain interleaved append_batch through two handles: distinct
    batches, no leftover reservation markers, consistent snapshot."""
    from sifts_spark.sources.store import DocumentStore

    a = DocumentStore(spark, store_root)
    b = DocumentStore(spark, store_root)
    df = lambda i, c: spark.createDataFrame([(i, c)], "id string, content string")
    assert a.append_batch("c", df("x", "one")) == 1
    assert b.append_batch("c", df("y", "two")) == 2
    assert a.append_batch("c", df("x", "one-v2")) == 3
    # markers removed after committed writes
    assert not [
        n for n in a._ls_names(a._partition_dir("c")) if n.startswith(".reserve")
    ]
    got = {r["id"]: r["content"] for r in a.read("c").collect()}
    assert got == {"x": "one-v2", "y": "two"}


def test_failed_write_burns_the_reserved_number(store_root, spark):
    """A reservation whose write never committed keeps its number burned
    (marker survives), so later writers skip it and readers never see a
    half-written dir."""
    from sifts_spark.sources.store import DocumentStore

    a = DocumentStore(spark, store_root)
    n = a.reserve_batch("c")          # crash here: marker left behind
    assert n == 1
    b = DocumentStore(spark, store_root)
    df = spark.createDataFrame([("y", "two")], "id string, content string")
    assert b.append_batch("c", df) == 2
    assert b._batch_dirs("c") == ["batch=2"]
    assert [r["id"] for r in b.read("c").collect()] == ["y"]


# ---------------------------------------------------------------- manifest


def test_manifest_published_and_resolved(store_root, spark):
    """Every committed write publishes a `_manifest`; readers resolve
    batch dirs through it (no LIST on the read path)."""
    col = Collection(store_root, "m", spark=spark)
    col.add(["one"], ids=["a"])
    col.add(["two"], ids=["b"])
    m = col.store.read_manifest("m")
    assert m is not None and m["batches"] == [1, 2]
    assert m["postings"] == [1, 2] and "doclens" not in m
    assert m["version"] >= 2
    # manifest is authoritative: _batch_dirs resolves through it
    assert col.store._batch_dirs("m") == ["batch=1", "batch=2"]


def test_compact_does_not_delete_until_vacuum(store_root, spark):
    """OPTIMIZE/VACUUM split: a reader whose plan was built BEFORE
    compact() still executes correctly AFTER it — the superseded batch
    dirs survive until vacuum's retention clock expires (the
    compact-vs-reader FileNotFound race, closed)."""
    from sifts_spark.sources.store import DocumentStore

    col = Collection(store_root, "r", spark=spark)
    col.add(["alpha doc"], ids=["1"])
    col.add(["beta doc"], ids=["2"])
    col.delete(["1"])

    deferred = col.store.read("r")          # plan against pre-compact manifest
    col.store.compact("r", postings=True)   # flip manifest; no deletion

    # deferred reader executes AFTER the compact: files still there
    assert {r["id"] for r in deferred.collect()} == {"2"}

    # a NEW reader sees only the folded batch
    store2 = DocumentStore(spark, store_root)
    m = store2.read_manifest("r")
    assert len(m["batches"]) == 1
    folded = m["batches"][0]
    assert {r["id"] for r in store2.read("r").collect()} == {"2"}

    # retention clock: vacuum with a long grace deletes nothing ...
    assert col.store.vacuum("r", min_age_seconds=3600) == []
    # ... with zero grace it reclaims the superseded docs+postings
    deleted = col.store.vacuum("r", min_age_seconds=0)
    assert deleted and all(f"batch={folded}" not in p for p in deleted)
    assert {r["id"] for r in store2.read("r").collect()} == {"2"}
    # superseded stamps pruned after reclamation
    assert col.store.read_manifest("r")["superseded_at"] == {}


def test_text_query_path_does_no_dir_list(store_root, spark):
    """The hot search path (query -> postings + cached BM25 stats) must
    not LIST directories: batch resolution goes through the manifest and
    stats come from the local write-version memo."""
    col = Collection(store_root, "q", spark=spark)
    col.add(["data merge pipeline", "quarterly data report"], ids=["1", "2"])
    col.query("data")  # warm the stats memo

    calls = []
    orig = type(col.store)._ls_names
    try:
        type(col.store)._ls_names = lambda self, p: (calls.append(p), orig(self, p))[1]
        res = col.query("data")
    finally:
        type(col.store)._ls_names = orig
    assert res["total"] == 2
    assert calls == [], f"dir LISTs on the query path: {calls}"


def test_manifest_fallback_to_list(store_root, spark):
    """A store written without a manifest (pre-manifest layout / foreign
    writer) still reads: batch discovery falls back to a LIST."""
    from pyspark.sql import functions as F
    from sifts_spark.sources.store import DocumentStore

    store = DocumentStore(spark, store_root)
    df = spark.createDataFrame([("x", "one")], "id string, content string")
    out = f"{store._partition_dir('legacy')}/batch=1"
    df.select(
        "id", "content",
        F.lit(None).cast("string").alias("metadata"),
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit(False).alias("deleted"),
    ).write.parquet(out)
    assert store.read_manifest("legacy") is None
    assert store._batch_dirs("legacy") == ["batch=1"]
    assert [r["id"] for r in store.read("legacy").collect()] == ["x"]
    # vacuum is a no-op without a manifest (nothing is known-dead)
    assert store.vacuum("legacy", min_age_seconds=0) == []


def test_marker_gc_on_append(store_root, spark):
    """A stale reservation marker (crashed writer) is garbage-collected
    once a later batch materializes — listings stay bounded."""
    from sifts_spark.sources.store import DocumentStore

    a = DocumentStore(spark, store_root)
    assert a.reserve_batch("c") == 1      # crash: marker left behind
    b = DocumentStore(spark, store_root)
    df = spark.createDataFrame([("y", "two")], "id string, content string")
    assert b.append_batch("c", df) == 2
    leftovers = [
        n for n in b._ls_names(b._partition_dir("c")) if n.startswith(".reserve")
    ]
    assert leftovers == []


class _FailingCreateFS:
    """Wraps the real Hadoop FS handle; createNewFile raises a chosen
    Java exception (the only way to exercise the claim loop's error
    discrimination — as root, chmod can't produce a real FS denial).
    Reports a non-local scheme so _atomic_create_marker takes the
    Hadoop createNewFile branch (the local branch uses java.nio
    O_EXCL and never calls this stub)."""

    def __init__(self, real, jexc):
        from py4j.protocol import Py4JJavaError

        self._real = real
        self._exc = Py4JJavaError("createNewFile failed", jexc)

    def createNewFile(self, p):
        raise self._exc

    def getScheme(self):
        return "mockfs"

    def __getattr__(self, attr):
        return getattr(self._real, attr)


def test_reserve_batch_surfaces_real_fs_errors(store_root, spark):
    """A genuine FS failure (here: an IOException from createNewFile)
    must surface immediately, not be retried 64 times into a misleading
    'writer storm' error; an already-exists signal is still treated as
    a lost race and retried."""
    from py4j.protocol import Py4JJavaError
    from sifts_spark.sources.store import DocumentStore

    store = DocumentStore(spark, store_root)
    # real failure -> re-raised on the FIRST attempt
    store._fs = _FailingCreateFS(
        store._fs, spark._jvm.java.io.IOException("disk on fire")
    )
    with pytest.raises(Py4JJavaError, match="disk on fire"):
        store.reserve_batch("ro")

    # already-exists -> lost race -> retried until the attempt budget
    # ends in the writer-storm RuntimeError (not the raw Java error)
    store2 = DocumentStore(spark, store_root)
    store2._fs = _FailingCreateFS(
        store2._fs,
        spark._jvm.org.apache.hadoop.fs.FileAlreadyExistsException("taken"),
    )
    with pytest.raises(RuntimeError, match="writer storm"):
        store2.reserve_batch("ro2")


def test_manifest_self_heals_after_unpublished_write(store_root, spark):
    """Crash window: a batch dir materialized but never published (crash
    between parquet commit and manifest publish) is picked up by the
    NEXT writer's LIST-derived publish — no data loss, no manual
    repair."""
    from pyspark.sql import functions as F
    from sifts_spark.sources.store import DocumentStore

    store = DocumentStore(spark, store_root)
    df = spark.createDataFrame([("x", "one")], "id string, content string")
    store.append_batch("h", df)                      # published: [1]
    # simulate the crashed writer: dir only, no marker cleanup/publish
    crashed = spark.createDataFrame([("y", "two")], "id string, content string")
    crashed.select(
        "id", "content",
        F.lit(None).cast("string").alias("metadata"),
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit(False).alias("deleted"),
    ).write.parquet(f"{store._partition_dir('h')}/batch=2")
    assert store.read_manifest("h")["batches"] == [1]     # stale, pre-heal
    # next committed write re-derives from the LIST: batch 2 resurfaces
    store.append_batch("h", spark.createDataFrame(
        [("z", "three")], "id string, content string"
    ))
    assert store.read_manifest("h")["batches"] == [1, 2, 3]
    assert {r["id"] for r in store.read("h").collect()} == {"x", "y", "z"}


def test_concurrent_appends_converge_in_manifest(store_root, spark):
    """Four threads appending through separate handles: every batch
    lands under a distinct number and the final manifest references all
    of them (LIST-derived publish loses no update)."""
    from concurrent.futures import ThreadPoolExecutor

    from sifts_spark.sources.store import DocumentStore

    def write(i):
        s = DocumentStore(spark, store_root)
        df = spark.createDataFrame([(f"id{i}", f"doc {i}")],
                                   "id string, content string")
        return s.append_batch("cc", df)

    with ThreadPoolExecutor(max_workers=4) as ex:
        batches = sorted(ex.map(write, range(4)))
    assert batches == [1, 2, 3, 4]                    # distinct, gapless
    store = DocumentStore(spark, store_root)
    assert store.read_manifest("cc")["batches"] == [1, 2, 3, 4]
    assert {r["id"] for r in store.read("cc").collect()} == {
        "id0", "id1", "id2", "id3"
    }


def test_vacuum_never_touches_unpublished_future_batches(store_root, spark):
    """Safety rail: vacuum only reclaims batches BELOW the max live
    batch, so a concurrent appender's materialized-but-unpublished dir
    (numbered above every published batch) survives even vacuum(0)."""
    from pyspark.sql import functions as F
    from sifts_spark.sources.store import DocumentStore

    store = DocumentStore(spark, store_root)
    df = lambda i, c: spark.createDataFrame([(i, c)], "id string, content string")
    store.append_batch("vf", df("x", "one"))
    store.append_batch("vf", df("x", "two"))
    store.compact("vf")                                # live: [3]; sup: 1,2
    # in-flight writer: dir 4 exists, manifest not yet updated
    df("y", "late").select(
        "id", "content",
        F.lit(None).cast("string").alias("metadata"),
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit(False).alias("deleted"),
    ).write.parquet(f"{store._partition_dir('vf')}/batch=4")
    deleted = store.vacuum("vf", min_age_seconds=0)
    assert deleted and all("batch=4" not in p for p in deleted)
    assert store._exists(f"{store._partition_dir('vf')}/batch=4")
    # the next publish folds the late batch in; nothing was lost
    store.append_batch("vf", df("z", "five"))
    assert {r["id"] for r in store.read("vf").collect()} == {"x", "y", "z"}


def test_snapshot_time_travel(store_root, spark):
    """Every manifest publish leaves a readable history entry: docs(
    as_of=version) replays the snapshot of that moment — upserts and
    deletes included — until vacuum reclaims the referenced batches."""
    col = Collection(store_root, "tt", spark=spark)
    col.add(["original doc"], ids=["1"])
    v1 = col.store.read_manifest("tt")["version"]
    col.add(["original doc v2"], ids=["1"])
    col.add(["second doc"], ids=["2"])
    v2 = col.store.read_manifest("tt")["version"]
    col.delete(["2"])

    assert {r["id"] for r in col.docs().collect()} == {"1"}
    past1 = {r["id"]: r["content"] for r in col.docs(as_of=v1).collect()}
    assert past1 == {"1": "original doc"}
    past2 = {r["id"]: r["content"] for r in col.docs(as_of=v2).collect()}
    assert past2 == {"1": "original doc v2", "2": "second doc"}

    # vacuum erases history whose batches it reclaims (Delta parity)
    col.store.compact("tt", postings=True)
    col.store.vacuum("tt", min_age_seconds=0)
    with pytest.raises(ValueError, match="vacuum retention"):
        col.docs(as_of=v1).collect()
    # current snapshot unaffected
    assert {r["id"] for r in col.docs().collect()} == {"1"}
    # post-compact versions remain time-travelable
    vs = col.store.manifest_versions("tt")
    assert vs and {r["id"] for r in col.docs(as_of=vs[-1]).collect()} == {"1"}


def test_concurrent_adds_all_fts_searchable(store_root, spark):
    """The full concurrent-writer story, end to end: six threads
    adding through separate Collection handles must leave every doc
    BOTH in the snapshot AND in the postings index. Pins three races
    found under a thread pool (any one of them loses a doc from FTS):

    * two sweeps racing one postings output dir (shared _temporary) —
      fixed by per-batch sidecar claims;
    * a peer indexing an IN-FLIGHT docs batch (dir exists, no files
      committed) into an empty postings corpse — fixed by treating a
      live reservation marker as "batch not materialized" in the
      sweep and the manifest publisher;
    * marker GC deleting a slower writer's in-flight shield because a
      faster peer already materialized a higher batch — fixed by
      reclaiming only markers whose dir is absent or _SUCCESS-committed.
    """
    from concurrent.futures import ThreadPoolExecutor

    from sifts_spark.collection import Collection

    def write(i):
        c = Collection(store_root, "cf", spark=spark)
        c.add([f"document number {i} unique text"], ids=[f"d{i}"])

    with ThreadPoolExecutor(max_workers=6) as ex:
        list(ex.map(write, range(6)))

    c = Collection(store_root, "cf", spark=spark)
    assert c.count() == 6
    hits = {r["id"] for r in c.query("unique")["results"]}
    assert hits == {f"d{i}" for i in range(6)}, f"FTS lost {set('d%d' % i for i in range(6)) - hits}"


def test_stale_sidecar_claim_is_broken_and_healed(store_root, spark, tmp_path):
    """A claim marker left by a crashed writer must not block postings
    maintenance forever: after claim_ttl it is broken and the batch's
    sidecars are built by whoever sweeps next."""
    import os

    from sifts_spark.collection import Collection
    from sifts_spark.sources.store import DocumentStore

    col = Collection(store_root, "st", spark=spark)
    col.add(["first doc text"], ids=["a"])

    store = DocumentStore(spark, store_root)
    # simulate a crash: docs batch 2 committed, sidecars never built,
    # claim marker left behind with an old mtime
    df = spark.createDataFrame([("b", "second doc text")],
                               "id string, content string")
    store.append_batch("st", df)
    pdir = store._postings_dir("st")
    # wipe batch 2's sidecar as if the builder died mid-flight
    store._delete_dir(f"{pdir}/batch=2")
    marker_local = f"{pdir}/.claim-batch=2".replace("file:", "")
    open(marker_local, "w").close()
    os.utime(marker_local, (1, 1))  # ancient mtime -> expired claim
    store._publish_manifest("st")

    # live claim (fresh mtime) blocks the sweep...
    os.utime(marker_local, None)
    store.maintain_postings("st", claim_ttl=900.0)
    assert "batch=2" not in store._postings_batch_dirs("st", None)
    # ...an expired one is broken and the batch heals
    os.utime(marker_local, (1, 1))
    store.maintain_postings("st", claim_ttl=900.0)
    assert "batch=2" in store._postings_batch_dirs("st", None)
    # and the doc is searchable again through the facade
    col2 = Collection(store_root, "st", spark=spark)
    assert {r["id"] for r in col2.query("second")["results"]} == {"b"}


def test_manifest_conditional_put_publish(store_root, spark):
    """The manifest commit point is a conditional put of an immutable
    _manifest_log/v{n}: racing publishers serialize onto distinct
    versions (both readable), a pre-claimed version number is skipped
    rather than clobbered, and a reader that arrives while the
    _manifest pointer is mid-replace (absent) resolves the identical
    manifest through the log — never the raw-LIST fallback."""
    import json
    from concurrent.futures import ThreadPoolExecutor

    from sifts_spark.sources.store import DocumentStore

    store = DocumentStore(spark, store_root)

    def appender(tag):
        df = spark.createDataFrame(
            [(f"{tag}-{i}", f"text {tag} {i}") for i in range(3)],
            "id string, content string",
        )
        # each append publishes a manifest version on commit
        return store.append_batch("mc", df)

    with ThreadPoolExecutor(max_workers=2) as pool:
        batches = list(pool.map(appender, ["a", "b"]))
    assert sorted(batches) == [1, 2]

    m = store.read_manifest("mc")
    assert sorted(m["batches"]) == [1, 2]
    versions = store.manifest_versions("mc")
    assert len(versions) == len(set(versions)) >= 2  # distinct, immutable
    # every committed version is readable (time travel intact)
    for v in versions:
        store.snapshot_at("mc", v).count()

    # an unchanged-state publish burns no version (no-op skip)
    assert store._publish_manifest("mc")["version"] == max(versions)

    # a pre-claimed version number is skipped, not clobbered: plant a
    # foreign log entry at the next number, then change state (append)
    taken = max(versions) + 1
    log_dir = f"{store._partition_dir('mc')}/_manifest_log"
    foreign = {"version": taken, "batches": [1, 2], "postings": [],
               "doclens": [], "superseded_at": {}, "foreign": True}
    store._write_json_atomic(f"{log_dir}/v{taken}", foreign)
    store.append_batch(
        "mc", spark.createDataFrame([("c-0", "text c")], "id string, content string")
    )
    m3 = store.read_manifest("mc")
    assert m3["version"] == taken + 1 and 3 in m3["batches"]
    assert store._read_json_file(f"{log_dir}/v{taken}")["foreign"] is True

    # mid-replace window: pointer gone -> the log serves the SAME manifest
    latest = store.read_manifest("mc")
    store._fs.delete(store._Path(store._manifest_path("mc")), False)
    via_log = store.read_manifest("mc")
    assert via_log == latest  # no raw-LIST degradation, no None
    # and the next publish heals the pointer cache
    store._publish_manifest("mc")
    assert store._read_json_file(store._manifest_path("mc")) is not None


def test_size_tiered_partial_compaction(store_root, spark):
    """compact(max_fold_bytes=N) folds ONLY the small-batch suffix:
    bytes rewritten are tier-sized (the big base batch is untouched),
    the snapshot is value-identical, and a tombstone inside the folded
    tier keeps shadowing its victim in the unfolded base batch."""
    from sifts_spark.collection import Collection
    from sifts_spark.sources.store import DocumentStore

    col = Collection(store_root, "tc", spark=spark, use_fts=False,
                     vacuum_grace_seconds=0.0)
    # batch 1: the big base (padded content so its bytes dwarf the tier)
    base_ids = [f"base-{i}" for i in range(40)]
    col.add([f"base doc {i} " + "pad " * 200 for i in range(40)], ids=base_ids)
    store = DocumentStore(spark, store_root)
    base_bytes = store._batch_bytes("tc", "batch=1")

    # small tail: two tiny adds + a delete of a BASE doc (tombstone in
    # the tier whose victim lives in the unfolded base batch)
    col.add(["tiny one"], ids=["t1"])
    col.add(["tiny two"], ids=["t2"])
    col.delete(["base-0"])
    before = {r["id"]: r["content"] for r in col.docs().collect()}
    assert "base-0" not in before and len(before) == 41

    threshold = max(base_bytes // 2, 4096)
    col.compact(max_fold_bytes=threshold)

    live = store._batch_dirs("tc")
    assert "batch=1" in live and len(live) == 2  # base + one folded batch
    folded = [d for d in live if d != "batch=1"][0]
    folded_bytes = store._batch_bytes("tc", folded)
    assert folded_bytes < threshold <= base_bytes  # tier-sized rewrite

    after = {r["id"]: r["content"] for r in col.docs().collect()}
    assert after == before  # snapshot unchanged
    # the tombstone survived the fold: base-0 stays dead even though
    # its victim's batch was never rewritten
    raw = store.read_raw("tc")
    from pyspark.sql import functions as F
    assert raw.filter(F.col("deleted") & (F.col("id") == "base-0")).count() == 1

    # a FULL compaction retires the tombstone and folds everything
    col.compact()
    assert len(store._batch_dirs("tc")) == 1
    assert store.read_raw("tc").filter("deleted").count() == 0
    assert {r["id"] for r in col.docs().collect()} == set(after)


def _executed_plan(df) -> tuple[list, str]:
    rows = df.collect()
    return rows, df._jdf.queryExecution().executedPlan().toString()


def _assert_stored_df_is_live_df(store, name):
    """The fold's ``df`` column equals a per-term count of the live
    postings (the sidecar joined with the live versions)."""
    from pyspark.sql import functions as F

    mf = store.read_manifest(name)
    ff = store.full_fold_batch(mf)
    live = (
        store.spark.read.parquet(f"{store._postings_dir(name)}/batch={ff}")
        .withColumn("batch", F.lit(ff).cast("long"))
        .join(store.live_versions(name, mf), ["id", "batch"])
    )
    want = {(r["term"], r["count"]) for r in live.groupBy("term").count().collect()}
    got = store.read_postings(name)
    assert "df" in got.columns and want
    assert {(r["term"], r["df"]) for r in got.select("term", "df").collect()} == want


def test_full_fold_sidecar_reads_skip_the_window(store_root, spark):
    """After a full compact(), read_postings is the raw sidecar scan —
    no newest-batch-wins Window, no dynamic-pruning subquery — and holds
    exactly the rows of an explicit live_versions join. One more write
    brings the Window path back, with the same query() answers."""
    from pyspark.sql import functions as F

    col = Collection(store_root, "ff", spark=spark)
    col.add(["alpha beta", "beta gamma", "gamma delta"], ids=["a", "b", "c"])
    col.add(["alpha alpha zeta"], ids=["b"])  # upsert
    col.delete(["c"])
    col.compact()
    store = col.store
    mf = store.read_manifest("ff")
    ff = store.full_fold_batch(mf)
    assert ff is not None

    assert mf["postings_df"] == ff
    want = (
        spark.read.parquet(f"{store._postings_dir('ff')}/batch={ff}")
        .withColumn("batch", F.lit(ff).cast("long"))
        .join(store.live_versions("ff", mf), ["id", "batch"])
        .select("term", "id", "dl", "tf", "pos", "df")
    )
    rows, plan = _executed_plan(store.read_postings("ff"))
    assert "Window" not in plan
    assert "dynamicpruning" not in plan.lower()
    assert sorted(rows) == sorted(want.collect())
    assert {r["id"] for r in rows} == {"a", "b"}
    assert "Window" not in _executed_plan(col.query_df("alpha or beta"))[1]
    _assert_stored_df_is_live_df(store, "ff")

    # ranks sum per-tag contributions in tag order, so equal inputs give
    # bit-equal ranks on both paths, however many leaves a query has
    queries = ("alpha", "gamma", "zeta or beta", "alpha or beta or zeta",
               "alpha NOT beta")
    before = {q: col.query(q) for q in queries}
    assert before["alpha NOT beta"]["total"] == 1
    col.add(["alpha alpha zeta"], ids=["b"])  # same content: same N, avgdl
    assert store.full_fold_batch(store.read_manifest("ff")) is None
    assert "Window" in _executed_plan(store.read_postings("ff"))[1]
    assert {q: col.query(q) for q in queries} == before


def test_compacted_store_without_sidecars_keeps_the_join(store_root, spark):
    """A use_fts=False collection has no sidecars to trust: after a
    full compact() its postings are built lazily at read, keep the
    live_versions join, and a reopen with FTS answers exactly."""
    col = Collection(store_root, "lz", spark=spark, use_fts=False)
    col.add(["alpha beta", "beta gamma", "alpha gamma"], ids=["a", "b", "c"])
    col.add(["delta"], ids=["a"])  # upsert drops 'alpha' from a
    col.delete(["b"])
    col.compact()
    assert col.store.full_fold_batch(col.store.read_manifest("lz")) is not None

    fts = Collection(store_root, "lz", spark=spark)
    res = fts.query("alpha or beta")
    assert res["total"] == 1
    assert [r["id"] for r in res["results"]] == ["c"]
    assert fts.query("delta")["total"] == 1
    assert "Window" in _executed_plan(fts.store.read_postings("lz"))[1]


def _jobs_of(spark, fn) -> int:
    """Spark jobs one call runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_compacted_text_queries_read_the_postings_once(store_root, spark):
    """On a full fold with stored df, whole-term text queries score the
    filtered postings rows directly: no (id, tag) re-aggregate, no df
    branch re-reading the postings."""
    import re

    col = Collection(store_root, "jb", spark=spark)
    col.add(["alpha beta gamma", "beta gamma delta", "new york city"],
            ids=["a", "b", "c"])
    col.add(["alpha new york", "gamma delta alpha"], ids=["d", "e"])
    col.compact()
    calls = {
        "term": lambda: col.query("alpha", limit=10),
        "bool": lambda: col.query("alpha and beta or delta", limit=10),
        "phrase": lambda: col.query('"new york"', limit=10),
    }
    for fn in calls.values():
        fn()  # warm: the BM25 corpus stats are memoized on first use
    jobs = {kind: _jobs_of(spark, fn) for kind, fn in calls.items()}
    assert jobs["term"] <= 3, jobs
    assert jobs["bool"] <= 4 and jobs["phrase"] <= 4, jobs

    rows, plan = _executed_plan(col.query_df("alpha"))
    assert sorted(r["id"] for r in rows) == ["a", "d", "e"]
    final = plan.split("== Initial Plan ==")[0]
    assert not re.search(r"HashAggregate\(keys=\[[^\]]*\btag#", final)
    assert final.count("ReadSchema: struct<term:") == 1, final


def test_writes_build_one_sidecar_per_batch(store_root, spark):
    """Each write verb builds the postings batch only: add, upsert and
    delete run at most 3 jobs, compact() at most 4, and no per-doc
    length sidecar appears under the store root."""
    import os

    col = Collection(store_root, "wj", spark=spark)
    col.add(["alpha beta", "beta gamma", "gamma delta"], ids=["a", "b", "c"])
    jobs = {
        "add": _jobs_of(spark, lambda: col.add(["delta eps"], ids=["d"])),
        "upsert": _jobs_of(spark, lambda: col.add(["zeta eta"], ids=["a"])),
        "delete": _jobs_of(spark, lambda: col.delete(["b"])),
    }
    assert all(n <= 3 for n in jobs.values()), jobs
    jobs["compact"] = _jobs_of(spark, col.compact)
    assert jobs["compact"] <= 4, jobs
    assert not os.path.exists(os.path.join(store_root, "_doclen"))
    assert {r["id"] for r in col.query("delta or zeta")["results"]} == {"a", "c", "d"}


def test_legacy_doclen_sidecar_is_ignored_and_reclaimed(store_root, spark):
    """A store written when every postings batch had a per-doc length
    twin under ``_doclen/`` (and a ``doclens`` manifest key) answers
    like the same docs without them; compact() + vacuum() reclaims the
    superseded twins and drop_collection() removes the rest."""
    import os

    from pyspark.sql import functions as F

    docs = {"a": "alpha beta", "b": "beta gamma gamma", "c": "gamma delta"}

    def build(name):
        col = Collection(store_root, name, spark=spark)
        col.add(list(docs.values()), ids=list(docs))
        col.add(["alpha alpha zeta"], ids=["d"])
        return col

    legacy, plain = build("old"), build("new")
    store = legacy.store
    mf = store.read_manifest("old")
    for n in mf["postings"]:
        (
            spark.read.parquet(f"{store._postings_dir('old')}/batch={n}")
            .groupBy("id").agg(F.first("dl").alias("dl"))
            .withColumn("batch", F.lit(n).cast("long"))
            .write.parquet(f"{store._doclen_dir('old')}/batch={n}")
        )
    mf = dict(mf, doclens=list(mf["postings"]))
    mf["version"] = max(store.manifest_versions("old")) + 1
    assert store._write_manifest("old", mf)
    legacy = Collection(store_root, "old", spark=spark)

    queries = ("alpha", "gamma", "alpha or gamma", "beta and gamma",
               "gamma NOT delta")
    assert {q: legacy.query(q) for q in queries} == {
        q: plain.query(q) for q in queries
    }

    doclen_dir = store._doclen_dir("old").replace("file:", "")
    legacy.compact(vacuum=False)
    reclaimed = legacy.store.vacuum("old", min_age_seconds=0)
    assert {p for p in reclaimed if "/_doclen/" in p} == {
        f"{store._doclen_dir('old')}/batch={n}" for n in mf["doclens"]
    }
    assert os.listdir(doclen_dir) == []
    assert {q: legacy.query(q) for q in queries} == {
        q: plain.query(q) for q in queries
    }
    legacy.store.drop_collection("old")
    assert not os.path.exists(doclen_dir)


def _drop_postings_df_field(store, name):
    """Publish the current manifest again without ``postings_df``: the
    shape of a store folded before the field existed."""
    mf = dict(store.read_manifest(name))
    mf.pop("postings_df")
    mf["version"] = max(store.manifest_versions(name)) + 1
    assert store._write_manifest(name, mf)


@pytest.mark.parametrize("positions", [True, False])
def test_text_answers_equal_across_postings_layouts(store_root, spark, positions):
    """One set of live docs in three layouts: a full fold with stored
    df, the same writes left multi-batch, and the fold with the manifest
    field dropped. Totals, ids and ranks are bit-equal."""
    import random

    rnd = random.Random(7)
    vocab = ["alpha", "alpine", "alps", "beta", "gamma", "delta", "eps",
             "zeta", "eta", "theta", "iota", "kappa"]
    docs = {f"d{i:02d}": " ".join(rnd.choice(vocab) for _ in range(rnd.randint(3, 9)))
            for i in range(40)}
    upserts = {f"d{i:02d}": " ".join(rnd.choice(vocab) for _ in range(6))
               for i in (3, 9, 17, 25, 31)}

    def build(name):
        col = Collection(store_root, name, spark=spark, index_positions=positions)
        col.add(list(docs.values()), ids=list(docs))
        col.add(list(upserts.values()), ids=list(upserts))
        col.delete(["d04", "d12", "d30"])
        return col

    queries = ["alpha", "alpha and beta or gamma", "beta or gamma or delta or eps",
               '"alpha beta"', 'gamma or "beta alpha"', "alp*", "alp* or zeta",
               "gamma NOT delta", 'beta NOT "gamma delta"']

    def answers(col):
        return {q: col.query(q, limit=50) for q in queries}

    fold = build("fold")
    fold.compact()
    store = fold.store
    assert store.read_manifest("fold")["postings_df"] == store.full_fold_batch(
        store.read_manifest("fold")
    )
    assert "df" in store.read_postings("fold").columns
    want = answers(fold)
    assert all(want[q]["total"] > 0 for q in queries)
    assert answers(build("multi")) == want
    _drop_postings_df_field(store, "fold")
    assert "df" not in store.read_postings("fold").columns
    assert answers(fold) == want


def test_bm25_corpus_stats_count_tokenized_docs_only(store_root, spark):
    """Pins the documented N definition: corpus_stats counts live docs
    with >=1 token; empty/whitespace docs are outside N and avgdl
    (FTS5 would count every row — deliberate, documented deviation)."""
    from sifts_spark.collection import Collection
    from sifts_spark.operators.search import corpus_stats
    from sifts_spark.sources.store import DocumentStore

    col = Collection(store_root, "bs", spark=spark)
    col.add(["alpha beta", "gamma delta epsilon", "", "   ", "zeta"],
            ids=list("abcde"))
    n, avgdl = corpus_stats(DocumentStore(spark, store_root).read_postings("bs"))
    assert n == 3                      # '', '   ' excluded
    assert avgdl == pytest.approx((2 + 3 + 1) / 3)
    # deleting a tokenized doc shrinks N; empty docs never counted
    col.delete(["a"])
    n2, avgdl2 = corpus_stats(DocumentStore(spark, store_root).read_postings("bs"))
    assert n2 == 2 and avgdl2 == pytest.approx(2.0)


def test_heartbeat_keeps_slow_build_claim_alive(store_root, spark):
    """r6 VERDICT item 7: a build that outlives claim_ttl must NOT lose
    its claim while its owner is alive — the owner heartbeats the
    marker's mtime, so a peer sweeping mid-build sees a live claim; a
    stopped heartbeat (dead owner) goes stale and is broken as before."""
    import time as _t

    from sifts_spark.sources.store import DocumentStore

    store = DocumentStore(spark, store_root)
    pdir = store._postings_dir("hb")
    ttl = 0.6
    token = store._claim_sidecar("hb", "batch=1", ttl)
    assert token is not None
    stop = store._claim_heartbeat(f"{pdir}/.claim-batch=1", token, ttl)
    try:
        # "slow build": sleep 4x the TTL; peers keep seeing a live claim
        deadline = _t.time() + 4 * ttl
        peer = DocumentStore(spark, store_root)
        while _t.time() < deadline:
            assert peer._claim_sidecar("hb", "batch=1", ttl) is None
            _t.sleep(ttl / 2)
    finally:
        stop()
    # owner releases; the path is free again
    store._release_sidecar_claim("hb", "batch=1", token)
    token2 = peer._claim_sidecar("hb", "batch=1", ttl)
    assert token2 is not None
    # dead owner: no heartbeat -> stale after ttl -> broken by a sweeper
    _t.sleep(ttl + 0.3)
    token3 = store._claim_sidecar("hb", "batch=1", ttl)
    assert token3 is not None and token3 != token2
    # the broken peer's release must leave the new owner's marker alone
    peer._release_sidecar_claim("hb", "batch=1", token2)
    assert store._read_small_text(f"{pdir}/.claim-batch=1") == token3
    store._release_sidecar_claim("hb", "batch=1", token3)


def test_diff_between_versions(store_root, spark):
    """Version-level change feed: added/updated/deleted between two
    manifest versions, by winning batch number."""
    col = Collection(store_root, "dv", spark=spark)
    col.add(["a doc", "b doc", "c doc"], ids=["a", "b", "c"])
    v1 = col.store.read_manifest("dv")["version"]

    col.add(["b doc v2"], ids=["b"])        # update
    col.add(["d doc"], ids=["d"])           # add
    col.delete(["c"])                        # delete
    v2 = col.store.read_manifest("dv")["version"]

    got = {r["id"]: r["change"] for r in col.diff(v1).collect()}
    assert got == {"b": "updated", "d": "added", "c": "deleted"}
    # explicit until= endpoint gives the same answer
    got2 = {r["id"]: r["change"] for r in col.diff(v1, until=v2).collect()}
    assert got2 == got
    # self-diff is empty; unchanged ids never appear
    assert col.diff(v2).count() == 0

    # delete + re-add between the endpoints reads as updated
    col.delete(["a"])
    col.add(["a doc back"], ids=["a"])
    got3 = {r["id"]: r["change"] for r in col.diff(v2).collect()}
    assert got3 == {"a": "updated"}

    # identical-content re-upsert bumps the winner but the digest
    # verify prunes it — not a change an incremental consumer cares about
    col.add(["d doc"], ids=["d"])
    v3 = col.store.read_manifest("dv")["version"]
    got4 = {r["id"]: r["change"] for r in col.store.diff("dv", v2, v3).collect()}
    assert "d" not in got4

    # inverted endpoints fail loudly instead of returning a reversed feed
    with pytest.raises(ValueError, match="inverted"):
        col.store.diff("dv", v3, v1)

    # compaction rewrites every live row's batch number; the digest
    # verify keeps the feed EMPTY across it (Delta dataChange=false)
    v_pre = col.store.read_manifest("dv")["version"]
    col.store.compact("dv", postings=True)
    assert col.diff(v_pre).count() == 0
    # ... and real changes after the compaction still surface
    col.add(["a changed again"], ids=["a"])
    got5 = {r["id"]: r["change"] for r in col.diff(v_pre).collect()}
    assert got5 == {"a": "updated"}

    # pruned history raises like snapshot_at
    col.store.vacuum("dv", min_age_seconds=0)
    with pytest.raises(ValueError, match="vacuum retention"):
        col.diff(v1).collect()


def test_diff_release_all_cycle_unpersists(store_root, spark):
    """The documented caching contract (r11 verdict item 5 / ADVICE):
    diff() registers an internal persist in the session cache registry;
    sifts_spark.release_all() — re-exported at the package root — must
    actually free it, so a diff-then-release loop holds no memory."""
    import sifts_spark
    from sifts_spark.caching import _TRACKED

    assert sifts_spark.release_all is not None  # package-root door
    sifts_spark.release_all()  # drain anything earlier tests tracked
    col = Collection(store_root, "dvrel", spark=spark)
    col.add(["a doc"], ids=["a"])
    v1 = col.store.read_manifest("dvrel")["version"]
    col.add(["b doc"], ids=["b"])

    before = len(_TRACKED)
    d = col.diff(v1)
    assert d.count() == 1
    tracked = [t for t in _TRACKED[before:]]
    assert tracked, "diff() should register its persist in the registry"
    assert all(t.storageLevel.useMemory for t in tracked)
    released = sifts_spark.release_all()
    assert released >= len(tracked)
    assert not _TRACKED  # registry drained
    assert all(not t.storageLevel.useMemory for t in tracked)  # uncached


def test_diff_digest_unambiguous_across_field_boundaries(store_root, spark):
    """Separator/sentinel bytes INSIDE a field must not collide two
    distinct (content, metadata) pairs — the naive concat digest would
    prune this real change as 'no change'."""
    from pyspark.sql import functions as F

    col = Collection(store_root, "dg", spark=spark)
    v1_df = spark.createDataFrame(
        [("a", "x", "\x01")], "id string, content string, metadata string"
    )
    col.add_dataframe(v1_df, metadata_col="metadata")
    v1 = col.store.read_manifest("dg")["version"]
    # under concat_ws('\x00', coalesce(c,'\x01'), coalesce(m,'\x01')),
    # this new version digests byte-identically to v1
    v2_df = spark.createDataFrame(
        [("a", "x\x00\x01", None)], "id string, content string, metadata string"
    )
    col.add_dataframe(v2_df, metadata_col="metadata")
    got = {r["id"]: r["change"] for r in col.diff(v1).collect()}
    assert got == {"a": "updated"}
