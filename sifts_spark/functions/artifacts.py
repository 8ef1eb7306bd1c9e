"""Persist/load small model artifacts (PQ codebooks, unigram LMs, IVF
centroids) as JSON on any Hadoop filesystem.

These objects are all driver-sized by construction (codebooks ~16 KiB,
LM vocab ~50k floats) — the 100 TB story
is that they are TRAINED ONCE against a corpus scan and then reused
across queries, sessions, and clusters; without persistence every job
re-pays the training scan. Format: one JSON file written via the same
atomic temp-write + rename contract as the store's manifest (readers
never observe a partial file); binary fields hex-encode.

Cite: reference keeps no model state at all (SQLite/PG recompute
everything per query, /root/reference/src/sifts/core.py); this module
is part of the scale-path extension surface.
"""

from __future__ import annotations

import json
import uuid


def _fs_path(spark, path: str):
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def save_artifact(spark, path: str, obj: dict) -> None:
    """Atomically write ``obj`` as JSON to ``path`` (temp + rename —
    same-directory renames are atomic on HDFS/local; on object stores
    this is the documented single-writer contract, as for the store
    manifest). ``bytes`` values are hex-encoded transparently."""
    def enc(x):
        if isinstance(x, bytes):
            return {"__hex__": x.hex()}
        raise TypeError(f"unserializable {type(x)}")

    payload = json.dumps(obj, default=enc).encode()
    fs, p = _fs_path(spark, path)
    parent = p.getParent()
    if parent is not None:
        fs.mkdirs(parent)
    jvm = spark.sparkContext._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(
        str(parent), f".{p.getName()}.tmp-{uuid.uuid4().hex[:8]}"
    )
    out = fs.create(tmp, True)
    try:
        out.write(payload)
    finally:
        out.close()
    # Rename-over first (atomic where the FS supports it). Where it
    # refuses because the target exists, move the OLD artifact aside,
    # rename the new one in, then drop the aside copy — the previous
    # good artifact is never deleted before its replacement is in
    # place, so a crash at any point leaves either the old or the new
    # version readable (restoring the aside copy on failure).
    if fs.rename(tmp, p):
        return
    aside = None
    if fs.exists(p):
        aside = jvm.org.apache.hadoop.fs.Path(
            str(parent), f".{p.getName()}.old-{uuid.uuid4().hex[:8]}"
        )
        if not fs.rename(p, aside):
            fs.delete(tmp, False)
            raise IOError(f"could not move old artifact aside for {path}")
    if not fs.rename(tmp, p):
        if aside is not None:
            fs.rename(aside, p)  # restore the previous good artifact
        fs.delete(tmp, False)
        raise IOError(f"rename into place failed for {path}")
    if aside is not None:
        fs.delete(aside, False)


def load_artifact(spark, path: str) -> dict:
    """Read a JSON artifact written by :func:`save_artifact`; hex-coded
    binary fields decode back to ``bytes``."""
    fs, p = _fs_path(spark, path)
    jvm = spark.sparkContext._jvm
    stream = fs.open(p)
    try:
        # py4j passes byte[] BY VALUE — readFully into a Python
        # bytearray mutates a Java-side copy and returns nothing.
        # Materialize JVM-side instead (commons-io ships with Spark).
        buf = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()

    def dec(d):
        if set(d) == {"__hex__"}:
            return bytes.fromhex(d["__hex__"])
        return d

    return json.loads(buf.decode(), object_hook=dec)
