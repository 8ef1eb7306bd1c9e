from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sifts_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # Small local session for tests: few threads, few shuffle partitions
    # (local[32]/32 is for bench; tests favor low latency per query).
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("sifts-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def store_root(tmp_path):
    return str(tmp_path / "store")


@pytest.fixture()
def jobs_of(spark):
    """``jobs_of(fn)`` → the Spark jobs one call of ``fn`` runs,
    counted through a job group."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


SF_DIR = os.environ.get("SPARK_GRAFT_SF_TEST_DIR", "/root/testdata/sf0.001")


def make_legacy_layout(store, name, **markers):
    """Turn collection ``name`` into the layout stores had before the
    manifest carried it: every manifest log entry and the pointer lose
    the layout fields, and the marker files that held them are written
    with the text the old writer stamped for the current layout.
    ``markers`` overrides one marker's raw text by field name
    (``tokenizer``, ``positions``, ``stop_df``, ``promoted``); ``None``
    leaves that file out. Returns the snapshot it converted."""
    import json

    snap = store.snapshot(name)
    texts = {
        "tokenizer": ("pin:" if snap.tokenizer_pinned else "") + snap.tokenizer,
        "positions": None if snap.positions is None else str(int(snap.positions)),
        "stop_df": None if snap.stop_df is None else repr(snap.stop_df),
        "promoted": json.dumps(list(snap.promoted)) if snap.promoted else None,
    }
    texts.update(markers)
    log_dir = f"{store._partition_dir(name)}/_manifest_log"
    for path in [f"{log_dir}/v{v}" for v in store.manifest_versions(name)] + [
        store._manifest_path(name)
    ]:
        m = store._read_json_file(path)
        if m is not None:
            store._write_json_atomic(
                path, {k: v for k, v in m.items() if k not in store._LAYOUT_KEYS}
            )
    for key, path in store._legacy_markers(name).items():
        if texts[key] is not None:
            store._write_small_text(path, texts[key])
    return snap


@pytest.fixture()
def legacy_layout():
    """:func:`make_legacy_layout`, for tests of stores written before
    the manifest carried the index layout."""
    return make_legacy_layout
