"""Behavioral tests for the Collection facade — mirrors the reference
suite /root/reference/tests/sifts/test_sqlite.py (structure per FIXTURES.md).
"""

from __future__ import annotations

import pytest

from sifts_spark.collection import Collection


def ten_doc_fixture(store_root, spark, numeric=False):
    """F1a / F1b: canonical 10-doc ordering/filter fixture
    (ref test_sqlite.py:146-158 / :256-268)."""
    col = Collection(store_root, "test", spark=spark)
    k1s = list("abcdefghi") if not numeric else list(range(1, 10))
    k2s = (["c"] * 3 + ["b"] * 3 + ["a"] * 3) if not numeric else [3, 3, 3, 2, 2, 2, 1, 1, 1]
    ids = [f"i{i}" for i in range(1, 10)]
    col.add(
        ["Lorem"] * 9,
        ids=ids,
        metadatas=[{"k1": k1, "k2": k2} for k1, k2 in zip(k1s, k2s)],
    )
    col.add(["Lorem"], ids=["i0"], metadatas=[None])
    return col


# ---------------------------------------------------------------- basics


def test_name_validation(store_root, spark):
    # ref test_sqlite.py:27-36
    with pytest.raises(ValueError):
        Collection(store_root, "bad name!", spark=spark)
    with pytest.raises(ValueError):
        Collection(store_root, "", spark=spark)
    Collection(store_root, "ok-name_+~#=/1", spark=spark)


def test_add_search_wildcard_or(store_root, spark):
    # F1c corpus, ref test_sqlite.py:39-53
    col = Collection(store_root, "test", spark=spark)
    col.add(["Lorem ipsum dolor", "sit amet"])
    assert col.query("Lorem")["total"] == 1
    assert col.query("am*")["total"] == 1
    r = col.query("Lorem or amet")
    assert r["total"] == 2
    assert col.query("Lorem ipsum")["total"] == 1  # implicit AND
    assert col.query("Lorem sit")["total"] == 0  # ref :56-63


def test_tenant_isolation(store_root, spark):
    # ref test_sqlite.py:66-75 — same store, different name → disjoint
    a = Collection(store_root, "a", spark=spark)
    b = Collection(store_root, "b", spark=spark)
    a.add(["Lorem ipsum"], ids=["1"])
    b.add(["sit amet"], ids=["1"])
    assert a.count() == 1
    assert b.count() == 1
    assert a.query("Lorem")["total"] == 1
    assert b.query("Lorem")["total"] == 0
    assert a.get()["results"][0]["content"] == "Lorem ipsum"


def test_uuid_default_ids_and_upsert(store_root, spark):
    # ref test_sqlite.py:78-95
    col = Collection(store_root, "test", spark=spark)
    ids = col.add(["Lorem ipsum"])
    assert len(ids) == 1 and len(ids[0]) == 36  # UUIDv4 format
    # upsert on conflict: same id replaces
    col.add(["replaced content"], ids=ids)
    assert col.count() == 1
    assert col.get()["results"][0]["content"] == "replaced content"


def test_update_reindexes(store_root, spark):
    # ref test_sqlite.py:98-112
    col = Collection(store_root, "test", spark=spark)
    ids = col.add(["Lorem ipsum"])
    col.update(ids, ["dolor sit"])
    assert col.query("Lorem")["total"] == 0
    assert col.query("dolor")["total"] == 1


def test_add_rejects_duplicate_ids(store_root, spark):
    """An id given twice in one add() is refused before any write or
    Spark job: two versions in one batch have no newest-wins order, and
    both versions' postings would score the doc."""
    col = Collection(store_root, "dup", spark=spark)
    col.add(["alpha"], ids=["y"])
    sc = spark.sparkContext
    sc.setJobGroup("add-dup", "add-dup")
    try:
        with pytest.raises(ValueError, match=r"duplicate ids.*\['x', 'y'\]"):
            col.add(["alpha beta", "alpha alpha gamma", "b", "c"],
                    ids=["x", "y", "x", "y"])
        with pytest.raises(ValueError, match=r"duplicate ids.*\['p'\]"):
            col.add_chunked(["alpha one", "alpha two"], ids=["p", "p"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("add-dup") == []
    assert col.count() == 1
    assert col.query("alpha")["total"] == 1


def test_delete_idempotent(store_root, spark):
    # ref test_sqlite.py:115-127
    col = Collection(store_root, "test", spark=spark)
    ids = col.add(["Lorem ipsum", "sit amet"])
    col.delete([ids[0]])
    assert col.count() == 1
    col.delete([ids[0]])  # idempotent
    assert col.count() == 1
    col.delete(ids)
    assert col.count() == 0


def test_delete_all(store_root, spark):
    col = Collection(store_root, "test", spark=spark)
    other = Collection(store_root, "other", spark=spark)
    col.add(["a", "b"])
    other.add(["c"])
    col.delete_all()
    assert col.count() == 0
    assert other.count() == 1


def test_metadata_retrieval_incl_null(store_root, spark):
    # ref test_sqlite.py:130-143
    col = Collection(store_root, "test", spark=spark)
    col.add(
        ["Lorem", "ipsum"],
        ids=["1", "2"],
        metadatas=[{"k": "v"}, None],
    )
    res = col.get(order_by="k")["results"]
    assert res[0]["metadata"] == {"k": "v"}
    assert res[1]["metadata"] is None


# ------------------------------------------------------------- ordering


def test_order_by_single_key(store_root, spark):
    # ref test_sqlite.py:146-186 invariants (FIXTURES.md F1a)
    col = ten_doc_fixture("file://" + store_root, spark)
    res = col.get(order_by="k1")["results"]
    assert [r["id"] for r in res] == [f"i{i}" for i in range(1, 10)] + ["i0"]
    res = col.get(order_by="-k1")["results"]
    assert [r["id"] for r in res] == ["i0"] + [f"i{i}" for i in range(9, 0, -1)]


def test_order_by_multi_key(store_root, spark):
    col = ten_doc_fixture(store_root, spark)
    res = col.get(order_by=["k2", "k1"])["results"]
    assert [r["id"] for r in res] == [
        "i7", "i8", "i9", "i4", "i5", "i6", "i1", "i2", "i3", "i0",
    ]


def test_limit_offset_pages(store_root, spark):
    # ref test_sqlite.py:189-222
    col = ten_doc_fixture(store_root, spark)
    page1 = col.get(order_by="k1", limit=3)
    assert page1["total"] == 10
    assert [r["id"] for r in page1["results"]] == ["i1", "i2", "i3"]
    page2 = col.get(order_by="k1", limit=3, offset=3)
    assert [r["id"] for r in page2["results"]] == ["i4", "i5", "i6"]
    last = col.get(order_by="k1", limit=3, offset=9)
    assert [r["id"] for r in last["results"]] == ["i0"]
    # page past the end: PG semantics → total 0 (SURVEY §2.7 decision)
    empty = col.get(order_by="k1", limit=3, offset=50)
    assert empty == {"total": 0, "results": []}


# ---------------------------------------------------------------- where


def test_where_string_operators(store_root, spark):
    # ref test_sqlite.py:225-253
    col = ten_doc_fixture(store_root, spark)
    assert col.get(where={"k2": "a"})["total"] == 3
    assert col.get(where={"k2": {"$eq": "a"}})["total"] == 3
    assert col.get(where={"k2": {"$gt": "a"}})["total"] == 6
    assert col.get(where={"k2": {"$gte": "b"}})["total"] == 6
    assert col.get(where={"k2": {"$lt": "b"}})["total"] == 3
    assert col.get(where={"k2": {"$lte": "b"}})["total"] == 6
    assert col.get(where={"k1": {"$gt": "a"}, "k2": "c"})["total"] == 2


def test_where_numeric_operators(store_root, spark):
    # ref test_sqlite.py:256-284 (F1b: numeric comparison semantics)
    col = ten_doc_fixture(store_root, spark, numeric=True)
    assert col.get(where={"k2": 1})["total"] == 3
    assert col.get(where={"k2": {"$gt": 1}})["total"] == 6
    assert col.get(where={"k2": {"$gte": 2}})["total"] == 6
    assert col.get(where={"k2": {"$lt": 2}})["total"] == 3
    assert col.get(where={"k1": {"$lte": 4}})["total"] == 4


def test_where_in_nin(store_root, spark):
    # ref test_sqlite.py:287-316 — i0 (NULL metadata) in NEITHER result
    col = ten_doc_fixture(store_root, spark)
    r = col.get(where={"k1": {"$in": ["a", "b", "c", "d"]}}, order_by="k1")
    assert [x["id"] for x in r["results"]] == ["i1", "i2", "i3", "i4"]
    r = col.get(where={"k1": {"$nin": ["a", "b", "c", "d"]}}, order_by="k1")
    assert [x["id"] for x in r["results"]] == ["i5", "i6", "i7", "i8", "i9"]


def test_where_invalid_operator(store_root, spark):
    # ref test_sqlite.py:300-302
    col = ten_doc_fixture(store_root, spark)
    with pytest.raises(ValueError):
        col.get(where={"k1": {"$like": "a"}})


def test_full_scan(store_root, spark):
    # ref test_sqlite.py:319-326
    col = ten_doc_fixture(store_root, spark)
    r = col.get()
    assert r["total"] == 10
    assert len(r["results"]) == 10
    assert "rank" not in r["results"][0]


def test_search_with_where_and_order(store_root, spark):
    # the phase-0 flagship: test_sqlite.py:208-212 analog
    col = ten_doc_fixture(store_root, spark)
    r = col.query("Lorem", where={"k2": "a"}, order_by="k1", limit=3)
    assert r["total"] == 3
    assert [x["id"] for x in r["results"]] == ["i7", "i8", "i9"]
    assert r["results"][0]["rank"] is not None


def test_compaction_preserves_snapshot(store_root, spark):
    col = ten_doc_fixture(store_root, spark)
    col.delete(["i5"])
    col.compact()
    assert col.count() == 9
    assert col.get(where={"k2": "b"})["total"] == 2


# ------------------------------------------------- round-2 parity fixes


def test_order_by_numeric_metadata(store_root, spark):
    """Numeric JSON metadata sorts numerically (9 < 10), mirroring
    SQLite json_extract typed ordering — ref test_sqlite.py:256-284
    fixture shape; ADVICE r1 item."""
    col = Collection(store_root, "test", spark=spark)
    col.add(
        ["Lorem"] * 3,
        ids=["a", "b", "c"],
        metadatas=[{"n": 9}, {"n": 10}, {"n": 2}],
    )
    res = col.get(order_by="n")["results"]
    assert [r["id"] for r in res] == ["c", "a", "b"]  # 2 < 9 < 10
    res = col.get(order_by="-n")["results"]
    assert [r["id"] for r in res] == ["b", "a", "c"]


def test_order_by_mixed_types_numbers_before_strings(store_root, spark):
    """SQLite type order: NULL handling via direction, numbers < text."""
    col = Collection(store_root, "test", spark=spark)
    col.add(
        ["Lorem"] * 4,
        ids=["s1", "n10", "n9", "x"],
        metadatas=[{"k": "apple"}, {"k": 10}, {"k": 9}, None],
    )
    res = col.get(order_by="k")["results"]
    assert [r["id"] for r in res] == ["n9", "n10", "s1", "x"]
    res = col.get(order_by="-k")["results"]
    assert [r["id"] for r in res] == ["x", "s1", "n10", "n9"]


def test_none_ids_get_uuids(store_root, spark):
    """None/empty ids become UUIDs, never the string 'None'
    (ref core.py:147-150; ADVICE r1 item)."""
    col = Collection(store_root, "test", spark=spark)
    ids1 = col.add(["one"], ids=[None])
    ids2 = col.add(["two"], ids=[None])
    assert ids1[0] != "None" and ids2[0] != "None"
    assert ids1[0] != ids2[0]
    assert col.count() == 2
    ids3 = col.add(["three"], ids=[""])
    assert ids3[0] != ""
    assert col.count() == 3


def test_limit_zero_means_unlimited(store_root, spark):
    """limit in (None, 0) = no limit — reference core.py:327-333 only
    appends LIMIT when truthy (ADVICE r1 item)."""
    col = ten_doc_fixture(store_root, spark)
    r = col.get(limit=0)
    assert r["total"] == 10 and len(r["results"]) == 10


# ------------------------------------------------- postings index (W3)


def test_postings_maintained_on_add_and_delete(store_root, spark):
    """The facade maintains the postings index on every write
    (ref core.py:504-514) and serves text queries from it."""
    col = Collection(store_root, "test", spark=spark)
    col.add(["Lorem ipsum dolor", "sit amet"], ids=["a", "b"])
    pdirs = col.store._postings_batch_dirs("test")
    assert pdirs == ["batch=1"]
    assert col.query("lorem")["total"] == 1
    # update re-indexes: stale version's postings must not match
    col.add(["sit amet consectetur"], ids=["a"])
    assert col.store._postings_batch_dirs("test") == ["batch=1", "batch=2"]
    assert col.query("lorem")["total"] == 0
    assert col.query("sit")["total"] == 2
    # delete drops the doc from the index via liveness resolution
    col.delete(["b"])
    assert col.query("sit")["total"] == 1
    # compact folds postings with docs
    col.compact()
    assert len(col.store._batch_dirs("test")) == 1
    assert len(col.store._postings_batch_dirs("test")) == 1
    assert col.query("sit")["total"] == 1


def test_postings_self_heal_missing_batch(store_root, spark):
    """A docs batch without its postings batch (crash window, or a store
    written with use_fts off) is still searchable: read_postings builds
    the missing slice lazily."""
    col = Collection(store_root, "test", use_fts=False, spark=spark)
    col.add(["Lorem ipsum"], ids=["a"])
    assert col.store._postings_batch_dirs("test") == []
    fts = Collection(store_root, "test", spark=spark)
    assert fts.query("lorem")["total"] == 1


def test_corpus_stats_memoized_exact_and_outside_the_plan(
    store_root, spark, monkeypatch
):
    """BM25 corpus stats are computed from the live postings once per
    snapshot and track it across upsert/delete — with NO stats
    aggregation over the postings index inside the query plan (the
    crossJoin(broadcast(stats)) subtree the un-statted path builds shows
    up as a BroadcastNestedLoopJoin; its absence pins the memo path)."""
    import sifts_spark.operators.search as search
    from sifts_spark.operators.search import corpus_stats

    col = Collection(store_root, "stats", spark=spark)
    col.add(["aa bb cc", "aa bb", "dd"], ids=["1", "2", "3"])
    # exact vs the postings-derived definition (docs with >=1 token)
    n, avgdl = col._corpus_stats()
    n2, avgdl2 = corpus_stats(col.store.read_postings("stats"))
    assert (n, round(avgdl, 9)) == (n2, round(avgdl2, 9)) == (3, round(2.0, 9))

    # upsert + delete shift the live stats; the memo must follow
    col.add(["aa bb cc dd ee"], ids=["2"])       # dl 2 -> 5
    col.delete(["3"])                             # drops dl 1
    n, avgdl = col._corpus_stats()
    assert (n, avgdl) == (2, 4.0)                 # (3 + 5) / 2

    # plan shape: the facade text query carries no stats subtree
    plan = col.query_df("aa")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan

    # memo: same snapshot -> no recompute (poison the stats kernel)
    calls = []
    monkeypatch.setattr(
        search, "corpus_stats", lambda p: calls.append(p) or corpus_stats(p)
    )
    col.query("aa")
    col.query("bb")
    assert calls == []  # served from the memo both times


def test_retokenize_refreshes_own_corpus_stats(store_root, spark):
    """A facade's own retokenize() changes every doc's length; the same
    handle's BM25 stats and ranks then equal a fresh handle's."""
    col = Collection(store_root, "rt", spark=spark)
    col.add(["alpha beta gamma", "alpha alpha delta", "beta epsilon"],
            ids=["1", "2", "3"])
    before = col._corpus_stats()
    col.query("alpha")  # memoize under the old family
    col.retokenize("trigram")
    fresh = Collection(store_root, "rt", spark=spark)
    assert col._corpus_stats() == fresh._corpus_stats() != before
    assert col.query("alpha") == fresh.query("alpha")


def test_corpus_stats_external_writer_needs_refresh(store_root, spark):
    """The memo key is a LOCAL write-version counter (zero filesystem
    metadata ops on the query path): a SECOND handle's write leaves the
    cached stats scalars stale until refresh() — the documented
    external-writer contract. The postings themselves are manifest-
    resolved per query, so the new DOCUMENT is searchable either way;
    only the two BM25 constants lag."""
    a = Collection(store_root, "shared", spark=spark)
    b = Collection(store_root, "shared", spark=spark)
    a.add(["one two"], ids=["1"])
    assert a._corpus_stats() == (1, 2.0)
    b.add(["three four five six"], ids=["2"])
    assert a._corpus_stats() == (1, 2.0)   # memoized: stale by design
    # b's doc is already VISIBLE to a's queries (manifest-resolved read)
    assert a.query("three")["total"] == 1
    a.refresh()
    assert a._corpus_stats() == (2, 3.0)


def test_auto_compaction_bounds_batches(store_root, spark):
    """auto_compact_batches folds the LSM once the batch count reaches
    the threshold: snapshot identical, postings still serve FTS, and
    upsert/delete semantics survive the fold."""
    col = Collection(store_root, "ac", spark=spark, auto_compact_batches=3)
    col.add(["alpha doc"], ids=["1"])
    col.add(["beta doc"], ids=["2"])
    assert len(col.store._batch_dirs("ac")) == 2   # below threshold
    col.add(["gamma doc"], ids=["3"])              # 3rd batch -> compact
    assert len(col.store._batch_dirs("ac")) == 1
    col.add(["alpha doc v2 zzz"], ids=["1"])       # upsert post-compact
    col.delete(["2"])                              # 3 batches again -> compact
    assert len(col.store._batch_dirs("ac")) == 1
    got = {r["id"]: r["content"] for r in col.store.read("ac").collect()}
    assert got == {"1": "alpha doc v2 zzz", "3": "gamma doc"}
    q = col.query("zzz")
    assert q["total"] == 1 and q["results"][0]["id"] == "1"


def test_collection_dedup_in_place(store_root, spark):
    """dedup(): facade-level in-place dedup — transitive clusters
    resolved, non-canonical members tombstoned via a distributed batch,
    canonical (min-id) survivors keep serving queries. Idempotent."""
    col = Collection(store_root, "dd", spark=spark)
    col.add(
        [
            "the quick brown fox jumps over the lazy dog",   # exact dup of b
            "the quick brown fox jumps over the lazy dog",
            "THE QUICK   brown fox jumps over the lazy dog", # normalized dup
            "completely different content about spark engines",
        ],
        ids=["a", "b", "c", "d"],
    )
    pairs = col.find_duplicates("exact").collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {("a", "b"), ("a", "c")}

    assert col.dedup("exact", dry_run=True) == 2
    assert col.count() == 4                     # dry run deletes nothing
    assert col.dedup("exact") == 2
    ids = {r["id"] for r in col.docs().collect()}
    assert ids == {"a", "d"}                    # min-id canonical kept
    assert col.dedup("exact") == 0              # idempotent
    # survivors still searchable through the normal path
    assert col.query("spark")["results"][0]["id"] == "d"


def test_collection_dedup_minhash_near_dups(store_root, spark):
    base = "word" + " word".join(str(i) for i in range(30))
    col = Collection(store_root, "ddm", spark=spark)
    col.add(
        [base, base + " tail", "totally unrelated short doc here"],
        ids=["1", "2", "3"],
    )
    n = col.dedup("minhash", jaccard_threshold=0.5)
    assert n == 1
    assert {r["id"] for r in col.docs().collect()} == {"1", "3"}


def test_collection_dedup_ngram_near_dups(store_root, spark):
    # identical text ⇒ identical shingle set ⇒ the rarest-shingle block
    # is shared BY CONSTRUCTION (the 1-hash LSH blocking only finds a
    # pair with probability ~J otherwise — operator-level recall is
    # pinned in test_dedup.py; this test pins the facade dispatch)
    base = "word" + " word".join(str(i) for i in range(30))
    col = Collection(store_root, "ddn", spark=spark)
    col.add(
        [base, base, "totally unrelated short doc here"],
        ids=["1", "2", "3"],
    )
    pairs = col.find_duplicates("ngram", threshold=0.5).collect()
    assert [(p["id_a"], p["id_b"], p["score"]) for p in pairs] == [
        ("1", "2", 1.0)
    ]
    n = col.dedup("ngram", threshold=0.5)
    assert n == 1
    assert {r["id"] for r in col.docs().collect()} == {"1", "3"}


def test_collection_dedup_semantic(store_root, spark):
    """dedup('semantic'): SemDeDup decisions drive the tombstones —
    one survivor per eps-component, embeddings required."""
    col = Collection(store_root, "sem", spark=spark)
    df = spark.createDataFrame(
        [
            ("a1", "alpha doc", [1.0, 0.0, 0.0]),
            ("a2", "alpha doc near-twin", [0.999, 0.02, 0.0]),
            ("b", "beta doc", [0.0, 1.0, 0.0]),
            ("c", "gamma doc", [0.0, 0.0, 1.0]),
        ],
        "id string, content string, embedding array<float>",
    )
    col.add_dataframe(df, embedding_col="embedding")
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])]
    assert col.dedup("semantic", dry_run=True, centroids=cents, eps=0.99) == 1
    assert col.count() == 4
    assert col.dedup("semantic", centroids=cents, eps=0.99) == 1
    ids = {r["id"] for r in col.docs().collect()}
    assert "b" in ids and "c" in ids and len(ids) == 3
    assert len({"a1", "a2"} & ids) == 1          # one twin survived
    assert col.dedup("semantic", centroids=cents, eps=0.99) == 0  # idempotent


def test_collection_dedup_substrings(store_root, spark):
    """dedup_substrings(): duplicated runs cut in place, docs
    re-upserted, emptied docs tombstoned, idempotent."""
    shared = " ".join(f"license{i}" for i in range(30))
    col = Collection(store_root, "sub", spark=spark)
    col.add(
        [
            f"first unique body alpha beta gamma {shared}",
            f"{shared} second unique body delta epsilon zeta",
            shared,                                   # nothing but the run
            "untouched totally different document here",
        ],
        ids=["a", "b", "c", "d"],
        metadatas=[{"k": 1}, {"k": 2}, {"k": 3}, {"k": 4}],
    )
    out = col.dedup_substrings(k=10, w=5)
    # doc a (lowest id) keeps the run; b rewritten; c emptied
    assert out["rewritten"] == 1 and out["removed"] == 1
    assert out["chars_cut"] > 0
    rows = {r["id"]: r for r in col.docs().collect()}
    assert set(rows) == {"a", "b", "d"}
    assert "license0" in rows["a"]["content"]
    assert "license0" not in rows["b"]["content"]
    assert "second unique body" in rows["b"]["content"]
    # metadata preserved through the rewrite
    import json as _json

    assert _json.loads(rows["b"]["metadata"])["k"] == 2
    # second run: nothing left to cut
    out2 = col.dedup_substrings(k=10, w=5)
    assert out2 == {"rewritten": 0, "removed": 0, "chars_cut": 0}
    # dry_run leaves data alone
    col2 = Collection(store_root, "sub2", spark=spark)
    col2.add([f"x {shared}", f"y {shared} z"], ids=["p", "q"])
    pre = col2.dedup_substrings(k=10, w=5, dry_run=True)
    assert pre["rewritten"] + pre["removed"] >= 1
    assert {r["id"]: r["content"] for r in col2.docs().collect()} == {
        "p": f"x {shared}", "q": f"y {shared} z"
    }


def test_collection_semantic_and_embedding_defaults_with_string_ids(
    store_root, spark
):
    """Facade default paths (no centroids kwarg): deterministic
    centroids carry STRING doc ids as cell labels, which the long-typed
    assignment kernel can't return — the dense positional remap must
    make both dedup('semantic') and find_duplicates('embedding') work
    out of the box."""
    col = Collection(store_root, "semdef", spark=spark)
    df = spark.createDataFrame(
        [
            ("u-a", "alpha doc", [1.0, 0.0]),
            ("u-b", "alpha twin", [0.999, 0.01]),
            ("u-c", "beta doc", [0.0, 1.0]),
        ],
        "id string, content string, embedding array<float>",
    )
    col.add_dataframe(df, embedding_col="embedding")
    # n_cells=1: the near-dup vectors would BE the two seed centroids
    # at n_cells=2 and split across cells (the documented IVF boundary
    # trade); one cell keeps the test about the string-id remap
    pairs = col.find_duplicates("embedding", threshold=0.99, n_cells=1).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {("u-a", "u-b")}
    assert col.dedup("semantic", eps=0.99, n_cells=1) == 1
    assert col.count() == 2


def test_dedup_substrings_whitespace_remnant_tombstoned(store_root, spark):
    """A doc reduced to newline/tab remnants counts as emptied (trim
    strips only space — the rlike predicate must catch all of \\s)."""
    shared = " ".join(f"hdr{i}" for i in range(25))
    col = Collection(store_root, "subws", spark=spark)
    col.add(
        [
            f"keeper body {shared}",
            shared + "\n\t\n",     # nothing but the run + newline/tabs
        ],
        ids=["a", "b"],
    )
    out = col.dedup_substrings(k=10, w=5)
    assert out["removed"] == 1 and out["rewritten"] == 0
    assert {r["id"] for r in col.docs().collect()} == {"a"}


# ---------------------------------------------- r7: single-execution


def _spy_count_collect(monkeypatch):
    """Record every DataFrame.count (with the frame's storage level at
    the call) and every collect (with its executed plan)."""
    # patch the CONCRETE class (pyspark.sql.DataFrame is the abstract
    # facade in Spark 4; instance method lookup resolves on classic)
    from pyspark.sql.classic.dataframe import DataFrame

    seen = {"counts": [], "collects": []}
    orig_count = DataFrame.count
    orig_collect = DataFrame.collect

    def spy_count(self):
        lvl = self.storageLevel
        seen["counts"].append((self, lvl.useMemory or lvl.useDisk))
        return orig_count(self)

    def spy_collect(self):
        out = orig_collect(self)
        seen["collects"].append(
            self._jdf.queryExecution().executedPlan().toString()
        )
        return out

    monkeypatch.setattr(DataFrame, "count", spy_count)
    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    return seen


def test_query_total_and_page_share_one_execution(
    store_root, spark, monkeypatch
):
    """query()'s total and page share ONE execution of the match plan.
    A sorted page with a limit counts through an observation on the
    page's own top-k action: no count() action, one collect, and the
    executed page plan carries the CollectMetrics node and no cache
    scan. The fallback shape (an unsorted scan with a limit, which
    stops early) counts a persisted frame that the page then reads,
    and releases the cache before returning."""
    col = ten_doc_fixture(store_root, spark)
    col.query("Lorem")  # warm the BM25 stats memo (its own collect)

    seen = _spy_count_collect(monkeypatch)
    res = col.query("Lorem", limit=3)
    assert res["total"] == 10 and len(res["results"]) == 3
    assert seen["counts"] == []
    assert len(seen["collects"]) == 1
    assert "CollectMetrics" in seen["collects"][0]
    assert "InMemoryTableScan" not in seen["collects"][0]

    seen = _spy_count_collect(monkeypatch)
    res = col.get(limit=3)
    assert res["total"] == 10 and len(res["results"]) == 3
    assert len(seen["counts"]) == 1
    frame, persisted_at_count = seen["counts"][0]
    assert persisted_at_count is True
    assert len(seen["collects"]) == 1
    assert "InMemoryTableScan" in seen["collects"][0]
    # released on exit — no cache outlives the call
    lvl = frame.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)


def test_query_total_exact_on_every_path(store_root, spark):
    """Each total path of query() against a hand count, on a
    multi-batch collection (upserts and a delete resolve
    newest-batch-wins at read). Docs after the writes:
    i1..i4 'alpha beta' k=1..4, i5 'beta gamma' k=5, i6 'gamma' k=6,
    and chunks c1/c2 (parent p) and c3 (parent q), all 'alpha chunk'."""
    col = Collection(store_root, "totals", spark=spark)
    col.add(
        ["alpha beta"] * 4 + ["alpha gamma", "gamma", "alpha"],
        ids=[f"i{i}" for i in range(1, 8)],
        metadatas=[{"k": i} for i in range(1, 8)],
    )
    col.add(["beta gamma"], ids=["i5"], metadatas=[{"k": 5}])  # upsert
    col.delete(["i7"])
    col.add(
        ["alpha chunk"] * 3,
        ids=["c1", "c2", "c3"],
        metadatas=[
            {"_parent": "p", "_chunk": 0, "k": 10},
            {"_parent": "p", "_chunk": 1, "k": 11},
            {"_parent": "q", "_chunk": 0, "k": 12},
        ],
    )
    assert len(col.store._batch_dirs("totals")) == 4

    # unlimited ranked query: the page is the match (an observation on
    # its global sort would count each row twice)
    res = col.query("alpha")
    assert res["total"] == len(res["results"]) == 7
    # zero-hit term
    assert col.query("nowhere", limit=5) == {"total": 0, "results": []}
    # offset past the end: empty page reports total 0 (PG semantics)
    assert col.query("alpha", limit=5, offset=50) == {
        "total": 0, "results": [],
    }
    # limited order_by + where page: 'alpha' docs with k >= 2
    res = col.query(
        "alpha", where={"k": {"$gte": 2}}, order_by="-k", limit=2
    )
    assert res["total"] == 6  # i2, i3, i4, c1, c2, c3
    assert [r["id"] for r in res["results"]] == ["c3", "c2"]
    # group_by_parent with a limit: parents i1..i4, p, q
    res = col.query("alpha", group_by_parent=True, limit=2)
    assert res["total"] == 6 and len(res["results"]) == 2
    # unsorted get with a limit (persisted fallback): 9 live docs
    res = col.get(limit=4)
    assert res["total"] == 9 and len(res["results"]) == 4


def test_search_postings_pool_modes(spark):
    """r8 VERDICT item 5 (supersedes the r6 persist pin): the measured
    winner at sf0.1 AND sf1 is NO pool persist — two pushed-down index
    probes beat one probe + pool materialization at both scales (see
    search_postings' docstring). Default plan: no InMemoryRelation.
    pool=list: persisted, handle surrendered to the caller (the
    leak-free ownership contract)."""
    from sifts_spark.operators import search as S
    from sifts_spark.queryparser import parse_query

    docs = spark.createDataFrame(
        [(f"d{i}", f"alpha beta gamma token{i}") for i in range(20)],
        "doc_id string, text string",
    )
    postings = S.build_postings(docs, "doc_id", "text")

    out = S.search_postings(postings, parse_query("alpha and beta"))
    rows = out.collect()
    assert len(rows) == 20
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan  # default induces no cache

    handles: list = []
    out2 = S.search_postings(postings, parse_query("alpha and beta"),
                             pool=handles)
    assert len(out2.collect()) == 20
    assert len(handles) == 1
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("InMemoryTableScan") >= 2  # both consumers cached
    lvl = handles[0].storageLevel
    assert lvl.useMemory or lvl.useDisk
    handles[0].unpersist()


def test_query_releases_all_cache_entries(store_root, spark):
    """r7 ADVICE: the serving path must not leak CacheManager entries.
    search_postings persists the candidate pool; Spark's CacheManager
    holds each InMemoryRelation STRONGLY until an explicit unpersist
    (ContextCleaner never reaps SQL cache entries), so query() must
    release the pool persist it induced — otherwise every text query in
    a long-lived session pins one more unreleasable cache entry."""
    from sifts_spark.caching import release_all

    release_all()  # start from a clean registry
    cm = spark._jsparkSession.sharedState().cacheManager()
    col = ten_doc_fixture(store_root, spark)
    baseline = cm.cachedData().size()

    for _ in range(3):  # repeated queries must not accumulate entries
        res = col.query("Lorem", limit=3)
        assert res["total"] == 10
    assert cm.cachedData().size() == baseline

    # the lazy bulk path induces NO persist at all (nothing owns a
    # release point there)
    assert col.query_df("Lorem").count() == 10
    assert cm.cachedData().size() == baseline


def test_add_dataframe_computes_embeddings_with_function(store_root, spark):
    """Regression (r10): the bulk-ingest embedding pandas_udf carried
    `pd.Series` type hints that are strings under `from __future__
    import annotations` and resolve against module globals (no `pd`
    there) — every add_dataframe on a collection WITH an
    embedding_function raised UNSUPPORTED_SIGNATURE."""
    from sifts_spark.collection import Collection

    def embed(texts):
        return [[float(len(t)), 1.0] for t in texts]

    col = Collection(store_root, "bulk_embed", spark=spark,
                     embedding_function=embed)
    df = spark.createDataFrame(
        [("x", "short"), ("y", "a longer content string")],
        "id string, content string",
    )
    col.add_dataframe(df)
    rows = {r["id"]: r["embedding"] for r in col.docs().collect()}
    assert rows["x"] == [5.0, 1.0]
    assert rows["y"] == [23.0, 1.0]
    res = col.query("anything", vector_search=True, limit=1)
    assert res["total"] == 2


class TestMmrQuery:
    """Maximal-marginal-relevance diversified retrieval: greedy pick
    matches an independent pure-Python reference; near-duplicate top
    hits are displaced by diverse-but-relevant docs; lambda=1 is plain
    top-k; chunked collections diversify across parents."""

    @staticmethod
    def _make_embed():
        # a CLOSURE (not a class/module attribute): cloudpickle ships
        # it by value, so executor-side pandas_udfs can deserialize it
        # without importing the test module
        def embed(texts):
            table = {
                "alpha": [1.0, 0.0, 0.0],
                "alpha2": [0.999, 0.04, 0.0],
                "beta": [0.7, 0.7, 0.0],
                "gamma": [0.0, 1.0, 0.0],
                "query": [1.0, 0.02, 0.0],
            }
            return [table[t.split()[0]] for t in texts]

        return embed

    def _collection(self, store_root, spark, name="mmr"):
        from sifts_spark.collection import Collection

        col = Collection(store_root, name, spark=spark,
                         embedding_function=self._make_embed())
        col.add(
            ["alpha first copy", "alpha2 near duplicate",
             "beta somewhat diverse", "gamma orthogonal"],
            ids=["a", "a2", "b", "g"],
        )
        return col

    def test_diversification_displaces_near_duplicate(self, store_root, spark):
        col = self._collection(store_root, spark)
        plain = col.query("query x", vector_search=True, limit=3)
        assert [r["id"] for r in plain["results"]][:2] == ["a", "a2"]
        mmr = col.mmr_query("query x", k=3, lambda_=0.5)
        ids = [r["id"] for r in mmr["results"]]
        # first pick = most relevant; second = diverse, NOT the near-dup
        assert ids[0] == "a" and ids[1] != "a2"
        assert mmr["total"] == 4
        assert [r["mmr_position"] for r in mmr["results"]] == [0, 1, 2]
        # rank stays the exact cosine (= plain search's rank for 'a')
        assert mmr["results"][0]["rank"] == plain["results"][0]["rank"]

    def test_lambda_one_is_plain_topk(self, store_root, spark):
        col = self._collection(store_root, spark, name="mmr_l1")
        plain = [r["id"] for r in
                 col.query("query x", vector_search=True, limit=3)["results"]]
        mmr = [r["id"] for r in
               col.mmr_query("query x", k=3, lambda_=1.0)["results"]]
        assert mmr == plain

    def test_matches_python_reference(self, store_root, spark):
        import numpy as np

        from sifts_spark.operators.vector_search import mmr_select

        rng = np.random.default_rng(7)
        rel = rng.random(30).tolist()
        emb = rng.standard_normal((30, 8)).tolist()
        lam = 0.3
        got = mmr_select(rel, emb, 10, lam)

        # independent greedy reference
        unit = np.asarray(emb)
        unit = unit / np.linalg.norm(unit, axis=1, keepdims=True)
        chosen: list[int] = []
        cand = set(range(30))
        while len(chosen) < 10:
            best, best_s = None, -np.inf
            for i in sorted(cand):
                if not chosen:
                    s = rel[i]
                else:
                    s = lam * rel[i] - (1 - lam) * max(
                        float(unit[i] @ unit[j]) for j in chosen
                    )
                if s > best_s:
                    best, best_s = i, s
            chosen.append(best)
            cand.remove(best)
        assert got == chosen

    def test_validations(self, store_root, spark):
        col = self._collection(store_root, spark, name="mmr_val")
        with pytest.raises(ValueError, match="lambda_"):
            col.mmr_query("query x", lambda_=1.5)
        with pytest.raises(ValueError, match="fetch_k"):
            col.mmr_query("query x", k=10, fetch_k=3)

    def test_group_by_parent_diversifies_parents(self, store_root, spark):
        from sifts_spark.collection import Collection

        col = Collection(store_root, "mmr_chunks", spark=spark,
                         embedding_function=self._make_embed())
        # two chunks per parent; chunk embeddings collide inside a parent
        col.add_chunked(
            ["alpha one. alpha2 two.", "gamma one. gamma two."],
            ids=["p1", "p2"],
            max_tokens=3,
            overlap_tokens=0,
        )
        res = col.mmr_query("query x", k=2, lambda_=0.5,
                            group_by_parent=True)
        ids = [r["id"] for r in res["results"]]
        assert ids == ["p1", "p2"]  # one row per parent, both parents


def test_explicit_metadata_name_raises_when_absent(store_root, spark):
    """An EXPLICIT metadata_col="metadata" on a frame without that
    column must raise (the sentinel default, not the string, is what
    NULL-fills) — ADVICE r03."""
    import pytest

    from sifts_spark.collection import Collection

    col = Collection(store_root, "adv", spark=spark)
    df = spark.createDataFrame([("a", "text")], "id string, content string")
    with pytest.raises(ValueError, match="metadata"):
        col.add_dataframe(df, metadata_col="metadata")
    # the default still NULL-fills quietly
    col.add_dataframe(df)
    assert col.count() == 1
