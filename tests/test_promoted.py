"""Promoted metadata columns — typed ``_m_``/``_mn_`` sidecars that make
``where`` predicates (and keyset cursor seeks) parquet-pushable.

Pins, per the reference semantics the feature must not perturb
(/root/reference/tests/sifts/test_sqlite.py:256-316):

* EQUIVALENCE — every ``where`` operator family returns identical
  results on a promoted vs a plain twin collection (the plain side is
  the oracle-pinned path), NULL-metadata / missing-key rows included;
* PLAN — a promoted predicate reaches the parquet scan's PushedFilters
  on a full-fold collection (the JSON twin shows no such pushdown);
* LIFECYCLE — sticky keys across reopen, enable-on-nonempty rewrite,
  append-after-promotion materialization (including the cross-handle
  case), compact preservation, full-fold fast-path read ≡
  window-path read on a version-history collection, postings
  maintenance on a use_fts collection;
* KEYSET — cursor walks on a promoted order key equal the plain twin's
  (and offset's) walks, and the promoted seek guard reaches
  PushedFilters.
"""

from __future__ import annotations

import json

import pytest

from sifts_spark.collection import Collection

# every typed class the where/order compiler distinguishes: numbers,
# numeric-looking strings, plain strings, missing key, NULL metadata —
# plus a second key so mixed promoted/JSON conjunctions are exercised.
_DOCS = [
    ("p01", "alpha common token", {"score": 7, "cat": "a"}),
    ("p02", "bravo common token", {"score": 7, "cat": "b"}),
    ("p03", "charlie common token", {"score": 10, "cat": "a"}),
    ("p04", "delta common token", {"score": 9.5, "cat": "b"}),
    ("p05", "echo common token", {"score": 2.5, "cat": "a"}),
    ("p06", "foxtrot common token", {"score": "10", "cat": "b"}),
    ("p07", "golf common token", {"score": "apple", "cat": "a"}),
    ("p08", "hotel common token", {"score": "Banana", "cat": "b"}),
    ("p09", "india common token", {"cat": "a"}),  # score missing
    ("p10", "juliet common token", None),  # NULL metadata
    ("p11", "kilo common token", {"score": -3, "cat": "b"}),
    ("p12", "lima common token", {"score": 7.0, "cat": "c"}),
]


def _fill(col):
    col.add(
        [t for _, t, _ in _DOCS],
        ids=[i for i, _, _ in _DOCS],
        metadatas=[m for _, _, m in _DOCS],
    )


@pytest.fixture()
def twins(store_root, spark):
    plain = Collection(store_root, "plain", spark=spark, use_fts=False)
    promo = Collection(
        store_root, "promo", spark=spark, use_fts=False,
        promote_metadata=["score"],
    )
    _fill(plain)
    _fill(promo)
    return plain, promo


def _ids(col, **kw):
    return sorted(r["id"] for r in col.query(**kw)["results"])


_WHERES = [
    {"score": 7},
    {"score": {"$eq": 7}},
    {"score": {"$gt": 5}},
    {"score": {"$lt": 9}},
    {"score": {"$gte": 7}},
    {"score": {"$lte": 7}},
    {"score": {"$in": [7, "apple"]}},
    {"score": {"$nin": [7, 10]}},
    {"score": "apple"},
    {"score": {"$in": []}},
    {"score": {"$gt": 5, "$lt": 10}},
    # mixed promoted + JSON key conjunction (only "score" is promoted)
    {"score": {"$gt": 5}, "cat": "b"},
    {"cat": {"$in": ["a", "c"]}},
]


@pytest.mark.parametrize("where", _WHERES, ids=[json.dumps(w) for w in _WHERES])
def test_where_equivalence_promoted_vs_plain(twins, where):
    plain, promo = twins
    want = _ids(plain, where=where)
    got = _ids(promo, where=where)
    assert got == want
    # the twin pin alone would pass on two identically-broken paths;
    # anchor a few rows absolutely.
    if where == {"score": 7}:
        assert got == ["p01", "p02", "p12"]
    if where == {"score": {"$nin": [7, 10]}}:
        # NULL/missing metadata matches neither $in nor $nin
        # (test_sqlite.py:303-316); "10" casts numerically equal to 10.
        assert "p09" not in got and "p10" not in got
        assert got == ["p04", "p05", "p07", "p08", "p11"]


def test_null_and_missing_match_neither_class(twins):
    _, promo = twins
    for spec in ({"$in": [7, 10, "apple"]}, {"$nin": [7, 10, "apple"]}):
        got = _ids(promo, where={"score": spec})
        assert "p09" not in got and "p10" not in got


def test_bad_promoted_key_rejected(store_root, spark):
    with pytest.raises(ValueError, match="promoted metadata key"):
        Collection(
            store_root, "bad", spark=spark, use_fts=False,
            promote_metadata=["no-dashes-allowed!"],
        )


# ---- plan pins -------------------------------------------------------


def _formatted(df):
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _pushed_lines(plan):
    return [ln for ln in plan.splitlines() if "PushedFilters" in ln]


def test_promoted_predicate_pushes_to_scan(twins):
    # pushdown needs the full-fold fast-path read (no id window between
    # filter and scan) — the post-OPTIMIZE posture
    plain, promo = twins
    promo.add(["mike common token"], ids=["p16"], metadatas=[{"score": 1}])
    promo.compact()  # >=2 batches: a real fold, stamps full_fold
    plan = _formatted(promo.query_df(where={"score": {"$gt": 5}}))
    pushed = " ".join(_pushed_lines(plan))
    assert "GreaterThan(_mn_score,5.0)" in pushed, pushed
    # contrast: the JSON twin evaluates get_json_object post-scan only
    plain_plan = _formatted(plain.query_df(where={"score": {"$gt": 5}}))
    assert "GreaterThan" not in " ".join(_pushed_lines(plain_plan))


def test_promoted_keyset_seek_guard_pushes_to_scan(twins):
    _, promo = twins
    promo.add(["mike common token"], ids=["p16"], metadatas=[{"score": 1}])
    promo.compact()
    cursor = promo.query(order_by="score", limit=3)["results"][-1]
    plan = _formatted(
        promo.query_df(order_by="score", limit=3, after=cursor)
    )
    pushed = " ".join(_pushed_lines(plan))
    # asc numeric cursor → Or(IsNull(_m_), Or(IsNull(_mn_), >= n))
    assert "_mn_score" in pushed and "GreaterThanOrEqual" in pushed, pushed


# ---- lifecycle -------------------------------------------------------


def test_sticky_marker_across_reopen(store_root, spark):
    c = Collection(
        store_root, "sticky", spark=spark, use_fts=False,
        promote_metadata=["score"],
    )
    _fill(c)
    reopened = Collection(store_root, "sticky", spark=spark, use_fts=False)
    assert reopened.store.snapshot("sticky").promoted == ("score",)
    assert _ids(reopened, where={"score": {"$gte": 9}}) == [
        "p03", "p04", "p06",
    ]
    # appends through the default-flag handle still materialize sidecars
    reopened.add(["new doc"], ids=["p13"], metadatas=[{"score": 99}])
    assert _ids(reopened, where={"score": {"$gt": 50}}) == ["p13"]


def test_promote_on_nonempty_rewrites_once(store_root, spark):
    c = Collection(store_root, "rewrite", spark=spark, use_fts=False)
    _fill(c)
    before = _ids(c, where={"score": {"$gt": 5}})
    all_before = _ids(c)
    c.store.promote_metadata("rewrite", ["score"])
    c.refresh()
    # one full-fold batch; manifest routes the fast-path read
    m = c.store.read_manifest("rewrite")
    assert [int(b) for b in m["batches"]] == [int(m["full_fold"])]
    assert _ids(c, where={"score": {"$gt": 5}}) == before
    assert _ids(c) == all_before


def test_union_promotion_is_sticky(store_root, spark):
    c = Collection(
        store_root, "union", spark=spark, use_fts=False,
        promote_metadata=["score"],
    )
    _fill(c)
    got = c.store.promote_metadata("union", ["cat"])
    assert got == ["cat", "score"]  # union with existing, sorted
    assert _ids(c, where={"cat": "c"}) == ["p12"]


def test_cross_handle_promotion_reaches_appends(store_root, spark):
    """ADVICE r12 (medium): a handle that saw no promoted keys before
    ANOTHER handle promoted must still write the sidecar columns on its
    next append — otherwise promoted predicates silently drop its rows
    until the next full compact."""
    a = Collection(store_root, "xh", spark=spark, use_fts=False)
    _fill(a)
    assert a.store.snapshot("xh").promoted == ()  # before the promotion
    b = Collection(store_root, "xh", spark=spark, use_fts=False)
    b.store.promote_metadata("xh", ["score"])
    # handle A appends after the other handle's promotion
    a.add(["stale cache doc"], ids=["p14"], metadatas=[{"score": 123}])
    # the batch A wrote must carry populated sidecars: a fresh reader
    # filtering on the promoted key must see the row
    fresh = Collection(store_root, "xh", spark=spark, use_fts=False)
    assert _ids(fresh, where={"score": {"$gt": 100}}) == ["p14"]
    # and A itself sees the promotion on its next call, no refresh()
    assert a.store.snapshot("xh").promoted == ("score",)
    assert _ids(a, where={"score": {"$gt": 100}}) == ["p14"]


def test_compact_preserves_promoted_columns(store_root, spark):
    c = Collection(
        store_root, "comp", spark=spark, use_fts=False,
        promote_metadata=["score"],
    )
    _fill(c)
    c.add(["extra"], ids=["p15"], metadatas=[{"score": 42}])
    c.compact()
    m = c.store.read_manifest("comp")
    assert [int(b) for b in m["batches"]] == [int(m["full_fold"])]
    raw = c.store.read_raw("comp")
    assert "_m_score" in raw.columns and "_mn_score" in raw.columns
    assert _ids(c, where={"score": {"$gte": 42}}) == ["p15"]


def test_fastpath_read_equals_window_read(store_root, spark):
    """The full-fold fast-path read (no id window, filters push through)
    must equal the window-path read on a collection with real version
    history — updates shadowing older versions and tombstoned ids."""
    c = Collection(
        store_root, "hist", spark=spark, use_fts=False,
        promote_metadata=["score"],
    )
    _fill(c)
    # version history: update p01's score, delete p03
    c.add(["alpha v2"], ids=["p01"], metadatas=[{"score": 100}])
    c.delete(["p03"])
    kw = dict(where={"score": {"$gte": 7}}, order_by="-score")

    def page(col):
        return [
            (r["id"], r["metadata"]) for r in col.query(**kw)["results"]
        ]

    m = c.store.read_manifest("hist")
    assert len(m["batches"]) > 1  # window path active
    window_page = page(c)
    assert ("p01", {"score": 100}) in window_page
    assert all(i != "p03" for i, _ in window_page)
    c.compact()
    m = c.store.read_manifest("hist")
    assert [int(b) for b in m["batches"]] == [int(m["full_fold"])]
    assert page(c) == window_page


def test_promote_maintains_postings_on_fts_collection(store_root, spark):
    """ADVICE r12 (low): the enable-time rewrite supersedes every old
    batch AND its postings sidecars; without re-maintenance every text
    query rebuilds whole-corpus postings lazily."""
    c = Collection(store_root, "fts", spark=spark)  # use_fts default
    _fill(c)
    c.store.promote_metadata("fts", ["score"])
    m = c.store.read_manifest("fts")
    assert [int(b) for b in m["batches"]] == [int(m["full_fold"])]
    # the rewritten batch has a maintained postings sidecar
    assert sorted(int(b) for b in m.get("postings", [])) == [
        int(m["full_fold"])
    ]
    c.refresh()
    res = c.query("common", where={"score": {"$gt": 9}})
    assert sorted(r["id"] for r in res["results"]) == ["p03", "p04", "p06"]


# ---- keyset over promoted keys --------------------------------------


def _cursor_walk(col, page, **kw):
    out, after = [], None
    for _ in range(50):
        res = col.query(limit=page, after=after, **kw)["results"]
        if not res:
            return out
        out.extend(res)
        after = res[-1]
    raise AssertionError("cursor walk did not terminate")


def _offset_walk(col, page, **kw):
    out, off = [], 0
    while True:
        res = col.query(limit=page, offset=off, **kw)["results"]
        if not res:
            return out
        out.extend(res)
        off += page


@pytest.mark.parametrize(
    "order_by", ["score", "-score", ["cat", "-score"]],
    ids=["asc", "desc", "multi"],
)
def test_promoted_cursor_walk_equals_plain_and_offset(twins, order_by):
    plain, promo = twins
    for page in (3, 5):
        plain_walk = [
            r["id"] for r in _cursor_walk(plain, page, order_by=order_by)
        ]
        promo_walk = [
            r["id"] for r in _cursor_walk(promo, page, order_by=order_by)
        ]
        offset_walk = [
            r["id"] for r in _offset_walk(promo, page, order_by=order_by)
        ]
        assert promo_walk == plain_walk == offset_walk
        assert sorted(promo_walk) == sorted(i for i, _, _ in _DOCS)


def test_promoted_cursor_walk_with_where(twins):
    plain, promo = twins
    kw = dict(order_by="-score", where={"score": {"$gt": 2}})
    want = [r["id"] for r in _cursor_walk(plain, 2, **kw)]
    got = [r["id"] for r in _cursor_walk(promo, 2, **kw)]
    assert got == want and len(got) > 0


def test_cross_handle_promote_union_not_lost(store_root, spark):
    """r13 code-review fix: promote_metadata unions against the CURRENT
    manifest — a handle that saw no promoted keys must not overwrite a
    cross-handle promotion out of the sticky key list."""
    a = Collection(store_root, "pu", spark=spark, use_fts=False)
    _fill(a)
    assert a.store.snapshot("pu").promoted == ()  # before b's promotion
    b = Collection(store_root, "pu", spark=spark, use_fts=False)
    b.store.promote_metadata("pu", ["score"])
    a.store.promote_metadata("pu", ["cat"])  # stale handle promotes too
    fresh = Collection(store_root, "pu", spark=spark, use_fts=False)
    assert fresh.store.snapshot("pu").promoted == ("cat", "score")
    # both keys' sidecars filter correctly on the rewritten snapshot
    assert _ids(fresh, where={"score": {"$gte": 9}}) == ["p03", "p04", "p06"]
    assert _ids(fresh, where={"cat": "c"}) == ["p12"]


def test_promoted_order_by_skips_json_parse(twins):
    """Sorting on a promoted key reads the materialized sidecars — no
    get_json_object of the order key in the plan's sort stage (the
    value-level ordering equivalence is pinned by the cursor/offset
    walk tests above, which route through the same compile)."""
    _, promo = twins
    plan = _formatted(promo.query_df(order_by="-score", limit=5))
    assert "_mn_score" in plan
    assert "get_json_object" not in plan, plan


def test_facade_promote_metadata_verb(store_root, spark):
    """The facade-level verb (r13): promote on a LIVE collection —
    rewrite once, caches invalidated, pushdown active — no reopen or
    store-level call needed."""
    c = Collection(store_root, "verb", spark=spark, use_fts=False)
    _fill(c)
    got = c.promote_metadata(["score"])
    assert got == ["score"]
    assert _ids(c, where={"score": {"$gte": 9}}) == ["p03", "p04", "p06"]
    plan = _formatted(c.query_df(where={"score": {"$gt": 5}}))
    assert "GreaterThan(_mn_score,5.0)" in " ".join(_pushed_lines(plan))
    # union semantics through the facade too
    assert c.promote_metadata(["cat"]) == ["cat", "score"]
    assert _ids(c, where={"cat": "c"}) == ["p12"]


def test_promote_metadata_rejects_bare_string(store_root, spark):
    c = Collection(store_root, "strguard", spark=spark, use_fts=False)
    with pytest.raises(ValueError, match="expects a list"):
        c.promote_metadata("score")
    with pytest.raises(ValueError, match="expects a list"):
        Collection(
            store_root, "strguard2", spark=spark, use_fts=False,
            promote_metadata="score",
        )


def test_facade_promote_marks_ann_fold_covered(store_root, spark):
    """r13 review fix: the live-collection promote rewrite records its
    fold as covered in the ANN index (like compact) — the next write's
    maintenance must not re-assign the whole rewritten corpus."""
    lookup = {}
    def embed(ts):
        return [lookup.setdefault(t, [float(len(t) % 7), 1.0, 0.0]) for t in ts]
    c = Collection(store_root, "annp", spark=spark, use_fts=False,
                   embedding_function=embed)
    _fill(c)
    c.build_vector_index(n_cells=2)
    meta = c.store.read_vector_index_meta("annp")
    c.promote_metadata(["score"])
    m = c.store.read_manifest("annp")
    fold = int(m["full_fold"])
    # covered = an EMPTY committed index layer for the fold (dir +
    # _SUCCESS), exactly what compact records — the next maintenance
    # then sees the batch as assigned and skips the corpus re-scan
    import os

    layer = os.path.join(
        store_root, "_vecindex", "name=annp", meta["cells_dir"],
        f"batch={fold}", "_SUCCESS",
    )
    assert os.path.exists(layer), layer
    # and queries on the promoted key still work over the ANN facade
    assert _ids(c, where={"score": {"$gte": 9}}) == ["p03", "p04", "p06"]
