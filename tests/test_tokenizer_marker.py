"""Sticky token family of a collection's postings (r14 unicode flip).

A postings index answers correctly only when query-side tokenization
matches the family the index was BUILT with. The manifest records the
family (``Snapshot.tokenizer`` / ``tokenizer_pinned``); stores written
before it did kept a ``_tokenizer`` marker file. These tests pin the
lifecycle (mirroring test_promoted/test_search_positions' sticky-layout
suites):

* fresh collections record the unicode default at their first write;
* a legacy store (sidecars on disk, no marker — every pre-r14 store)
  resolves ascii and STAYS ascii across reopen, so its index never
  silently mixes families;
* a FULL compact (which supersedes every old sidecar) is the free
  upgrade point — sticky ascii flips to the default, explicit pins
  don't;
* ``retokenize()`` is the explicit upgrade verb (single-batch legacy
  stores, which compact no-ops on);
* an explicit ``tokenizer=`` mismatch against an existing index
  RAISES instead of silently dropping matches;
* cross-handle upgrades are honored without reopen (each query
  resolves its snapshot).
"""

from __future__ import annotations

import pytest

from sifts_spark.collection import Collection
from sifts_spark.queryparser import ParseError

RU_DOC = "привет мир это тестовый документ"
EN_DOC = "hello world plain english document"
ZH_DOC = "中文文档 搜索 例子"


def _ids(page):
    return sorted(r["id"] for r in page["results"])


def _family(col, name):
    """(family, explicitly pinned) as the collection's snapshot has it."""
    snap = col.store.snapshot(name)
    return snap.tokenizer, snap.tokenizer_pinned


@pytest.fixture()
def make_legacy_ascii(store_root, spark, legacy_layout):
    def make(name, two_batches=True):
        """A collection whose sidecars were built under the ascii family
        with NO family recorded — byte-for-byte what a pre-r14 store
        looks like after the engine upgrade."""
        col = Collection(store_root, name, spark=spark)
        col.add([RU_DOC, EN_DOC], ids=["ru", "en"])
        if two_batches:
            col.add([ZH_DOC], ids=["zh"])
        col.store.retokenize(name, "ascii")
        legacy_layout(col.store, name, tokenizer=None)
        return col

    return make


def test_fresh_collection_stamps_unicode_default(store_root, spark):
    col = Collection(store_root, "fresh", spark=spark)
    col.add([RU_DOC, EN_DOC], ids=["ru", "en"])
    assert col.store.snapshot("fresh").tokenizer == "unicode"
    assert _family(col, "fresh") == ("unicode", False)
    assert _ids(col.query("привет")) == ["ru"]
    # reopen keeps it
    re_col = Collection(store_root, "fresh", spark=spark)
    assert _ids(re_col.query("привет")) == ["ru"]


def test_legacy_store_resolves_ascii_and_reopen_never_mixes(
    store_root, spark, make_legacy_ascii
):
    import os

    col = make_legacy_ascii("legacy")
    st = col.store
    marker = os.path.join(store_root, "_postings", "name=legacy", "_tokenizer")
    # no marker + sidecars on disk => pre-r14 ascii index
    assert "tokenizer" not in st.read_manifest("legacy")
    assert not os.path.exists(marker)
    assert _family(col, "legacy") == ("ascii", False)
    reopened = Collection(store_root, "legacy", spark=spark)
    # ascii family: the Cyrillic query word has no searchable tokens —
    # the pre-flip behavior, preserved exactly (NOT a silent empty page)
    with pytest.raises(ParseError):
        reopened.query("привет")
    assert _ids(reopened.query("hello")) == ["en"]
    # a post-reopen append maintains under ascii and makes it sticky —
    # the index can never become half-ascii half-unicode
    reopened.add(["more english words here"], ids=["en2"])
    assert st.read_manifest("legacy")["tokenizer"] == "ascii"
    assert _family(col, "legacy") == ("ascii", False)
    assert _ids(reopened.query("words")) == ["en2"]


def test_full_compact_upgrades_sticky_ascii(store_root, spark, make_legacy_ascii):
    col = make_legacy_ascii("upg")
    col.add(["extra batch to make the fold real"], ids=["x"])
    assert col.store.snapshot("upg").tokenizer == "ascii"
    col.compact()
    assert _family(col, "upg") == ("unicode", False)
    # the SAME pre-upgrade content is now reachable by non-Latin terms
    assert _ids(col.query("привет")) == ["ru"]
    assert _ids(col.query("例子")) == ["zh"]
    assert _ids(col.query("hello")) == ["en"]


def test_suffix_fold_does_not_upgrade(store_root, spark, make_legacy_ascii):
    col = make_legacy_ascii("sfx")
    col.add(["tiny one"], ids=["t1"])
    col.add(["tiny two"], ids=["t2"])
    col.compact(max_fold_bytes=1 << 30)  # folds the small-batch suffix
    # older ascii batches stayed live => family must NOT flip
    assert col.store.snapshot("sfx").tokenizer == "ascii"


def test_full_compact_upgrade_refreshes_own_corpus_stats(
    store_root, spark, make_legacy_ascii
):
    # the flip gives the Cyrillic and CJK docs tokens: the compacting
    # handle's BM25 stats and ranks must follow, not stay memoized
    col = make_legacy_ascii("ups")
    col.add(["extra english batch"], ids=["x"])
    before = col._corpus_stats()
    col.compact()
    assert _family(col, "ups") == ("unicode", False)
    fresh = Collection(store_root, "ups", spark=spark)
    assert col._corpus_stats() == fresh._corpus_stats() != before
    assert col.query("english") == fresh.query("english")


def test_retokenize_upgrades_single_batch_legacy(
    store_root, spark, make_legacy_ascii
):
    col = make_legacy_ascii("single", two_batches=False)
    col.compact()  # <=1 batch: no-op, no upgrade
    assert col.store.snapshot("single").tokenizer == "ascii"
    fam = col.retokenize()
    assert fam == "unicode"
    assert _family(col, "single") == ("unicode", False)
    assert _ids(col.query("привет")) == ["ru"]


def test_explicit_pin_survives_full_compact(store_root, spark):
    col = Collection(store_root, "pinned", spark=spark, tokenizer="ascii")
    col.add([EN_DOC], ids=["en"])
    col.add(["another english document"], ids=["en2"])
    assert _family(col, "pinned") == ("ascii", True)
    col.compact()
    assert _family(col, "pinned") == ("ascii", True)
    assert col.store.snapshot("pinned").tokenizer == "ascii"


def test_explicit_mismatch_raises_instead_of_dropping_matches(
    store_root, spark
):
    col = Collection(store_root, "mm", spark=spark)
    col.add([RU_DOC], ids=["ru"])  # unicode-stamped index
    with pytest.raises(ValueError, match="tokenized 'unicode'"):
        Collection(store_root, "mm", spark=spark, tokenizer="ascii")
    # same-family explicit open is fine and turns the family into a pin
    Collection(store_root, "mm", spark=spark, tokenizer="unicode")
    assert _family(col, "mm") == ("unicode", True)


def test_unknown_tokenizer_rejected(store_root, spark):
    with pytest.raises(ValueError, match="unknown tokenizer"):
        Collection(store_root, "bad", spark=spark, tokenizer="klingon")


def test_cross_handle_retokenize_honored_without_reopen(
    store_root, spark, make_legacy_ascii
):
    a = make_legacy_ascii("xh", two_batches=False)
    with pytest.raises(ParseError):
        a.query("привет")
    b = Collection(store_root, "xh", spark=spark)
    b.retokenize()
    # handle `a` picks the new family up on its NEXT query — each query
    # resolves its snapshot, no refresh()/reopen required
    assert _ids(a.query("привет")) == ["ru"]


def test_retokenize_walks_all_four_families(store_root, spark):
    # unicode (default) -> trigram -> cjk_bigram -> unicode: each hop
    # rebuilds sidecars under the new family and the SAME query goes
    # from miss to hit (or back) exactly as each family's unit implies
    from sifts_spark.collection import Collection

    c = Collection(store_root, "walk", spark=spark)
    c.add(ids=["a"], contents=["preprocessing 中文文档のテスト"])
    total = lambda q: c.query(q)["total"]  # noqa: E731
    # unicode: whole words only
    assert total("preprocessing") == 1
    assert total("process") == 0 and total("文档") == 0
    c.retokenize("trigram")
    assert c.store.snapshot(c.name).tokenizer == "trigram"
    # trigram: within-word substring, any script (>=3 chars)
    assert total("process") == 1 and total("文文档") == 1
    c.retokenize("cjk_bigram")
    assert c.store.snapshot(c.name).tokenizer == "cjk_bigram"
    # cjk_bigram: CJK substring at bigram granularity; latin whole-word
    assert total("文档") == 1
    assert total("process") == 0 and total("preprocessing") == 1
    c.retokenize("unicode")
    assert c.store.snapshot(c.name).tokenizer == "unicode"
    assert total("preprocessing") == 1 and total("文档") == 0


def test_explicit_retokenize_pins_against_fold_revert(store_root, spark):
    # r14 review #3: an explicit retokenize(family) is DDL intent — it
    # must PIN, or the next full fold's upgrade hook re-stamps the
    # default and the requested family silently evaporates
    from sifts_spark.collection import Collection

    c = Collection(store_root, "pinr", spark=spark)
    c.add(ids=["a", "b"], contents=["これは中文文档のテストです", "second doc"])
    c.retokenize("cjk_bigram")
    assert c.query("文档")["total"] == 1
    c.add(ids=["c"], contents=["third doc lands a new batch"])
    c.compact()  # FULL fold — the free re-stamp point for unpinned markers
    assert c.store.snapshot(c.name).tokenizer == "cjk_bigram"
    assert c.query("文档")["total"] == 1
