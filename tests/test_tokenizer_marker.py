"""Sticky ``_tokenizer`` store marker (r14 unicode flip).

A postings index answers correctly only when query-side tokenization
matches the family the index was BUILT with. These tests pin the
marker lifecycle (mirroring test_promoted/test_search_positions'
sticky-marker suites):

* fresh collections stamp the unicode default at first maintenance;
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
* cross-handle upgrades are honored without reopen (marker read per
  query).
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


def _drop_marker(col):
    st = col.store
    st._fs.delete(st._Path(st._tokenizer_marker(col.name)), False)
    return st


def _make_legacy_ascii(store_root, spark, name, two_batches=True):
    """A collection whose sidecars were built under the ascii family
    with NO marker on disk — byte-for-byte what a pre-r14 store looks
    like after the engine upgrade."""
    col = Collection(store_root, name, spark=spark)
    col.add([RU_DOC, EN_DOC], ids=["ru", "en"])
    if two_batches:
        col.add([ZH_DOC], ids=["zh"])
    col.store.retokenize(name, "ascii")
    _drop_marker(col)
    return col


def test_fresh_collection_stamps_unicode_default(store_root, spark):
    col = Collection(store_root, "fresh", spark=spark)
    col.add([RU_DOC, EN_DOC], ids=["ru", "en"])
    assert col.store.postings_tokenizer("fresh") == "unicode"
    assert col.store._tokenizer_marker_value("fresh") == ("unicode", False)
    assert _ids(col.query("привет")) == ["ru"]
    # reopen keeps it
    re_col = Collection(store_root, "fresh", spark=spark)
    assert _ids(re_col.query("привет")) == ["ru"]


def test_legacy_store_resolves_ascii_and_reopen_never_mixes(store_root, spark):
    col = _make_legacy_ascii(store_root, spark, "legacy")
    st = col.store
    # no marker + sidecars on disk => pre-r14 ascii index
    assert st._tokenizer_marker_value("legacy") == (None, False)
    assert st.postings_tokenizer("legacy") == "ascii"
    reopened = Collection(store_root, "legacy", spark=spark)
    # ascii family: the Cyrillic query word has no searchable tokens —
    # the pre-flip behavior, preserved exactly (NOT a silent empty page)
    with pytest.raises(ParseError):
        reopened.query("привет")
    assert _ids(reopened.query("hello")) == ["en"]
    # a post-reopen append maintains under ascii and makes it sticky —
    # the index can never become half-ascii half-unicode
    reopened.add(["more english words here"], ids=["en2"])
    assert st._tokenizer_marker_value("legacy") == ("ascii", False)
    assert _ids(reopened.query("words")) == ["en2"]


def test_full_compact_upgrades_sticky_ascii(store_root, spark):
    col = _make_legacy_ascii(store_root, spark, "upg")
    col.add(["extra batch to make the fold real"], ids=["x"])
    assert col.store.postings_tokenizer("upg") == "ascii"
    col.compact()
    assert col.store._tokenizer_marker_value("upg") == ("unicode", False)
    # the SAME pre-upgrade content is now reachable by non-Latin terms
    assert _ids(col.query("привет")) == ["ru"]
    assert _ids(col.query("例子")) == ["zh"]
    assert _ids(col.query("hello")) == ["en"]


def test_suffix_fold_does_not_upgrade(store_root, spark):
    col = _make_legacy_ascii(store_root, spark, "sfx")
    col.add(["tiny one"], ids=["t1"])
    col.add(["tiny two"], ids=["t2"])
    col.compact(max_fold_bytes=1 << 30)  # folds the small-batch suffix
    # older ascii batches stayed live => family must NOT flip
    assert col.store.postings_tokenizer("sfx") == "ascii"


def test_full_compact_upgrade_refreshes_own_corpus_stats(store_root, spark):
    # the flip gives the Cyrillic and CJK docs tokens: the compacting
    # handle's BM25 stats and ranks must follow, not stay memoized
    col = _make_legacy_ascii(store_root, spark, "ups")
    col.add(["extra english batch"], ids=["x"])
    before = col._corpus_stats()
    col.compact()
    assert col.store._tokenizer_marker_value("ups") == ("unicode", False)
    fresh = Collection(store_root, "ups", spark=spark)
    assert col._corpus_stats() == fresh._corpus_stats() != before
    assert col.query("english") == fresh.query("english")


def test_retokenize_upgrades_single_batch_legacy(store_root, spark):
    col = _make_legacy_ascii(store_root, spark, "single", two_batches=False)
    col.compact()  # <=1 batch: no-op, no upgrade
    assert col.store.postings_tokenizer("single") == "ascii"
    fam = col.retokenize()
    assert fam == "unicode"
    assert col.store._tokenizer_marker_value("single") == ("unicode", False)
    assert _ids(col.query("привет")) == ["ru"]


def test_explicit_pin_survives_full_compact(store_root, spark):
    col = Collection(store_root, "pinned", spark=spark, tokenizer="ascii")
    col.add([EN_DOC], ids=["en"])
    col.add(["another english document"], ids=["en2"])
    assert col.store._tokenizer_marker_value("pinned") == ("ascii", True)
    col.compact()
    assert col.store._tokenizer_marker_value("pinned") == ("ascii", True)
    assert col.store.postings_tokenizer("pinned") == "ascii"


def test_explicit_mismatch_raises_instead_of_dropping_matches(
    store_root, spark
):
    col = Collection(store_root, "mm", spark=spark)
    col.add([RU_DOC], ids=["ru"])  # unicode-stamped index
    with pytest.raises(ValueError, match="tokenized 'unicode'"):
        Collection(store_root, "mm", spark=spark, tokenizer="ascii")
    # same-family explicit open is fine and upgrades the marker to a pin
    Collection(store_root, "mm", spark=spark, tokenizer="unicode")
    assert col.store._tokenizer_marker_value("mm") == ("unicode", True)


def test_unknown_tokenizer_rejected(store_root, spark):
    with pytest.raises(ValueError, match="unknown tokenizer"):
        Collection(store_root, "bad", spark=spark, tokenizer="klingon")


def test_cross_handle_retokenize_honored_without_reopen(store_root, spark):
    a = _make_legacy_ascii(store_root, spark, "xh", two_batches=False)
    with pytest.raises(ParseError):
        a.query("привет")
    b = Collection(store_root, "xh", spark=spark)
    b.retokenize()
    # handle `a` picks the new family up on its NEXT query — the marker
    # is read per query-plan build, no refresh()/reopen required
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
    assert c._tok_family() == "trigram"
    # trigram: within-word substring, any script (>=3 chars)
    assert total("process") == 1 and total("文文档") == 1
    c.retokenize("cjk_bigram")
    assert c._tok_family() == "cjk_bigram"
    # cjk_bigram: CJK substring at bigram granularity; latin whole-word
    assert total("文档") == 1
    assert total("process") == 0 and total("preprocessing") == 1
    c.retokenize("unicode")
    assert c._tok_family() == "unicode"
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
    assert c._tok_family() == "cjk_bigram"
    assert c.query("文档")["total"] == 1
