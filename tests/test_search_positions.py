"""Positional postings (r11 verdict item 2): opt-in term positions in
the index, index-side phrase adjacency, content-verify fallback for
positions-free / truncated layouts.

Reference anchor: FTS5 gives the reference phrase positions for free
(/root/reference/src/sifts/core.py:460-462); our positions-free default
re-tokenizes every all-words-present candidate — fine until a common-
word phrase at 100 TB. These tests pin that (a) the positional layout
answers phrases WITHOUT touching content, (b) every layout agrees with
the scan-predicate truth, (c) truncation/mixed layouts degrade to the
fallback, never to a wrong answer.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sifts_spark.collection import Collection
from sifts_spark.operators import search as S
from sifts_spark.queryparser import parse_query

DOCS = [
    (1, "new york is a big city"),
    (2, "york new haven line"),                  # words present, no run
    (3, "the new york new york medley"),         # two runs
    (4, "totally unrelated words here"),
    (5, "big apple aka new york"),               # run at the tail
    (6, "new new york subway"),                  # overlapping repeat
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _truth(spark, query):
    ast = parse_query(query)
    return {
        r["doc_id"]
        for r in S.match_filter(_docs(spark), ast, "text").collect()
    }


class TestBuildPositions:
    def test_positions_are_sorted_token_indices(self, spark):
        p = S.build_postings(
            _docs(spark), "doc_id", "text", positions=True
        )
        row = {
            (r["id"], r["term"]): r
            for r in p.filter(F.col("id").isin(1, 3)).collect()
        }
        assert row[(1, "new")]["pos"] == [0]
        assert row[(1, "york")]["pos"] == [1]
        assert row[(3, "new")]["pos"] == [1, 3]
        assert row[(3, "york")]["pos"] == [2, 4]
        # tf always counts ALL occurrences, even when pos is capped
        assert row[(3, "new")]["tf"] == 2

    def test_max_positions_caps_array_not_tf(self, spark):
        p = S.build_postings(
            _docs(spark), "doc_id", "text", positions=True, max_positions=1
        )
        r = {
            (x["id"], x["term"]): x
            for x in p.filter(F.col("id") == 3).collect()
        }
        assert r[(3, "new")]["pos"] == [1] and r[(3, "new")]["tf"] == 2

    def test_default_layout_unchanged(self, spark):
        p = S.build_postings(_docs(spark), "doc_id", "text")
        assert "pos" not in p.columns


class TestIndexSidePhrase:
    def _search_ids(self, spark, query, **build_kw):
        postings = S.build_postings(
            _docs(spark), "doc_id", "text", **build_kw
        )
        res = S.search_postings(postings, parse_query(query))
        return res

    @pytest.mark.parametrize(
        "query",
        ['"new york"', '"new york" and big', '"new new york"',
         'city or "new haven"'],
    )
    def test_positional_matches_scan_truth_nothing_pending(
        self, spark, query
    ):
        res = self._search_ids(spark, query, positions=True)
        rows = res.collect()
        assert {int(r["id"]) for r in rows} == _truth(spark, query)
        # fully positional + uncapped: adjacency is definite index-side
        assert all(r["_pending"] is False for r in rows)

    def test_one_word_phrase_is_a_term_no_positions_needed(self, spark):
        # parse_query normalizes a one-word "phrase" to a Term
        # (queryparser.py): no phrase in the AST → positions ignored,
        # no _pending column even on a positional index
        res = self._search_ids(spark, '"york"', positions=True)
        assert "_pending" not in res.columns
        assert {int(r["id"]) for r in res.collect()} == _truth(spark, '"york"')

    def test_negated_phrase_exact_index_side(self, spark):
        # positions-free prefilter must over-approximate NOT "phrase";
        # the positional index evaluates it EXACTLY: doc 2 has both
        # words but no run, so it survives the negation definitively
        query = 'new NOT "new york"'
        res = self._search_ids(spark, query, positions=True)
        rows = res.collect()
        assert {int(r["id"]) for r in rows} == _truth(spark, query) == {2}
        assert all(r["_pending"] is False for r in rows)

    def test_positionless_layout_still_superset_no_pending_col(self, spark):
        res = self._search_ids(spark, '"new york"')
        assert "_pending" not in res.columns
        ids = {int(r["id"]) for r in res.collect()}
        assert ids >= _truth(spark, '"new york"')
        assert 2 in ids  # the all-words-no-run doc the caller prunes

    def test_truncated_positions_sound_and_flag_pending(self, spark):
        # cap positions at 1: doc 1 ("new york" at 0,1) resolves inside
        # the prefix (definite, not pending); doc 3 (first "new" at 1,
        # first "york" at 2) also resolves; doc 2 has complete arrays
        # for its single occurrences → definite false. Build a corpus
        # where the run starts BEYOND the kept prefix to force pending:
        extra = spark.createDataFrame(
            [(7, "york and york again new york")],  # york pos 0,2; new 4
            "doc_id long, text string",
        )
        docs = _docs(spark).unionByName(extra)
        postings = S.build_postings(
            docs, "doc_id", "text", positions=True, max_positions=1
        )
        res = S.search_postings(postings, parse_query('"new york"'))
        got = {int(r["id"]): r["_pending"] for r in res.collect()}
        # nothing wrongly dropped: every true match is present
        ast = parse_query('"new york"')
        truth = {
            r["doc_id"] for r in S.match_filter(docs, ast, "text").collect()
        }
        assert truth <= set(got)
        assert got[1] is False          # run inside kept prefix: definite
        assert got[7] is True           # york's kept prefix [0] misses the
        # run at (4,5) → inconclusive, caller verifies content
        # doc 2: single occurrences → arrays complete under the cap →
        # definitively rejected index-side, never returned pending
        assert 2 not in got

    def test_stop_df_ratio_rejected_without_positions(self, spark):
        # r16 ADVICE: the knob prunes position arrays; a positions-free
        # build has none — silently ignoring it would let a caller
        # believe the layout is pruned (loud-failure posture)
        import pytest

        with pytest.raises(ValueError, match="positions"):
            S.build_postings(
                _docs(spark), "doc_id", "text", stop_df_ratio=0.5
            )

    def test_stop_df_pruning_recall_equal_and_bytes_shape(self, spark):
        # r16 (VERDICT item 4): stop_df_ratio empties the POSITION
        # arrays of high-df grams (the byte-heavy, information-light
        # sidecar rows) while keeping the postings themselves — the
        # emptied array reads size(pos) < tf, so affected phrase
        # candidates degrade to _pending through the EXISTING
        # truncation machinery and the caller's content verify restores
        # exact semantics. Pin: pruned + verify ≡ unpruned ≡ scan truth.
        docs = _docs(spark)
        pruned = S.build_postings(
            docs, "doc_id", "text", positions=True, stop_df_ratio=0.5
        )
        # "new"/"york" (df 5/6) emptied; "city" (df 1/6) keeps positions
        rows = {r["term"]: r for r in pruned.collect()}
        assert rows["new"]["pos"] == [] and rows["york"]["pos"] == []
        assert rows["city"]["pos"] != [] and rows["city"]["tf"] == 1
        full = S.build_postings(docs, "doc_id", "text", positions=True)

        from sifts_spark.functions.text import tokenize

        def serve(postings, query):
            # the Collection serving shape: _pending rows content-verify
            ast = parse_query(query)
            res = S.search_postings(postings, ast).join(
                docs.withColumnRenamed("doc_id", "id"), "id"
            )
            verify = ast.to_column(tokenize(F.col("text")))
            return {
                int(r["id"])
                for r in res.filter(
                    F.when(F.col("_pending"), verify).otherwise(F.lit(True))
                ).collect()
            }

        for q in (
            '"new york"',            # both words stop-pruned
            '"new haven"',           # one stop word, one positional
            'city NOT "new york"',   # negated phrase over stop grams
            '"new york" or city',
        ):
            assert serve(pruned, q) == serve(full, q) == _truth(spark, q), q

        # BM25 identical per doc: pruning touches positions only, never
        # tf/df — the pruned index returns the optimistic SUPERSET
        # (pending rows the verify resolves), so compare on the exact
        # index's ids
        ast = parse_query('"new york" or city')
        p = {
            r["id"]: round(r["rank"], 9)
            for r in S.search_postings(pruned, ast).collect()
        }
        f = {
            r["id"]: round(r["rank"], 9)
            for r in S.search_postings(full, ast).collect()
        }
        assert set(f) <= set(p)
        for i in f:
            assert p[i] == f[i]

    def test_stop_df_pruning_trigram_family(self, spark):
        # the family the knob exists for: every doc shares the stop
        # word's gram chain; the rare-word chain keeps its positions
        docs = spark.createDataFrame(
            [
                (1, "customer orders arrived"),
                (2, "customer invoice ledger"),
                (3, "customer xylophone shipment"),
                (4, "unrelated cargo manifest"),
            ],
            "doc_id long, text string",
        )
        pruned = S.build_postings(
            docs, "doc_id", "text", positions=True,
            stop_df_ratio=0.6, tokenizer="trigram",
        )
        rows = {r["term"]: r for r in pruned.collect()}
        assert rows["ust"]["pos"] == []      # customer grams: df 3/4
        assert rows["ylo"]["pos"] != []      # xylophone grams: df 1/4
        from sifts_spark.functions.text import tokenize

        ast = parse_query("ustome", tokenizer="trigram")
        res = S.search_postings(pruned, ast).join(
            docs.withColumnRenamed("doc_id", "id"), "id"
        )
        assert {bool(r["_pending"]) for r in res.collect()} == {True}
        verify = ast.to_column(tokenize(F.col("text"), "trigram"))
        got = {
            int(r["id"])
            for r in res.filter(
                F.when(F.col("_pending"), verify).otherwise(F.lit(True))
            ).collect()
        }
        truth = {
            r["doc_id"]
            for r in S.match_filter(
                docs, ast, "text", tokenizer="trigram"
            ).collect()
        }
        assert got == truth == {1, 2, 3}

    def test_mixed_layout_null_pos_batches_go_pending(self, spark):
        # a pre-positions batch unioned in with pos = null: its docs
        # must come back PENDING (content verify), never dropped
        pos_part = S.build_postings(
            _docs(spark).filter(F.col("doc_id") <= 3),
            "doc_id", "text", positions=True,
        )
        old_part = S.build_postings(
            _docs(spark).filter(F.col("doc_id") > 3), "doc_id", "text"
        ).withColumn("pos", F.lit(None).cast("array<int>"))
        postings = pos_part.unionByName(old_part)
        res = S.search_postings(postings, parse_query('"new york"'))
        got = {int(r["id"]): r["_pending"] for r in res.collect()}
        assert got[1] is False and got[3] is False  # positional: definite
        assert got[5] is True                       # null-pos: fallback
        assert 2 not in got                         # definite false stays out

    def test_rank_identical_across_layouts(self, spark):
        # BM25 is the positions-free sum-of-words approximation on BOTH
        # layouts — positions change candidate pruning, never scoring
        plain = S.search_postings(
            S.build_postings(_docs(spark), "doc_id", "text"),
            parse_query('"new york" or city'),
        ).select("id", "rank")
        positional = S.search_postings(
            S.build_postings(_docs(spark), "doc_id", "text", positions=True),
            parse_query('"new york" or city'),
        ).select("id", "rank")
        p = {r["id"]: round(r["rank"], 9) for r in plain.collect()}
        q = {r["id"]: round(r["rank"], 9) for r in positional.collect()}
        for i in q:  # positional ⊆ plain (plain keeps the superset)
            assert q[i] == p[i]


class TestCollectionPositional:
    CORPUS = [
        ("a", "new york is a big city"),
        ("b", "york new haven line"),
        ("c", "the new york new york medley"),
        ("d", "totally unrelated words here"),
    ]

    def _fill(self, col):
        col.add([t for _, t in self.CORPUS], ids=[i for i, _ in self.CORPUS])

    def test_e2e_matches_plain_layout(self, store_root, spark):
        # r13: positional is the DEFAULT for new collections (Lucene/ES
        # posture; measured ~0% build overhead, ~2x postings bytes);
        # plain is now the explicit opt-out.
        pos_col = Collection(store_root, "pos", spark=spark)
        plain_col = Collection(
            store_root, "plain", spark=spark, index_positions=False
        )
        self._fill(pos_col)
        self._fill(plain_col)
        for q in ['"new york"', 'haven NOT "new york"', '"new york" or line']:
            a = {r["id"] for r in pos_col.query(q)["results"]}
            b = {r["id"] for r in plain_col.query(q)["results"]}
            assert a == b, q
        # the default store's on-disk postings really carry pos
        assert pos_col.store.snapshot("pos").positions
        assert "pos" in pos_col.store.read_postings("pos").columns
        assert "pos" not in plain_col.store.read_postings("plain").columns

    def test_default_honors_existing_plain_layout(self, store_root, spark):
        # reopening an EXISTING plain collection with the default flag
        # must NOT convert its layout (None = honor the marker)
        plain = Collection(
            store_root, "keep", spark=spark, index_positions=False
        )
        self._fill(plain)
        re = Collection(store_root, "keep", spark=spark)
        assert re.index_positions is False
        re.add(["another new york line"], ids=["z"])
        assert not re.store.snapshot("keep").positions
        assert "pos" not in re.store.read_postings("keep").columns
        # phrase results still correct via the content-verify fallback
        got = {r["id"] for r in re.query('"new york"')["results"]}
        assert "z" in got

    def test_layout_sticky_across_reopen_and_compact(self, store_root, spark):
        col = Collection(store_root, "st", spark=spark, index_positions=True)
        self._fill(col)
        # reopen WITHOUT the flag: marker keeps the layout
        re = Collection(store_root, "st", spark=spark)
        re.add(["brand new york story"], ids=["e"])
        assert re.store.snapshot("st").positions
        got = {r["id"] for r in re.query('"new york"')["results"]}
        assert got == {"a", "c", "e"}
        # compaction folds batches and REBUILDS positional postings
        re.compact()
        assert re.store.snapshot("st").positions
        p = re.store.read_postings("st")
        assert "pos" in p.columns
        # post-compact postings rows all carry real positions (no nulls)
        assert p.filter(F.col("pos").isNull()).count() == 0
        got2 = {r["id"] for r in re.query('"new york"')["results"]}
        assert got2 == {"a", "c", "e"}

    def test_positional_store_pending_free_plan(self, store_root, spark):
        """The 100 TB point: on a fully-positional store the phrase
        path's content verify is DEAD — search_postings resolves every
        candidate index-side (``_pending`` False for all), so the
        when()-guarded tokenize(content) never evaluates."""
        from sifts_spark.operators import search as _S

        col = Collection(store_root, "pf", spark=spark, index_positions=True)
        self._fill(col)
        res = _S.search_postings(
            col.store.read_postings("pf"), parse_query('"new york"')
        )
        rows = res.collect()
        assert rows and all(r["_pending"] is False for r in rows)


class TestStopDfFacadeDoor:
    """r17 (VERDICT item 4): the ``stop_df_ratio`` knob reachable from
    the Collection facade via the global-df-safe rebuild verbs —
    ``retokenize()`` and full-fold ``compact()`` — with a sticky
    ratio (``Snapshot.stop_df``), while per-append maintenance keeps
    building unpruned (batch-local df would mis-prune)."""

    CORPUS = TestCollectionPositional.CORPUS  # new/york df 3/4, city 1/4

    def _fill(self, col):
        col.add([t for _, t in self.CORPUS], ids=[i for i, _ in self.CORPUS])

    def _pos_by_term_id(self, col, name):
        return {
            (r["term"], r["id"]): r["pos"]
            for r in col.store.read_postings(name).collect()
        }

    def test_retokenize_pins_and_prunes_now(self, store_root, spark):
        col = Collection(store_root, "sdf", spark=spark)  # positional
        self._fill(col)
        col.retokenize(stop_df_ratio=0.5)
        assert col.store.snapshot("sdf").stop_df == 0.5
        pos = self._pos_by_term_id(col, "sdf")
        assert pos[("new", "a")] == [] and pos[("york", "c")] == []
        assert pos[("city", "a")] != []
        # recall unaffected: the emptied arrays degrade to the content
        # verify through size(pos) < tf
        got = {r["id"] for r in col.query('"new york"')["results"]}
        assert got == {"a", "c"}

    def test_sticky_across_append_and_full_fold(self, store_root, spark):
        col = Collection(store_root, "sdf2", spark=spark)
        self._fill(col)
        col.retokenize(stop_df_ratio=0.5)
        # per-append maintenance does NOT prune (batch-local df) —
        # the fresh batch carries real positions even for stop terms
        col.add(["brand new york story"], ids=["e"])
        pos = self._pos_by_term_id(col, "sdf2")
        assert pos[("new", "e")] != [] and pos[("new", "a")] == []
        got = {r["id"] for r in col.query('"new york"')["results"]}
        assert got == {"a", "c", "e"}
        # a later FULL fold re-converges the whole layout to pruned
        # without re-passing the knob (the sticky ratio)
        col.compact()
        assert col.store.snapshot("sdf2").stop_df == 0.5
        pos = self._pos_by_term_id(col, "sdf2")
        assert pos[("new", "e")] == [] and pos[("york", "a")] == []
        assert pos[("city", "a")] != []
        # the pruned fold also stores each term's live df
        live = col.store.read_postings("sdf2")
        assert {(r["term"], r["df"]) for r in live.collect()} == {
            (r["term"], r["count"]) for r in live.groupBy("term").count().collect()
        }
        got = {r["id"] for r in col.query('"new york"')["results"]}
        assert got == {"a", "c", "e"}

    def test_clear_restores_full_positions(self, store_root, spark):
        col = Collection(store_root, "sdf3", spark=spark)
        self._fill(col)
        col.retokenize(stop_df_ratio=0.5)
        col.retokenize(stop_df_ratio=0)  # clear + rebuild now
        assert col.store.snapshot("sdf3").stop_df is None
        pos = self._pos_by_term_id(col, "sdf3")
        assert pos[("new", "a")] != [] and pos[("york", "c")] != []

    def test_pin_requires_positional_layout(self, store_root, spark):
        import pytest

        col = Collection(
            store_root, "sdfp", spark=spark, index_positions=False
        )
        self._fill(col)
        with pytest.raises(ValueError, match="positional"):
            col.retokenize(stop_df_ratio=0.5)
        assert col.store.snapshot("sdfp").stop_df is None

    def test_suffix_fold_rejects_knob(self, store_root, spark):
        import pytest

        col = Collection(store_root, "sdfs", spark=spark)
        self._fill(col)
        with pytest.raises(ValueError, match="FULL fold"):
            col.compact(max_fold_bytes=1 << 30, stop_df_ratio=0.5)

    def test_torn_marker_reads_unpruned(self, store_root, spark, legacy_layout):
        col = Collection(store_root, "sdft", spark=spark)
        self._fill(col)
        col.retokenize(stop_df_ratio=0.5)
        # a legacy store whose _stop_df marker holds a torn write
        legacy_layout(col.store, "sdft", stop_df="garbage")
        # fail-safe direction: unreadable marker = keep all positions
        assert col.store.snapshot("sdft").stop_df is None


def test_plain_optout_pinned_before_first_write(store_root, spark):
    """r13 code-review fix: an explicit index_positions=False on a
    still-EMPTY collection is recorded (two-valued _positions marker),
    so a default-flag reopen before the first write cannot convert it."""
    Collection(store_root, "pin", spark=spark, index_positions=False)
    re = Collection(store_root, "pin", spark=spark)  # default flag
    assert re.index_positions is False
    re.add(["first new york doc"], ids=["a"])
    assert not re.store.snapshot("pin").positions
    assert "pos" not in re.store.read_postings("pin").columns
    # the pin is an opt-out, not a cage: explicit True still upgrades
    up = Collection(store_root, "pin", spark=spark, index_positions=True)
    up.add(["second new york doc"], ids=["b"])
    assert up.store.snapshot("pin").positions


def test_default_open_never_writes_markers(store_root, spark, legacy_layout):
    """r13 code-review fix: the DEFAULT-flag path stays read-only — a
    legacy (unmarked) collection on a read-only mount must keep
    opening. Only an explicit index_positions= writes the pin."""
    import os

    c = Collection(store_root, "legacy", spark=spark, index_positions=False)
    self_fill = [("a", "new york doc one"), ("b", "plain doc two")]
    c.add([t for _, t in self_fill], ids=[i for i, _ in self_fill])
    # simulate a pre-r13 legacy plain store: no _positions marker
    legacy_layout(c.store, "legacy", positions=None)
    before = {
        os.path.join(r, f)
        for r, _, fs in os.walk(store_root) for f in fs
    }
    re = Collection(store_root, "legacy", spark=spark)  # default flag
    assert re.index_positions is False  # no marker, has batches → plain
    after = {
        os.path.join(r, f)
        for r, _, fs in os.walk(store_root) for f in fs
    }
    assert after == before  # constructor wrote NOTHING


def test_torn_positions_marker_reads_positional(store_root, spark, legacy_layout):
    """Fail-safe direction: any legacy marker content other than
    exactly '0' (e.g. a torn write during the positional upgrade) reads
    POSITIONAL — a crash mid-upgrade must never downgrade the layout to
    plain rebuilds forever."""
    c = Collection(store_root, "torn", spark=spark)  # positional default
    c.add(["new york something"], ids=["a"])
    legacy_layout(c.store, "torn", positions="")  # torn/truncated write
    assert c.store.snapshot("torn").positions is True
    re = Collection(store_root, "torn", spark=spark)
    assert re.index_positions is True
    re.add(["more new york text"], ids=["b"])
    assert "pos" in re.store.read_postings("torn").columns
