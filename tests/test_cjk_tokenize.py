"""The ``cjk_bigram`` tokenizer family (r14).

The unicode family (like the reference's FTS5 ``unicode61``,
core.py:460-462, and PG ``to_tsvector('simple', …)``, core.py:555)
leaves an unspaced CJK sentence as ONE token per run, so a two-char
query word never matches inside a longer run. FTS5 ships a ``trigram``
tokenizer for exactly this; our family splits like unicode then expands
each pure CJK run of ≥2 chars into character BIGRAMS (Lucene
CJKAnalyzer posture), giving substring-match semantics over runs via
consecutive-phrase compilation.

Pins here: three-engine tokenization equivalence (Spark Java regex /
DuckDB RE2 / Python re over the shared explicit codepoint class),
group-preserving query compilation (run → Phrase, never bag-of-words),
scan-path match semantics, the Collection lifecycle under the sticky
``_tokenizer`` marker, and run-granular snippet highlighting.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from sifts_spark.collection import Collection
from sifts_spark.functions.snippets import (
    _reconstruct_cjk_chains,
    make_snippet,
)
from sifts_spark.functions.text import (
    TOKENIZER_CJK,
    is_cjk_char,
    py_tokenize,
    py_tokenize_groups,
    tokenize,
    tokenize_sql,
)
from sifts_spark.operators.search import match_filter
from sifts_spark.queryparser import (
    And,
    AndNot,
    Phrase,
    Prefix,
    Term,
    parse_query,
)

CORPUS = [
    "中文文档 例子 test",          # Han runs expand; latin stays whole
    "スパークの 例",               # Katakana incl. script-Common ー chains
    "日本語のドキュメントです",      # one long mixed-kana/kanji run
    "Привет 中文",                # Cyrillic whole-word + Han bigram
    "한국어 문서 처리",             # Hangul: space-delimited → NO expansion
    "don't stop 人々 〇",          # punctuation split; iteration marks 々〇
    "spark中文 mixed run",         # mixed token SEGMENTS: [spark][中文]
    "中文2024年の記録",             # digits inside a run segment out
    "中",                          # single CJK char: no bigram possible
    "ｆｕｌｌｗｉｄｔｈ 中文 ＡＢＣ",  # fullwidth latin is not in the run class
    "",                            # empty
    "、。！？",                     # punctuation-only → zero tokens
]


def _py(text):
    return py_tokenize(text, TOKENIZER_CJK)


class TestThreeEngineEquivalence:
    def test_spark_duckdb_python_agree(self, spark):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(CORPUS)], "id long, content string"
        )
        got = {
            r["id"]: r["t"]
            for r in df.select(
                "id", tokenize(F.col("content"), TOKENIZER_CJK).alias("t")
            ).collect()
        }
        con = duckdb.connect()
        sql = f"SELECT {tokenize_sql('?', TOKENIZER_CJK)}"
        for i, text in enumerate(CORPUS):
            dk = con.execute(sql, [text]).fetchone()[0]
            assert got[i] == dk == _py(text), (text, got[i], dk, _py(text))

    def test_expansion_shapes(self):
        assert _py("中文文档") == ["中文", "文文", "文档"]
        # ー (U+30FC, script Common) is IN the run class — a katakana
        # loanword chains through its long vowel
        assert _py("スパーク") == ["スパ", "パー", "ーク"]
        # Hangul excluded by design: whole words
        assert _py("한국어 문서") == ["한국어", "문서"]
        # mixed tokens SEGMENT into maximal CJK / non-CJK runs (real
        # CJK text embeds digits and latin inside runs — digits are
        # \p{N}, so the unicode split keeps them in one token); each
        # CJK segment ≥2 bigrams, the rest pass whole
        assert _py("spark中文") == ["spark", "中文"]
        assert _py("中文2024年") == ["中文", "2024", "年"]
        # single CJK char: no bigram to make
        assert _py("中") == ["中"]
        # iteration marks are part of runs
        assert _py("人々") == ["人々"]
        assert len(_py("人々")[0]) == 2

    def test_groups_preserve_run_structure(self):
        assert py_tokenize_groups("don't 中文字", TOKENIZER_CJK) == [
            ["don"],
            ["t"],
            ["中文", "文字"],
        ]
        # non-cjk families: all singleton groups
        assert py_tokenize_groups("don't 中文字", "unicode") == [
            ["don"],
            ["t"],
            ["中文字"],
        ]

    def test_is_cjk_char(self):
        assert is_cjk_char("中")
        assert is_cjk_char("ー")
        assert not is_cjk_char("a")
        assert not is_cjk_char("中文")
        assert not is_cjk_char("한")


class TestQueryCompilation:
    def test_run_compiles_to_phrase_not_and(self):
        ast = parse_query("中文字", tokenizer=TOKENIZER_CJK)
        assert ast == Phrase(words=("中文", "文字"))

    def test_two_char_run_is_single_term(self):
        assert parse_query("中文", tokenizer=TOKENIZER_CJK) == Term("中文")

    def test_lone_cjk_char_degrades_to_prefix(self):
        assert parse_query("中", tokenizer=TOKENIZER_CJK) == Prefix("中")
        # quoted lone char takes the same rule
        assert parse_query('"中"', tokenizer=TOKENIZER_CJK) == Prefix("中")

    def test_mixed_word_and_operators(self):
        ast = parse_query("中文字 AND test", tokenizer=TOKENIZER_CJK)
        assert ast == And(Phrase(("中文", "文字")), Term("test"))
        ast = parse_query("中文字 NOT 例子", tokenizer=TOKENIZER_CJK)
        assert ast == AndNot(Phrase(("中文", "文字")), Term("例子"))

    def test_quoted_phrase_flattens_bigrams_in_order(self):
        ast = parse_query('"中文 例子"', tokenizer=TOKENIZER_CJK)
        assert ast == Phrase(words=("中文", "例子"))
        ast = parse_query('"中文字 spark"', tokenizer=TOKENIZER_CJK)
        assert ast == Phrase(words=("中文", "文字", "spark"))

    def test_trailing_star_on_run_is_redundant_phrase(self):
        # bigram-phrase matching IS substring matching — `*` drops out
        assert parse_query("中文字*", tokenizer=TOKENIZER_CJK) == Phrase(
            ("中文", "文字")
        )

    def test_other_families_unaffected(self):
        assert parse_query("中文字", tokenizer="unicode") == Term("中文字")


class TestScanPathSemantics:
    @pytest.fixture()
    def docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "これは中文文档のテストです"),
                (2, "spark engine documentation"),
                (3, "中文 例子 サンプル"),
                (4, "档文 reversed order"),
            ],
            "id long, content string",
        )

    def _ids(self, docs, q):
        ast = parse_query(q, tokenizer=TOKENIZER_CJK)
        return sorted(
            r["id"]
            for r in match_filter(docs, ast, tokenizer=TOKENIZER_CJK).collect()
        )

    def test_substring_inside_long_run(self, docs):
        assert self._ids(docs, "文档") == [1]
        assert self._ids(docs, "中文文档") == [1]

    def test_reversed_run_does_not_match(self, docs):
        # bag-of-words AND over bigrams would wrongly hit doc 1 too
        assert self._ids(docs, "档文") == [4]

    def test_latin_words_unchanged(self, docs):
        assert self._ids(docs, "documentation") == [2]

    def test_phrase_across_adjacent_runs(self, docs):
        assert self._ids(docs, '"中文 例子"') == [3]

    def test_lone_char_prefix_recall(self, docs):
        # 例 at non-final run positions (例子) and standalone — both hit
        assert self._ids(docs, "例") == [3]

    def test_cross_run_overmatch_documented(self, spark):
        # the classic CJK-bigram precision trade (r14 review #2,
        # pinned as DOCUMENTED behavior): gram positions are
        # consecutive across token boundaries, so a query run also
        # matches its exact chain split across adjacent written runs —
        # Lucene CJKAnalyzer phrase queries behave identically
        docs = spark.createDataFrame(
            [(1, "中文字 here"), (2, "中文 文字 split"), (3, "文字 中文")],
            "id long, content string",
        )
        assert self._ids(docs, "中文字") == [1, 2]  # 3 (wrong order): no

    def test_trailing_star_on_mixed_word_keeps_prefix(self, spark):
        # "中文spark*": the group tail is a non-expanded latin segment,
        # so the star compiles to Prefix(tail) AND the chain (adjacency
        # between them relaxed — documented) instead of silently
        # requiring the exact token "spark" (r14 review #4)
        ast = parse_query("中文spark*", tokenizer=TOKENIZER_CJK)
        assert ast == And(Term("中文"), Prefix("spark"))
        docs = spark.createDataFrame(
            [(1, "中文sparkle engine"), (2, "中文spa other")],
            "id long, content string",
        )
        assert self._ids(docs, "中文spark*") == [1]
        # a pure-CJK tail keeps the implied-star Phrase compile
        assert parse_query("中文文档*", tokenizer=TOKENIZER_CJK) == Phrase(
            ("中文", "文文", "文档")
        )

    def test_mixed_run_with_digits(self, spark):
        docs = spark.createDataFrame(
            [(1, "中文2024年の記録"), (2, "中文2023年の記録")],
            "id long, content string",
        )
        ids = lambda q: sorted(  # noqa: E731
            r["id"]
            for r in match_filter(
                docs,
                parse_query(q, tokenizer=TOKENIZER_CJK),
                tokenizer=TOKENIZER_CJK,
            ).collect()
        )
        # the digit island is its own token; phrase adjacency crosses
        # the CJK/digit boundary when the CJK side contributes a full
        # bigram
        assert ids("2024") == [1]
        assert ids("2024年の") == [1]
        assert ids("中文2023") == [2]
        assert ids("の記録") == [1, 2]
        # documented edge (same class as the lone-char query): a 1-char
        # CJK segment inside a larger query word only matches where the
        # doc has it as a standalone segment — segments never bigram
        # ACROSS a boundary, so "…年" cannot anchor to the doc's 年の
        # bigram; add the next char ("2024年の") for exact anchoring
        # (the bigram-family analog of FTS5 trigram's 3-char minimum)
        assert ids("2024年") == []


class TestCollectionLifecycle:
    def test_pin_query_reopen_mismatch(self, spark, tmp_path):
        root = str(tmp_path / "s")
        c = Collection(root, "docs", spark=spark, tokenizer=TOKENIZER_CJK)
        c.add(
            ids=["a", "b", "c"],
            contents=[
                "これは中文文档のテストです",
                "spark engine documentation",
                "中文 例子 サンプル",
            ],
        )
        assert c.store.snapshot(c.name).tokenizer == TOKENIZER_CJK
        ids = lambda res: sorted(d["id"] for d in res["results"])  # noqa: E731
        assert ids(c.query("文档")) == ["a"]
        assert ids(c.query('"中文 例子"')) == ["c"]
        assert ids(c.query("documentation")) == ["b"]
        # bm25 rank present on the text path
        res = c.query("文档")
        assert res["results"][0].get("rank") is not None
        # reopen WITHOUT the kwarg honors the sticky marker
        c2 = Collection(root, "docs", spark=spark)
        assert c2.store.snapshot(c2.name).tokenizer == TOKENIZER_CJK
        assert ids(c2.query("テスト")) == ["a"]
        # explicit mismatching pin raises instead of silently dropping
        with pytest.raises(ValueError):
            Collection(root, "docs", spark=spark, tokenizer="unicode")

    def test_retokenize_into_cjk(self, spark, tmp_path):
        root = str(tmp_path / "s2")
        c = Collection(root, "docs", spark=spark)  # unicode default
        c.add(ids=["a"], contents=["これは中文文档のテストです"])
        assert c.store.snapshot(c.name).tokenizer == "unicode"
        # unicode family: the run is ONE token — substring query misses
        assert c.query("文档")["results"] == []
        c.retokenize(TOKENIZER_CJK)
        assert c.store.snapshot(c.name).tokenizer == TOKENIZER_CJK
        assert [d["id"] for d in c.query("文档")["results"]] == ["a"]


class TestDedupGranularity:
    # Unspaced CJK docs: under the unicode family each doc is ONE token
    # → one whole-run shingle → Jaccard 0 between any two non-identical
    # runs; under cjk_bigram the shared bigram context dominates. All
    # md5-derived (signatures, band keys, block keys) is deterministic,
    # so these collide-or-not outcomes are stable, not flaky.
    A = "机器学习是人工智能的分支"
    B_APPEND = "机器学习是人工智能的分支了"   # J ≈ 0.9: LSH bands collide
    B_INSERT = "机器学习是人工智能的重要分支"  # J ≈ 0.54: shared rarest shingle

    def test_collection_family_governs_shingle_dedup(self, spark, tmp_path):
        c = Collection(
            str(tmp_path / "cjk"), "d", spark=spark, tokenizer=TOKENIZER_CJK
        )
        c.add(ids=["a", "b"], contents=[self.A, self.B_APPEND])
        pairs = c.find_duplicates("minhash").collect()
        assert [(p["id_a"], p["id_b"]) for p in pairs] == [("a", "b")]
        assert pairs[0]["score"] > 0.8

        u = Collection(str(tmp_path / "uni"), "d", spark=spark)
        u.add(ids=["a", "b"], contents=[self.A, self.B_APPEND])
        assert u.find_duplicates("minhash").count() == 0
        # explicit override beats the pinned family
        assert (
            u.find_duplicates("minhash", tokenizer=TOKENIZER_CJK).count() == 1
        )

    def test_operator_tokenizer_param(self, spark):
        from sifts_spark.operators.dedup import ngram_jaccard_pairs

        docs = spark.createDataFrame(
            [(1, self.A), (2, self.B_INSERT)], "doc_id long, text string"
        )
        got = ngram_jaccard_pairs(
            docs, threshold=0.3, tokenizer=TOKENIZER_CJK
        ).collect()
        assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]
        assert abs(got[0]["jaccard"] - 0.538) < 0.01
        assert ngram_jaccard_pairs(docs, threshold=0.3).count() == 0


class TestSnippets:
    def test_chain_reconstruction(self):
        assert _reconstruct_cjk_chains(("中文", "文字", "spark")) == [
            "中文字",
            "spark",
        ]
        assert _reconstruct_cjk_chains(("hello", "world")) == [
            "hello",
            "world",
        ]

    def test_run_granular_marks(self):
        fam = TOKENIZER_CJK
        s = make_snippet(
            "spark と 中文文档 のテスト",
            parse_query("文档", tokenizer=fam),
            tokenizer=fam,
        )
        assert "[中文文档]" in s
        s = make_snippet(
            "spark 例のドキュメント",
            parse_query("例", tokenizer=fam),
            tokenizer=fam,
        )
        assert "[例のドキュメント]" in s

    def test_excluded_side_never_marked(self):
        fam = TOKENIZER_CJK
        s = make_snippet(
            "中文 例子 both here",
            parse_query("中文 NOT 例子", tokenizer=fam),
            tokenizer=fam,
        )
        assert "[中文]" in s and "[例子]" not in s

    def test_latin_term_inside_mixed_run_marked(self):
        # Term('spark') matched via segmentation of the mixed run; the
        # snippet must mark the run it matched in (r14 review #6)
        fam = TOKENIZER_CJK
        s = make_snippet(
            "the Spark中文入門 guide",
            parse_query("spark", tokenizer=fam),
            tokenizer=fam,
        )
        assert "[Spark中文入門]" in s


def test_latin_prefix_inside_mixed_run_marked():
    # follow-up to review #6: Prefix matches via segmentation must mark
    # the mixed run too, not just Terms
    from sifts_spark.functions.snippets import make_snippet
    from sifts_spark.queryparser import parse_query

    s = make_snippet(
        "the 中文spark tool",
        parse_query("spark*", tokenizer=TOKENIZER_CJK),
        tokenizer=TOKENIZER_CJK,
    )
    assert "[中文spark]" in s


class TestExactRuns:
    """r15: the opt-in exact run-boundary verify (the measured
    cross-run over-match, CJK_FP_EVAL.json: 0% of natural within-run
    query matches, ~10% of boundary-spanning query matches on a
    maximally-spaced corpus)."""

    def test_source_stamped_and_equality_unchanged(self):
        ast = parse_query("中文字", tokenizer=TOKENIZER_CJK)
        assert ast == Phrase(words=("中文", "文字"))  # compare=False
        assert ast.source == "中文字"
        from sifts_spark.queryparser import has_run_phrase

        assert has_run_phrase(ast)
        quoted = parse_query('"中文 文字"', tokenizer=TOKENIZER_CJK)
        assert quoted.source is None and not has_run_phrase(quoted)

    def test_scan_path_default_overmatches_exact_does_not(self, spark):
        from sifts_spark.operators.search import match_filter

        ast = parse_query("中文字", tokenizer=TOKENIZER_CJK)
        df = spark.createDataFrame(
            [("a", "前缀中文字后缀"), ("b", "中文 文字"), ("c", "毫无关联")],
            "id string, content string",
        )
        got = {
            r["id"]
            for r in match_filter(df, ast, tokenizer=TOKENIZER_CJK).collect()
        }
        assert got == {"a", "b"}  # the documented Lucene-parity over-match
        got = {
            r["id"]
            for r in match_filter(
                df, ast, tokenizer=TOKENIZER_CJK, exact_runs=True
            ).collect()
        }
        assert got == {"a"}

    def test_postings_path_collection_query(self, store_root, spark):
        from sifts_spark.collection import Collection

        col = Collection(store_root, "xr", spark=spark, tokenizer="cjk_bigram")
        col.add(["前缀中文字后缀", "中文 文字", "毫无关联"], ids=["a", "b", "c"])
        r = col.query("中文字")
        assert sorted(x["id"] for x in r["results"]) == ["a", "b"]
        r = col.query("中文字", exact_runs=True)
        assert [x["id"] for x in r["results"]] == ["a"] and r["total"] == 1
        # user-quoted phrases keep index semantics under the flag
        # (adjacency of the quoted gram chains — satisfied both by the
        # written pair and within a longer run, the family's posture)
        r = col.query('"中文 文字"', exact_runs=True)
        assert sorted(x["id"] for x in r["results"]) == ["a", "b"]
        # no-op for queries without a synthesized gram-chain phrase
        r = col.query("例", exact_runs=True)
        assert r["total"] == 0

    def test_positions_free_quoted_phrase_still_verified(
        self, store_root, spark
    ):
        # ADVICE r16 (high): on a POSITIONS-FREE index search_postings
        # returns the all-words-present superset with no _pending
        # column; the conjunctive Contains fast path must NOT treat
        # that as "index proved the AST" — a user-quoted phrase's
        # adjacency still needs the full re-eval, else exact_runs=True
        # is strictly WORSE than the default has_phrase verify.
        from sifts_spark.collection import Collection

        col = Collection(
            store_root, "xpf", spark=spark, tokenizer="cjk_bigram",
            index_positions=False,
        )
        col.add(
            [
                "foo bar 前缀中文字后缀",      # quoted pair adjacent + run
                "foo baz bar 前缀中文字后缀",  # words scattered + run
                "foo bar 中文 文字",           # adjacent pair, cross-run
            ],
            ids=["adj", "scat", "xrun"],
        )
        q = '"foo bar" 中文字'
        r = col.query(q)
        assert sorted(x["id"] for x in r["results"]) == ["adj", "xrun"]
        r = col.query(q, exact_runs=True)
        assert [x["id"] for x in r["results"]] == ["adj"]
        # negated quoted phrase: the positions-free prefilter DROPPED
        # the negation — exact_runs must re-apply it, not fast-path
        # past it
        r = col.query('中文字 NOT "foo bar"', exact_runs=True)
        assert sorted(x["id"] for x in r["results"]) == ["scat"]

    def test_has_unverified_phrase(self):
        from sifts_spark.queryparser import (
            AndNot,
            has_unverified_phrase,
        )

        fam = TOKENIZER_CJK
        # sourced-only conjunction: Contains residual suffices
        assert not has_unverified_phrase(
            parse_query("中文字 数据库", tokenizer=fam)
        )
        # user-quoted phrase anywhere: needs the full re-eval
        assert has_unverified_phrase(
            parse_query('"中文 文字" 数据库', tokenizer=fam)
        )
        # ANY phrase under a negation (prefilter dropped it)
        assert has_unverified_phrase(
            AndNot(
                parse_query("alpha", tokenizer=fam),
                parse_query("中文字", tokenizer=fam),
            )
        )
        assert not has_unverified_phrase(
            AndNot(
                parse_query("中文字", tokenizer=fam),
                parse_query("alpha", tokenizer=fam),
            )
        )

    def test_exact_runs_mixed_word_and_or(self, spark):
        from sifts_spark.operators.search import match_filter

        # OR branches verify independently: a doc matching only the
        # clean disjunct must survive the other's failed verify
        ast = parse_query("中文字 OR 数据库", tokenizer=TOKENIZER_CJK)
        df = spark.createDataFrame(
            [("a", "中文 文字"), ("b", "大型数据库系统"), ("c", "无关")],
            "id string, content string",
        )
        got = {
            r["id"]
            for r in match_filter(
                df, ast, tokenizer=TOKENIZER_CJK, exact_runs=True
            ).collect()
        }
        assert got == {"b"}


class TestBM25GramStatistics:
    """r15 stretch: BM25 under an expanding family ranks by GRAM
    statistics (tf/idf/dl counted over bigrams), not word statistics —
    a documented deviation. The pin: ranking stays sane — a doc
    repeating the exact query run outranks a single-occurrence doc,
    and a doc holding the grams scattered (non-consecutive) is not a
    hit AT ALL (the gram-chain Phrase excludes it index-side), which
    is stronger than being outranked."""

    def test_repeat_run_outranks_and_scattered_is_excluded(
        self, store_root, spark
    ):
        from sifts_spark.collection import Collection

        col = Collection(
            store_root, "bm", spark=spark, tokenizer="cjk_bigram"
        )
        col.add(
            [
                "报告提到中文字编码和中文字历史",  # run twice
                "某处提到中文字编码而已",          # run once
                "中文 在前 文字 在后 没有连续",      # grams scattered
            ],
            ids=["twice", "once", "scattered"],
        )
        r = col.query("中文字")
        ids = [x["id"] for x in r["results"]]
        assert "scattered" not in ids
        assert ids.index("twice") < ids.index("once")
        ranks = {x["id"]: x["rank"] for x in r["results"]}
        assert ranks["twice"] > ranks["once"]


def test_exact_runs_threads_through_hybrid_text_leg(store_root, spark):
    # exact_runs trims the TEXT leg only: the cross-run doc loses its
    # BM25 contribution but can still enter through the vector leg
    from sifts_spark.collection import Collection

    def embed(texts):
        return [
            [1.0, 0.0] if "中" in (t or "") else [0.0, 1.0] for t in texts
        ]

    col = Collection(
        store_root, "hxr", spark=spark, tokenizer="cjk_bigram",
        embedding_function=embed,
    )
    col.add(["前缀中文字后缀", "中文 文字", "毫无关联"], ids=["a", "b", "c"])
    base = {x["id"]: x["rank"] for x in col.hybrid_query("中文字")["results"]}
    exact = {
        x["id"]: x["rank"]
        for x in col.hybrid_query("中文字", exact_runs=True)["results"]
    }
    assert exact["b"] < base["b"]  # lost the text-leg RRF term
    # the clean doc can only GAIN (the dropped doc vacates a text-leg
    # position above it — BM25 favored the shorter cross-run doc)
    assert exact["a"] >= base["a"]


def test_conjunctive_sources_tiering():
    # the exact_runs residual-verify cost tier: conjunctive spines →
    # Contains-only list; an Or spanning a sourced phrase → None
    # (full re-eval); Or subtrees without one contribute no residual
    from sifts_spark.queryparser import conjunctive_sources

    fam = TOKENIZER_CJK
    assert conjunctive_sources(parse_query("中文字", tokenizer=fam)) == [
        "中文字"
    ]
    assert conjunctive_sources(
        parse_query("中文字 数据库", tokenizer=fam)
    ) == ["中文字", "数据库"]
    assert (
        conjunctive_sources(parse_query("中文字 OR 数据库", tokenizer=fam))
        is None
    )
    # Or of plain terms under AND with a run phrase (programmatic AST —
    # the grammar itself always roots at Or): cheap path holds because
    # the Or subtree carries no sourced phrase
    from sifts_spark.queryparser import And, Or, Term

    ast = And(
        Or(Term("alpha"), Term("beta")),
        parse_query("中文字", tokenizer=fam),
    )
    assert conjunctive_sources(ast) == ["中文字"]
    # but any Or CONTAINING a sourced phrase bails to full re-eval
    assert conjunctive_sources(
        parse_query("alpha OR beta 中文字", tokenizer=fam)
    ) is None
    # negated side keeps index semantics — no residual from it
    assert conjunctive_sources(
        parse_query("中文字 NOT 数据库", tokenizer=fam)
    ) == ["中文字"]


def test_exact_runs_or_fallback_and_conjunctive_paths(store_root, spark):
    from sifts_spark.collection import Collection

    col = Collection(store_root, "xor", spark=spark, tokenizer="cjk_bigram")
    col.add(
        ["前缀中文字后缀", "中文 文字", "大型数据库系统", "数据 据库"],
        ids=["a", "b", "c", "d"],
    )
    # OR spanning sourced phrases → full re-eval kills both cross-run
    # docs while each clean disjunct survives independently
    r = col.query("中文字 OR 数据库", exact_runs=True)
    assert sorted(x["id"] for x in r["results"]) == ["a", "c"]
    r = col.query("中文字 OR 数据库")
    assert sorted(x["id"] for x in r["results"]) == ["a", "b", "c", "d"]
    # conjunctive spine → the cheap Contains residual
    r = col.query("中文字 前缀", exact_runs=True)
    assert sorted(x["id"] for x in r["results"]) == ["a"]
