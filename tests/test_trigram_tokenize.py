"""The ``trigram`` tokenizer family (late r14).

The universal-substring family (FTS5 ``trigram`` tokenizer posture,
script-blind): every token of ≥3 chars expands to its character
trigrams, and the parser compiles a query word to a consecutive Phrase
over its trigrams — so a query matches INSIDE any word of any script
(code identifiers, URLs, agglutinated compounds). Unlike FTS5's,
trigrams never span token boundaries (the unicode split runs first),
so substring match is WITHIN-token — documented.

Same machinery as cjk_bigram (`py_tokenize_groups` → Phrase; sticky
``_tokenizer`` marker; Prefix degradation for sub-length queries), so
these tests mirror tests/test_cjk_tokenize.py's structure.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from sifts_spark.collection import Collection
from sifts_spark.functions.snippets import make_snippet
from sifts_spark.functions.text import (
    TOKENIZER_TRIGRAM,
    py_tokenize,
    py_tokenize_groups,
    tokenize,
    tokenize_sql,
)
from sifts_spark.operators.search import match_filter
from sifts_spark.queryparser import Phrase, Prefix, Term, parse_query

CORPUS = [
    "hello world",
    "preprocessing pipeline configuration",
    "to be or not",                 # 1-2 char tokens stay whole
    "中文文档 example",              # CJK ≥3 trigrams too (script-blind)
    "don't stop",
    "",
    "、。",                          # zero tokens
]


def _py(t):
    return py_tokenize(t, TOKENIZER_TRIGRAM)


class TestThreeEngineEquivalence:
    def test_spark_duckdb_python_agree(self, spark):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(CORPUS)], "id long, content string"
        )
        got = {
            r["id"]: r["t"]
            for r in df.select(
                "id", tokenize(F.col("content"), TOKENIZER_TRIGRAM).alias("t")
            ).collect()
        }
        con = duckdb.connect()
        sql = f"SELECT {tokenize_sql('?', TOKENIZER_TRIGRAM)}"
        for i, text in enumerate(CORPUS):
            dk = con.execute(sql, [text]).fetchone()[0]
            assert got[i] == dk == _py(text), (text, got[i], dk, _py(text))

    def test_expansion_shapes(self):
        assert _py("hello") == ["hel", "ell", "llo"]
        assert _py("to be") == ["to", "be"]
        assert _py("abc") == ["abc"]
        # script-blind: a 4-char CJK run trigrams just like latin
        assert _py("中文文档") == ["中文文", "文文档"]
        assert py_tokenize_groups("ello x", TOKENIZER_TRIGRAM) == [
            ["ell", "llo"],
            ["x"],
        ]


class TestQueryCompilation:
    def test_word_compiles_to_trigram_phrase(self):
        assert parse_query("ello", tokenizer=TOKENIZER_TRIGRAM) == Phrase(
            ("ell", "llo")
        )
        assert parse_query("abc", tokenizer=TOKENIZER_TRIGRAM) == Term("abc")

    def test_sub_length_degrades_to_prefix(self):
        assert parse_query("ab", tokenizer=TOKENIZER_TRIGRAM) == Prefix("ab")
        assert parse_query("a", tokenizer=TOKENIZER_TRIGRAM) == Prefix("a")

    def test_other_families_unaffected(self):
        assert parse_query("ello", tokenizer="unicode") == Term("ello")


class TestScanPathSemantics:
    @pytest.fixture()
    def docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "say hello to the world"),
                (2, "olleh reversed letters"),
                (3, "preprocessing pipelines"),
                (4, "to be or not to be"),
            ],
            "id long, content string",
        )

    def _ids(self, docs, q):
        ast = parse_query(q, tokenizer=TOKENIZER_TRIGRAM)
        return sorted(
            r["id"]
            for r in match_filter(
                docs, ast, tokenizer=TOKENIZER_TRIGRAM
            ).collect()
        )

    def test_substring_inside_word(self, docs):
        assert self._ids(docs, "ello") == [1]
        assert self._ids(docs, "process") == [3]

    def test_reversed_does_not_match(self, docs):
        assert self._ids(docs, "olle") == [2]  # only the literal one

    def test_short_tokens_exact_and_prefix(self, docs):
        # "to" is a standalone token in 1 and 4; Prefix also matches
        # trigrams starting "to" (none here start with to except the
        # token itself)
        assert self._ids(docs, "to") == [1, 4]

    def test_whole_word_still_matches(self, docs):
        assert self._ids(docs, "hello") == [1]
        assert self._ids(docs, "preprocessing") == [3]


class TestCollectionLifecycle:
    def test_pin_query_reopen(self, spark, tmp_path):
        c = Collection(
            str(tmp_path / "s"), "d", spark=spark, tokenizer=TOKENIZER_TRIGRAM
        )
        c.add(
            ids=["a", "b"],
            contents=["say hello to the world", "unrelated content here"],
        )
        assert c.store.snapshot(c.name).tokenizer == TOKENIZER_TRIGRAM
        ids = lambda res: sorted(d["id"] for d in res["results"])  # noqa: E731
        assert ids(c.query("ello")) == ["a"]
        c2 = Collection(str(tmp_path / "s"), "d", spark=spark)
        assert c2.store.snapshot(c2.name).tokenizer == TOKENIZER_TRIGRAM
        assert ids(c2.query("orld")) == ["a"]
        with pytest.raises(ValueError):
            Collection(
                str(tmp_path / "s"), "d", spark=spark, tokenizer="unicode"
            )


class TestSnippets:
    def test_in_word_highlight(self):
        fam = TOKENIZER_TRIGRAM
        s = make_snippet(
            "say hello to the world",
            parse_query("ello", tokenizer=fam),
            tokenizer=fam,
        )
        assert "[hello]" in s

    def test_prefix_marks_only_anchorable_positions(self):
        # r14 advice #3: a sub-length prefix in the FINAL n-1 chars of
        # a word yields no stored trigram starting with it, so the
        # index-side Prefix leaf cannot match there — the highlighter
        # must not mark such words ('hi*' must not mark 'sushi')
        fam = TOKENIZER_TRIGRAM
        s = make_snippet(
            "sushi hill hi",
            parse_query("hi*", tokenizer=fam),
            tokenizer=fam,
        )
        assert "[hill]" in s  # 'hi' anchors a gram ('hil')
        assert "[hi]" in s  # standalone short token, startswith
        assert "[sushi]" not in s  # 'hi' in the final 2 chars: no gram

    def test_excluded_side_never_marked(self):
        fam = TOKENIZER_TRIGRAM
        s = make_snippet(
            "alpha beta both",
            parse_query("alpha NOT beta", tokenizer=fam),
            tokenizer=fam,
        )
        assert "[alpha]" in s and "[beta]" not in s


class TestExactRunsTrigram:
    def test_cross_token_chain_overmatch_and_verify(self, spark):
        # trigram cross-token FP needs t1's last 2 chars == t2's first
        # 2 chars ("hello lol" vs query "hellol"); exact_runs kills it
        from sifts_spark.operators.search import match_filter

        ast = parse_query("hellol", tokenizer=TOKENIZER_TRIGRAM)
        assert ast.source == "hellol"
        df = spark.createDataFrame(
            [("a", "say hellol now"), ("b", "hello lol"), ("c", "other")],
            "id string, content string",
        )
        fam = TOKENIZER_TRIGRAM
        got = {
            r["id"]
            for r in match_filter(df, ast, tokenizer=fam).collect()
        }
        assert got == {"a", "b"}
        got = {
            r["id"]
            for r in match_filter(
                df, ast, tokenizer=fam, exact_runs=True
            ).collect()
        }
        assert got == {"a"}


class TestLeadingWildcard:
    """r15 stretch: a leading '*' is a SUBSTRING ask — implied (and
    granted) by the expanding families, rejected loudly with the
    remedy by the word families (pre-r15 the star was silently
    tokenizer-stripped, turning the ask into an exact-term match)."""

    def test_implied_under_trigram(self):
        fam = TOKENIZER_TRIGRAM
        assert parse_query("*ello*", tokenizer=fam) == parse_query(
            "ello", tokenizer=fam
        )
        assert parse_query("*ello", tokenizer=fam) == Phrase(("ell", "llo"))

    def test_rejected_under_word_families(self):
        from sifts_spark.queryparser import ParseError

        for fam in ("unicode", "ascii"):
            with pytest.raises(ParseError, match="trigram"):
                parse_query("*ello", tokenizer=fam)

    def test_cjk_bigram_grants_cjk_only(self):
        from sifts_spark.queryparser import ParseError

        got = parse_query("*中文字", tokenizer="cjk_bigram")
        assert got == parse_query("中文字", tokenizer="cjk_bigram")
        with pytest.raises(ParseError, match="trigram"):
            parse_query("*ello", tokenizer="cjk_bigram")

    def test_lone_star_still_rejected(self):
        from sifts_spark.queryparser import ParseError

        with pytest.raises(ParseError):
            parse_query("*", tokenizer=TOKENIZER_TRIGRAM)

    def test_sub_gram_needle_rejected_not_degraded(self):
        # ADVICE r16: '*ab' under trigram / '*中' under cjk_bigram used
        # to be "granted" then silently compiled through the sub-length
        # Prefix degradation (missing word-final positions) — a silent
        # partial-substring semantics. Now they fail loudly like every
        # other non-index-servable star, with the scan opt-in named.
        from sifts_spark.queryparser import ParseError

        for q, fam in (("*ab", TOKENIZER_TRIGRAM), ("*中", "cjk_bigram")):
            with pytest.raises(ParseError, match="substring_scan"):
                parse_query(q, tokenizer=fam)

    def test_substring_scan_parse_shapes(self):
        from sifts_spark.queryparser import (
            And,
            Substring,
            Suffix,
            Term,
            has_scan_only,
        )

        assert parse_query(
            "*ello", tokenizer="unicode", substring_scan=True
        ) == Suffix("ello")
        assert parse_query(
            "*ello*", tokenizer="unicode", substring_scan=True
        ) == Substring("ello")
        # sub-gram needles take run-granular containment (the
        # expanding families' own `*x` ≡ `*x*` posture)
        assert parse_query(
            "*中", tokenizer="cjk_bigram", substring_scan=True
        ) == Substring("中")
        assert parse_query(
            "*ab", tokenizer=TOKENIZER_TRIGRAM, substring_scan=True
        ) == Substring("ab")
        # multi-part word: the star binds the head segment
        assert parse_query(
            "*don't", tokenizer="unicode", substring_scan=True
        ) == And(Suffix("don"), Term("t"))
        # index-servable stars never produce scan leaves, even with
        # the flag on
        assert not has_scan_only(
            parse_query("*ello", tokenizer=TOKENIZER_TRIGRAM,
                        substring_scan=True)
        )
        assert not has_scan_only(
            parse_query("ello*", tokenizer="unicode", substring_scan=True)
        )

    def test_substring_scan_e2e_word_family(self, spark, tmp_path):
        c = Collection(str(tmp_path / "w"), "d", spark=spark)  # unicode
        c.add(
            ids=["a", "b", "c", "d"],
            contents=[
                "say hello world",
                "cello solo",
                "nothing here",
                "yellow jello",
            ],
        )
        from sifts_spark.queryparser import ParseError

        with pytest.raises(ParseError, match="substring_scan"):
            c.query("*ello")
        r = c.query("*ello", substring_scan=True)
        assert sorted(x["id"] for x in r["results"]) == ["a", "b", "d"]
        assert r["total"] == 3
        # r16: served through the postings term dictionary — full
        # ranked-search contract (BM25 over the matching terms, like a
        # trailing-* prefix leaf)
        assert all(x["rank"] is not None for x in r["results"])
        # token-suffix, not containment: 'yellow' does not end in ello
        r = c.query("*ello*", substring_scan=True)
        assert sorted(x["id"] for x in r["results"]) == ["a", "b", "d"]
        # composes with terms, where, and plain queries
        r = c.query("*ello world", substring_scan=True)
        assert [x["id"] for x in r["results"]] == ["a"]
        r = c.query("hello", substring_scan=True)
        assert r["results"][0]["rank"] is not None

    def test_substring_scan_composes_with_cjk_exact_runs(
        self, spark, tmp_path
    ):
        # latin leading-* under cjk_bigram is scan-only; the CJK run is
        # a sourced gram-chain phrase — the scan route must evaluate
        # both, and exact_runs must still kill the cross-run over-match
        c = Collection(
            str(tmp_path / "w"), "d", spark=spark, tokenizer="cjk_bigram"
        )
        c.add(
            ids=["a", "b", "cc"],
            contents=[
                "spark引擎 前缀中文字后缀",
                "pyspark工具 中文 文字",
                "flink引擎 中文字",
            ],
        )
        r = c.query("*park 中文字", substring_scan=True)
        assert sorted(x["id"] for x in r["results"]) == ["a", "b"]
        r = c.query("*park 中文字", substring_scan=True, exact_runs=True)
        assert [x["id"] for x in r["results"]] == ["a"]

    def test_substring_scan_postings_term_dictionary_serving(self, spark):
        # r16: Suffix/Substring leaves are served by the postings index
        # through the term dictionary (endswith/contains over the
        # sorted term column) — same token-granular semantics as the
        # scan predicate, BM25 aggregated over matching terms
        from sifts_spark.operators import search as S
        from sifts_spark.queryparser import AndNot, Substring, Suffix

        docs = spark.createDataFrame(
            [
                ("a", "say hello world"),
                ("b", "cello solo"),
                ("c", "nothing here"),
                ("d", "yellow jello marshmallow"),
            ],
            "id string, content string",
        )
        postings = S.build_postings(docs)
        for ast, want in (
            (Suffix("ello"), {"a", "b", "d"}),
            (Substring("ello"), {"a", "b", "d"}),  # yellow+jello both hit
            (Substring("llo"), {"a", "b", "d"}),
            (AndNot(Suffix("ello"), Suffix("low")), {"a", "b"}),
        ):
            got = {
                r["id"] for r in S.search_postings(postings, ast).collect()
            }
            scan = {
                r["id"]
                for r in S.match_filter(docs, ast, "content").collect()
            }
            assert got == scan == want, ast
        # BM25: the suffix leaf's tf sums over every matching term in
        # the doc (hello+cello... per doc) — rank present and positive
        r = S.search_postings(postings, Suffix("ello")).collect()
        assert all(row["rank"] > 0 for row in r)

    def test_e2e_collection(self, spark, tmp_path):
        c = Collection(
            str(tmp_path / "w"), "d", spark=spark, tokenizer=TOKENIZER_TRIGRAM
        )
        c.add(ids=["a", "b"], contents=["say hello world", "nothing here"])
        ids = sorted(d["id"] for d in c.query("*ello*")["results"])
        assert ids == ["a"]


def test_necessary_contains_prefilter_soundness(spark):
    # the r15 scan prefilter is a NECESSARY condition: structural map
    # of every leaf to raw Contains; a match without it would be a
    # wrong-answer bug, so pin the mapping on each node type
    from pyspark.sql import functions as F

    from sifts_spark.operators.search import necessary_contains
    from sifts_spark.queryparser import parse_query

    fam = TOKENIZER_TRIGRAM
    # rendered expression references Contains and never the expansion
    ast = parse_query('"hash join" OR ello NOT qz', tokenizer=fam)
    col = necessary_contains(ast, F.lower(F.lit("x")))
    s = str(col._jc)
    assert "CONTAINS" in s.upper()
    assert "transform" not in s  # no HOF in the cheap pass


def test_prefilter_preserves_match_semantics(spark):
    # prefilter && predicate ≡ predicate — exhaustive over the corpus
    # shapes for both expanding families and all node types
    from sifts_spark.operators.search import match_filter, necessary_contains
    from sifts_spark.functions.text import TOKENIZER_CJK, tokenize
    from pyspark.sql import functions as F

    rows = [
        (1, "say hello to the world"),
        (2, "hello lol cross chain"),
        (3, "中文 文字"),
        (4, "前缀中文字后缀"),
        (5, None),
        (6, ""),
        (7, "qz plenipotentiary"),
    ]
    df = spark.createDataFrame(rows, "id long, content string")
    for fam, qs in (
        (TOKENIZER_TRIGRAM, ["ello", "hellol", "qz", '"hash join"',
                             "ello NOT world", "ello OR enipote"]),
        (TOKENIZER_CJK, ["中文字", "例 OR 中文字", "中文字 NOT 后缀"]),
    ):
        for q in qs:
            ast = parse_query(q, tokenizer=fam)
            with_pre = {
                r["id"] for r in match_filter(df, ast, tokenizer=fam).collect()
            }
            toks = tokenize(F.col("content"), fam)
            bare = {
                r["id"]
                for r in df.filter(
                    F.exists(F.array(toks), lambda t: ast.to_column(t))
                ).collect()
            }
            assert with_pre == bare, (fam, q, with_pre, bare)
