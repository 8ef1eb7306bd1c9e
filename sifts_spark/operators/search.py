"""Full-text search: boolean match, postings index, BM25 ranking.

Reference parity targets:
* FTS5 ``MATCH`` + join back to documents (/root/reference/src/sifts/
  core.py:408-414) and PG ``tsvector @@ to_tsquery`` (core.py:551-557).
* ``rank``: FTS5 exposes bm25 (lower = better), PG ``ts_rank``. We expose
  classic BM25 (higher = better) and DEFAULT-SORT search results by it —
  a documented deviation: the reference returns storage order
  (SURVEY.md §2.7) and its tests never pin FTS order.

Two physical strategies, same semantics:

1. **Scan predicate** (:func:`match_filter`) — compile the query AST to a
   boolean Column over on-the-fly tokens. One pass over the (partition-
   pruned) collection, whole-stage codegen, zero shuffle. Right when the
   collection fits a scan or when combined with selective metadata
   filters.

2. **Postings index** (:func:`build_postings` + :func:`search_postings`)
   — the inverted-index path replacing FTS5/GIN for the 100 TB posture:
   postings ``(term, id, tf, dl)`` sorted by ``term`` at write time so a
   term lookup reads only matching row groups (min/max skipping); the
   boolean evaluation groups candidate postings by id and re-applies the
   SAME AST over the per-id matched-leaf set, then BM25-scores from the
   aggregated (tf, df, N, avgdl). The only shuffle is the groupBy(id)
   over candidate postings — proportional to matches, not corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sifts_spark.functions.text import tokenize
from sifts_spark.queryparser import (
    And,
    AndNot,
    Fuzzy,
    Node,
    Or,
    Phrase,
    Prefix,
    Substring,
    Suffix,
    Term,
    has_phrase,
)

# Classic Okapi BM25 constants (same defaults as FTS5's bm25() and Lucene).
BM25_K1 = 1.2
BM25_B = 0.75


def exact_runs_column(ast: Node, tokens: Column, raw_lower: Column) -> Column:
    """The AST's boolean column with the opt-in EXACT RUN-BOUNDARY
    verify folded in: every synthesized gram-chain :class:`Phrase`
    (``source`` set — one written query word expanded by the
    cjk_bigram/trigram family) additionally requires its written word
    as a raw substring of the lowered content, killing the documented
    cross-boundary gram-chain over-match ("中文字" matching the doc
    "中文 文字"; measured rates in CJK_FP_EVAL.json — 0% on natural
    within-run queries, ~10% of matches for boundary-spanning query
    strings on a maximally-spaced corpus). Sound because a query run's
    chars are contiguous, so it occurs inside ONE written run iff it
    occurs contiguously in raw text at all. User-quoted phrases
    (``source=None``) keep index semantics — their cross-word
    adjacency is what quoting asks for. Structural recursion so OR
    branches verify independently. Codegen'd Contains — no UDF."""
    if isinstance(ast, Phrase) and ast.source is not None:
        return ast.to_column(tokens) & F.coalesce(
            raw_lower.contains(ast.source), F.lit(False)
        )
    if isinstance(ast, And):
        return exact_runs_column(
            ast.left, tokens, raw_lower
        ) & exact_runs_column(ast.right, tokens, raw_lower)
    if isinstance(ast, Or):
        return exact_runs_column(
            ast.left, tokens, raw_lower
        ) | exact_runs_column(ast.right, tokens, raw_lower)
    if isinstance(ast, AndNot):
        # negation stays RECALL-faithful: the excluded side keeps index
        # semantics (tightening it with the verify would RESURRECT docs
        # the index excluded, surprising for an opt-in precision knob)
        return exact_runs_column(ast.left, tokens, raw_lower) & ~F.coalesce(
            ast.right.to_column(tokens), F.lit(False)
        )
    return ast.to_column(tokens)


def exact_runs_verify(
    df: DataFrame,
    ast: Node,
    content_col: str = "content",
    tokenizer: str | None = None,
) -> DataFrame:
    """Apply the exact run-boundary residual verify to an INDEX-
    CANDIDATE frame joined with its content — the
    ``Collection.query(exact_runs=True)`` serving shape. Consumes (and
    drops) a ``_pending`` column when present.

    Cost tiering (measured, EXT_BENCH ``cjk_substr_postings_exact``):
    a candidate already passed the full AST index-side (boolean +
    gram-chain adjacency), so on a purely conjunctive positive spine
    the residual is ONE raw Contains per sourced phrase — no content
    re-tokenize (the full structural re-eval cost ~3× the index probe;
    the Contains residual is nearly free). Queries whose ``Or`` spans
    a sourced phrase fall back to the full
    :func:`exact_runs_column` re-eval; ``_pending=True`` rows (capped
    positions / pre-positions batches) always take the full re-eval —
    their adjacency was never proven.

    A ``_pending``-FREE frame is only "index proved the full AST" on a
    POSITIONAL layout; a positions-free index returns the all-words-
    present superset with no ``_pending`` column at all. There the
    Contains residual covers SOURCED phrases (a raw substring hit is
    stronger than gram-chain adjacency) but nothing verifies an
    unsourced (user-quoted) phrase's adjacency or re-applies a
    negation the prefilter dropped — such ASTs
    (:func:`~sifts_spark.queryparser.has_unverified_phrase`) take the
    full re-eval (r16; previously the fast path silently skipped the
    quoted-phrase verify on positions-free collections)."""
    from sifts_spark.functions.text import tokenize as _tok
    from sifts_spark.queryparser import (
        conjunctive_sources,
        has_unverified_phrase,
    )

    raw = F.lower(F.col(content_col))
    srcs = conjunctive_sources(ast)
    if (
        srcs is not None
        and "_pending" not in df.columns
        and has_unverified_phrase(ast)
    ):
        srcs = None
    full = None
    if srcs is None or "_pending" in df.columns:
        full = exact_runs_column(ast, _tok(F.col(content_col), tokenizer), raw)
    if srcs is None:
        cond = full
    else:
        cond = F.lit(True)
        for s in srcs:
            cond = cond & F.coalesce(raw.contains(s), F.lit(False))
        if "_pending" in df.columns:
            cond = F.when(F.col("_pending"), full & cond).otherwise(cond)
    out = df.filter(cond)
    return out.drop("_pending") if "_pending" in df.columns else out


def necessary_contains(ast: Node, raw_lower: Column) -> Column:
    """A CHEAP NECESSARY condition for an expanding-family match,
    evaluated on raw lowered text: every token or gram a leaf can
    match is a contiguous substring of the lowered content (grams are
    substrings of one segment; whole tokens are substrings by
    construction), so

    * ``Term(w)`` / ``Prefix(p)`` → ``contains(w)`` / ``contains(p)``
    * ``Phrase(ws)`` → AND of ``contains(w)`` (each word matched
      SOMEWHERE, adjacency not pre-checked)
    * ``And``/``Or`` map structurally; ``AndNot`` keeps only its
      positive side (a negation cannot prefilter).

    match ⇒ necessary_contains, never the converse — callers AND it in
    FRONT of the real predicate so whole-stage codegen's short-circuit
    skips the n-gram expansion HOFs on rows that cannot match (the
    Lucene cheap-first-pass posture; the DB-classic LIKE-before-regex).
    Measured in EXT_BENCH ``cjk_substr_scan``/``trigram_substr_scan``."""
    if isinstance(ast, Term):
        return raw_lower.contains(ast.word)
    if isinstance(ast, Prefix):
        return raw_lower.contains(ast.prefix)
    if isinstance(ast, Suffix):
        return raw_lower.contains(ast.suffix)
    if isinstance(ast, Substring):
        return raw_lower.contains(ast.sub)
    if isinstance(ast, Fuzzy):
        # an edit can change ANY character — a fuzzy leaf admits no
        # raw-Contains necessary condition (word families only, so
        # this is never the expensive-HOF prefilter path anyway)
        return F.lit(True)
    if isinstance(ast, Phrase):
        cond = None
        for w in ast.words:
            c = raw_lower.contains(w)
            cond = c if cond is None else cond & c
        return cond
    if isinstance(ast, And):
        return necessary_contains(ast.left, raw_lower) & necessary_contains(
            ast.right, raw_lower
        )
    if isinstance(ast, Or):
        return necessary_contains(ast.left, raw_lower) | necessary_contains(
            ast.right, raw_lower
        )
    if isinstance(ast, AndNot):
        return necessary_contains(ast.left, raw_lower)
    raise TypeError(f"unknown AST node {ast!r}")


def match_filter(
    df: DataFrame,
    ast: Node,
    content_col: str = "content",
    tokenizer: str | None = None,
    exact_runs: bool = False,
) -> DataFrame:
    """Strategy 1: boolean predicate over on-the-fly tokens.

    ``tokenizer`` must match the family the ``ast``'s words were split
    with (parse_query's ``tokenizer=``) — default family for both.

    ``exact_runs`` (expanding families only): fold in the exact
    run-boundary verify (:func:`exact_runs_column`) — FTS5-trigram-
    grade precision for gram-chain phrases, at the cost of one raw
    Contains per synthesized phrase (measured +10-25% on the scan
    predicate, CJK_FP_EVAL.json).

    The EXPANDING families (cjk_bigram, trigram) evaluate the tokenize
    expression ONCE per row by binding it to a lambda variable
    (``exists`` over a one-element array): codegen's subexpression
    elimination does not hoist the shared tokenize subtree across a
    short-circuiting multi-leaf boolean, and the n-gram expansion is
    expensive enough that a 3-leaf query paid ~2× (measured 0.54s →
    0.36s at sf0.1 for cjk). The ascii/unicode families keep the
    direct shape — their tokenize is cheap and the pinned plans stay
    byte-identical."""
    from sifts_spark.functions.text import gram_width

    toks = tokenize(F.col(content_col), tokenizer)
    if gram_width(tokenizer):
        # necessary-contains prefilter (r15): the expansion HOFs are
        # the expensive part of this predicate; ANDing a cheap raw
        # Contains necessary condition in front lets codegen's
        # short-circuit skip them on rows that cannot match — sound
        # because every matchable token/gram is a contiguous substring
        # of the lowered content (see necessary_contains)
        raw = F.lower(F.col(content_col))
        pre = necessary_contains(ast, raw)
        if exact_runs:
            return df.filter(
                pre
                & F.exists(
                    F.array(toks),
                    lambda t: exact_runs_column(ast, t, raw),
                )
            )
        return df.filter(
            pre & F.exists(F.array(toks), lambda t: ast.to_column(t))
        )
    from sifts_spark.queryparser import has_scan_only

    if has_scan_only(ast):
        # scan-only leaves (substring_scan queries) pay an exists()
        # HOF per leaf — the same cheap raw-Contains prefilter the
        # expanding families use short-circuits it on rows that
        # cannot match (sound: every token is a substring of the
        # lowered content, so a suffix/substring hit inside one
        # implies raw containment)
        return df.filter(
            necessary_contains(ast, F.lower(F.col(content_col)))
            & ast.to_column(toks)
        )
    return df.filter(ast.to_column(toks))


# ---------------------------------------------------------------------------
# Postings index
# ---------------------------------------------------------------------------


def build_postings(
    docs: DataFrame,
    id_col: str = "id",
    content_col: str = "content",
    positions: bool = False,
    max_positions: int | None = None,
    stop_df_ratio: float | None = None,
    tokenizer: str | None = None,
    with_df: bool = False,
) -> DataFrame:
    """documents → postings (term, id, tf, dl[, pos][, df]).

    ``tokenizer`` selects the token family (functions/text.py) — the
    store passes its collection's recorded family (the manifest's
    ``tokenizer`` field) so an index is never built under a different
    family than it is queried.

    ``dl`` (doc length in tokens) rides on every posting so scoring never
    joins back to the docs table. Map-side: explode is narrow; the single
    shuffle is the (term, id) partial-count aggregation.

    ``positions=True`` adds ``pos ARRAY<INT>`` — the term's 0-based
    token positions, sorted — which lets :func:`search_postings` verify
    phrase adjacency INDEX-SIDE instead of re-tokenizing every
    candidate's full content (the FTS5/Lucene positional-postings plan;
    the reference gets positions free from FTS5, core.py:460-462). At
    100 TB this is the difference between a candidate-pool-sized index
    read and joining the text bytes of every doc containing the
    phrase's (individually common) words.

    ``max_positions=k`` keeps only the FIRST k positions per posting
    (Lucene's indexing cap posture) to bound payload on stop-word-heavy
    terms. Truncation is detectable downstream (``size(pos) < tf``), so
    adjacency stays SOUND: a match found inside the kept prefix is
    definite, an exhausted prefix falls back to content verification —
    never a silently dropped match.

    ``stop_df_ratio=r`` (r16; positional layouts) drops the POSITION
    arrays — not the postings — of every term whose document frequency
    exceeds ``r x N``: the stop grams of an expanding family (each
    script's "the"/"ing" trigrams) carry the least information and the
    most sidecar bytes (positions are tf-proportional and high-df
    terms are high-tf). The term keeps candidate fetch and exact
    BM25 tf/df; only its ADJACENCY evidence degrades, through the SAME
    truncation-detect machinery as ``max_positions`` (an emptied array
    reads ``size(pos) < tf`` → the 3-valued evaluator marks affected
    phrase candidates ``_pending`` and the caller's content verify
    applies exact semantics — no stop-list sidecar needed at query
    time, and negation stays sound under the Kleene duals). Lucene's
    per-field positions-off posture, applied per-term by df. The
    threshold joins as a broadcast 1-row N so the build stays one lazy
    plan; the per-term df is the ``df`` window count described next.

    ``with_df=True`` keeps ``df INT`` on every row: the number of input
    docs containing the row's term (a window count over the grouped
    ``(term, id)`` frame). It is the index's document frequency only
    when ``docs`` is the whole corpus with one row per id; the store
    keeps it on a full fold's sidecar, where :func:`search_postings`
    then reads it instead of aggregating df per query. Whenever df is
    counted (``with_df`` or ``stop_df_ratio``), the exploded tokens are
    partitioned by ``term`` once, so the ``(term, id, dl)`` aggregate
    and the df window share one shuffle.

    Scope: a FULL-index build knob. The store's incremental postings
    maintenance builds per-append-batch postings, where df would be
    batch-local — a globally-common gram can be batch-rare and vice
    versa, so per-batch pruning would mis-prune; pass it to offline
    builds (or a full-fold rebuild), not through Collection appends.
    """
    if stop_df_ratio is not None and not positions:
        # the knob prunes POSITION arrays; on a positions-free build
        # there is nothing to prune — silently ignoring it would let a
        # caller believe the layout is df-pruned (loud-failure posture,
        # as resolve_tokenizer)
        raise ValueError(
            "stop_df_ratio prunes position arrays and requires "
            "positions=True (a positions-free build has no positions "
            "to prune)"
        )
    toks = docs.select(
        F.col(id_col).alias("id"),
        tokenize(F.col(content_col), tokenizer).alias("tokens"),
    ).withColumn("dl", F.size("tokens"))
    if positions:
        exploded = toks.select(
            "id", "dl", F.posexplode("tokens").alias("p", "term")
        )
        aggs = [
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list(F.col("p").cast("int"))).alias("pos"),
        ]
    else:
        exploded = toks.select("id", "dl", F.explode("tokens").alias("term"))
        aggs = [F.count(F.lit(1)).alias("tf")]
    count_df = with_df or stop_df_ratio is not None
    if count_df:
        # one shuffle: partitioned by term, the (term, id, dl) aggregate
        # and the df window below need no second exchange
        exploded = exploded.repartition("term")
    out = exploded.groupBy("term", "id", "dl").agg(*aggs)
    if max_positions is not None:
        out = out.withColumn("pos", F.slice("pos", 1, int(max_positions)))
    if count_df:
        from pyspark.sql import Window

        # whole-partition frame; ordered by id so the window's (term, id)
        # sort also serves the store's sortWithinPartitions("term", "id")
        # sidecar write, which then plans no second sort
        per_term = (
            Window.partitionBy("term")
            .orderBy("id")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        out = out.withColumn("df", F.count(F.lit(1)).over(per_term).cast("int"))
    if stop_df_ratio is not None:
        n1 = toks.agg(F.count(F.lit(1)).cast("double").alias("_n"))
        out = (
            out.join(F.broadcast(n1))
            .withColumn(
                "pos",
                F.when(
                    F.col("df") <= F.lit(float(stop_df_ratio)) * F.col("_n"),
                    F.col("pos"),
                ).otherwise(F.array().cast("array<int>")),
            )
            .drop("_n")
        )
    return out if with_df else out.drop("df")


def write_postings(postings: DataFrame, path: str) -> None:
    """Persist postings sorted by term → parquet min/max row-group
    skipping makes a term lookup an index probe, not a scan (the GIN/FTS5
    replacement, SURVEY §4.2). A parquet bloom filter on ``term`` covers
    the case range stats can't: a rare term inside a wide row group —
    the reader drops the group on a definite bloom miss."""
    postings.repartitionByRange(F.col("term")).sortWithinPartitions(
        "term", "id"
    ).write.mode("overwrite").option(
        "parquet.bloom.filter.enabled#term", "true"
    ).parquet(path)


def _collect_leaves(ast: Node, negative: bool = False) -> list:
    """[(leaf, negative)] — negative-position leaves (under an
    ``AndNot`` right side) participate in candidate fetch and the tag
    set (the exclusion must see them) but never in BM25 scoring: a
    surviving doc must not rank HIGHER for containing more of the
    words the user excluded (reachable via the negated-phrase
    prefilter drop, where scattered excluded words legitimately
    survive)."""
    if isinstance(ast, (Term, Prefix, Suffix, Substring, Fuzzy)):
        return [(ast, negative)]
    if isinstance(ast, Phrase):
        # the postings index carries no positions: a phrase's candidate
        # set is the AND of its words (a superset); the caller verifies
        # adjacency on the joined content (collection.py) — the
        # Lucene-without-positions plan
        return [(Term(w), negative) for w in ast.words]
    if isinstance(ast, (And, Or)):
        return _collect_leaves(ast.left, negative) + _collect_leaves(
            ast.right, negative
        )
    if isinstance(ast, AndNot):
        return _collect_leaves(ast.left, negative) + _collect_leaves(
            ast.right, True
        )
    raise TypeError(f"unknown AST node {ast!r}")


def _leaf_tag(leaf: Node) -> str:
    # '*' cannot occur inside a stored token (a tokenizer delimiter in
    # every family), so star-decorated tags never collide with Terms
    if isinstance(leaf, Term):
        return leaf.word
    if isinstance(leaf, Prefix):
        return leaf.prefix + "*"
    if isinstance(leaf, Suffix):
        return "*" + leaf.suffix
    if isinstance(leaf, Fuzzy):
        return f"{leaf.word}~{leaf.dist}"
    return "*" + leaf.sub + "*"  # Substring


def _leaf_cond(leaf: Node, term: Column) -> Column:
    if isinstance(leaf, Term):
        return term == leaf.word
    if isinstance(leaf, Prefix):
        return term.startswith(leaf.prefix)
    # Suffix/Substring (r16): the term DICTIONARY answers a substring
    # ask exactly — token-granular semantics identical to the scan
    # predicate's exists() — but unlike equality/startswith these
    # conds are NOT range-prunable, so the index probe degrades to a
    # postings term-column scan (sorted+dict-encoded parquet: still
    # index bytes, not corpus bytes, and no per-doc re-tokenization —
    # Lucene's automaton-over-term-dictionary posture)
    if isinstance(leaf, Suffix):
        return term.endswith(leaf.suffix)
    if isinstance(leaf, Fuzzy):
        # fuzzy (r16): whole-token edit distance over the term
        # dictionary — same non-prunable term-column-scan class as
        # Suffix/Substring (Lucene's fuzzy automaton posture)
        return F.levenshtein(term, F.lit(leaf.word)) <= F.lit(leaf.dist)
    return term.contains(leaf.sub)  # Substring


def _retag(ast: Node) -> Node:
    """Rewrite Prefix leaves to Terms over their synthetic ``p*`` tag so
    the original AST evaluates directly on the per-id matched-tag set."""
    if isinstance(ast, Term):
        return ast
    if isinstance(ast, (Prefix, Suffix, Substring, Fuzzy)):
        return Term(_leaf_tag(ast))
    if isinstance(ast, Phrase):
        # over the tag set a phrase degrades to all-words-present; the
        # adjacency half of its semantics is the caller's content verify
        node: Node = Term(ast.words[0])
        for w in ast.words[1:]:
            node = And(node, Term(w))
        return node
    if isinstance(ast, And):
        return And(_retag(ast.left), _retag(ast.right))
    if isinstance(ast, Or):
        return Or(_retag(ast.left), _retag(ast.right))
    if isinstance(ast, AndNot):
        # a Phrase under negation cannot be excluded from the tag set
        # (all-words-present over-approximates the phrase, and negating
        # an over-approximation UNDER-approximates — real matches would
        # be dropped before the content verify). Drop the negation from
        # the prefilter instead: candidates stay a superset, and the
        # caller's has_phrase content verify applies the exact
        # semantics.
        if has_phrase(ast.right):
            return _retag(ast.left)
        return AndNot(_retag(ast.left), _retag(ast.right))
    raise TypeError(f"unknown AST node {ast!r}")


def _phrase_words(ast: Node) -> set:
    """All words appearing inside Phrase nodes (the tags whose position
    arrays the 3-valued evaluator needs)."""
    if isinstance(ast, Phrase):
        return set(ast.words)
    if isinstance(ast, (And, Or, AndNot)):
        return _phrase_words(ast.left) | _phrase_words(ast.right)
    return set()


def _phrase_3v(phrase: Phrase, tags: Column, posmap: Column):
    """(optimistic, pessimistic) truth of a phrase from per-word
    position arrays — Kleene three-valued logic flattened to two
    booleans (opt: unknown→true; pes: unknown→false).

    * found (definite TRUE): every word present AND an adjacency run
      exists among the AVAILABLE positions — positions present are
      real, so a hit inside a truncated prefix is still definite.
    * definite FALSE: a word absent (postings are complete w.r.t.
      WORDS — only positions truncate), or all involved position
      arrays complete (``size(pos) == tf``) and no run found.
    * unknown: no run found but some involved array truncated or null
      (pre-positions batch) — the caller content-verifies these.
    """
    words = phrase.words
    present = None
    for w in set(words):
        c = F.array_contains(tags, w)
        present = c if present is None else (present & c)
    entry = {w: F.element_at(posmap, w) for w in set(words)}

    def run_at(p):
        c = None
        for i, w in enumerate(words[1:], 1):
            step = F.coalesce(
                F.array_contains(entry[w]["pos"], p + F.lit(i)), F.lit(False)
            )
            c = step if c is None else (c & step)
        return c if c is not None else F.lit(True)

    found = present & F.coalesce(
        F.exists(entry[words[0]]["pos"], run_at), F.lit(False)
    )
    complete = None
    for w in set(words):
        cc = F.coalesce(
            F.size(entry[w]["pos"]) == entry[w]["tf"], F.lit(False)
        )
        complete = cc if complete is None else (complete & cc)
    return found | (present & ~complete), found


def _eval_3v(ast: Node, tags: Column, posmap: Column):
    """Three-valued evaluation of the full AST over the per-doc tag set
    + phrase-word position map → (optimistic, pessimistic) Columns.
    Non-phrase leaves are definite (opt == pes); the standard Kleene
    duals propagate: NOT swaps the pair, AND/OR distribute."""
    if isinstance(ast, Term):
        c = F.array_contains(tags, ast.word)
        return c, c
    if isinstance(ast, (Prefix, Suffix, Substring, Fuzzy)):
        c = F.array_contains(tags, _leaf_tag(ast))
        return c, c
    if isinstance(ast, Phrase):
        return _phrase_3v(ast, tags, posmap)
    if isinstance(ast, (And, Or)):
        lo, lp = _eval_3v(ast.left, tags, posmap)
        ro, rp = _eval_3v(ast.right, tags, posmap)
        if isinstance(ast, And):
            return lo & ro, lp & rp
        return lo | ro, lp | rp
    if isinstance(ast, AndNot):
        lo, lp = _eval_3v(ast.left, tags, posmap)
        ro, rp = _eval_3v(ast.right, tags, posmap)
        return lo & ~rp, lp & ~ro
    raise TypeError(f"unknown AST node {ast!r}")


def corpus_stats(postings: DataFrame) -> tuple[int, float]:
    """(N, avgdl) from postings alone (distinct ids / mean dl).

    Given a collection's live postings (``DocumentStore.read_postings``)
    this is BM25's corpus statistics for that snapshot.

    **Definition (decided, pinned by test):** ``N`` counts live docs
    with ≥1 token — a doc that produced no postings is outside both
    ``N`` and ``avgdl``. FTS5 counts every table row instead; we prefer
    the tokenized-docs definition because a doc that can never match
    any term should not dilute the IDF of the docs that can, and
    because it keeps the engine value-identical to its DuckDB oracle
    twin (which derives stats from the same postings). The difference
    only nudges BM25 magnitudes on corpora with empty docs; ranking
    ORDER is unaffected.

    One global aggregate, no shuffle by ``id``: :func:`build_postings`
    counts each of a doc's ``dl`` tokens in exactly one of its rows, so
    a doc's ``tf`` values sum to its ``dl`` and its ``tf / dl`` values
    sum to 1. ``N`` is the rounded sum of ``tf / dl`` (exact while the
    double sum's rounding error stays below 0.5: rows × 2⁻⁵³ × N, about
    1e-2 at 1e8 rows and 1e6 docs), and ``avgdl`` is the exact token
    total over ``N``, the same double ``avg(dl)`` over the docs gives."""
    row = postings.agg(
        F.sum("tf").alias("tokens"), F.sum(F.col("tf") / F.col("dl")).alias("n")
    ).first()
    n = round(row["n"] or 0.0)
    return n, (row["tokens"] / n if n else 0.0)


def search_postings(
    postings: DataFrame,
    ast: Node,
    n_docs: int | None = None,
    avgdl: float | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    pool: "str | list | None" = None,
) -> DataFrame:
    """Boolean match + BM25 over the postings index → (id, rank).

    **Precondition:** ``postings`` holds at most one row per
    ``(term, id)`` — one version per doc, as :func:`build_postings`
    (grouped by ``(term, id, dl)``) and the store's live-postings read
    produce.

    Plan shape, two cases:

    * **Stored df, whole-term leaves** — ``postings`` carries a ``df``
      column (a full fold's sidecar, see :func:`build_postings`
      ``with_df``) and every leaf is a :class:`Term` (phrase words
      count). The scan is filtered to the leaf terms (pushed-down
      equality predicates → row-group skipping) and each row's BM25
      contribution comes from its own ``df``.
    * **Everything else** — prefix, suffix, substring or fuzzy leaves,
      or postings without ``df``. The filtered scan is grouped by
      ``(id, tag)`` (a prefix leaf sums tf over every term it matches),
      and df per tag is counted from that pool and broadcast back.
      ``Suffix``/``Substring`` conds (the ``substring_scan`` grants,
      r16) are not range-prunable, so the probe degrades to a postings
      TERM-COLUMN scan for that disjunct (sorted, dict-encoded: index
      bytes, never corpus bytes, no per-doc re-tokenization — Lucene's
      term-dictionary-automaton posture).

    A single-``Term`` AST then has one row per id, its rank. Any other
    AST takes one ``groupBy(id)`` that collects the matched tags, sums
    the contributions and, for phrases on a positional index, keys the
    rows' ``pos`` by tag; the AST is re-evaluated on that tag set.
    Candidate-proportional, corpus-independent. A doc's rank sums its
    per-tag contributions, three or more of them in tag order, so equal
    inputs give bit-equal ranks whatever the layout or shuffle order.

    Corpus stats (N, avgdl) join in as a broadcast 1-row DataFrame when
    not passed — the whole query stays ONE lazy plan (no driver-side
    stats action). Pass precomputed stats when the index layer caches
    them (a real deployment stores stats beside the postings).

    ``pool`` controls the candidate-pool persist of the second case
    (the plan reads the ``(id, tag)`` pool twice — the per-tag df
    aggregate and the scoring join); the stored-df case reads its rows
    once and persists nothing:

    * ``None`` (default) — no persist: the filtered-postings subtree is
      duplicated in the plan, i.e. TWO pushed-down index probes +
      candidate-pool aggregations. Measured at sf0.1 AND the 10×
      ``.scale/sf1`` dir (r8): two probes beat one probe + a pool
      persist at both scales (0.28s vs 0.60s; 0.45s vs 0.66s
      MEMORY_ONLY) — the probe is term-selective row-group-skipped I/O
      while a persist pays materialization + cache-manager traffic, and
      both sides grow with the same candidate-proportional factor, so
      the ranking holds under scale-up. Catalyst does NOT reuse the
      exchange (column pruning makes the two subtrees structurally
      different), so this really is a double probe — deliberately.
    * a ``list`` — persist and append the handle; the CALLER must
      ``unpersist()`` after its action, so a long-lived session never
      accumulates unreleasable cache entries (Spark's CacheManager
      holds InMemoryRelations strongly until an explicit unpersist).
      Right when the result feeds several separate actions.
    * ``"track"`` — persist via the session cache registry;
      a pipeline driver frees it with ``caching.release_all()``.

    **Phrases.** Over a positions-free index (no ``pos`` column) the
    result is the all-words-present SUPERSET; the caller verifies
    adjacency on joined content. When the index carries ``pos``
    (:func:`build_postings` ``positions=True``) adjacency is verified
    INDEX-SIDE and the result gains a boolean ``_pending`` column:
    False rows are exact matches (nothing left to verify — no content
    join), True rows are inconclusive (position array truncated by
    ``max_positions``, or a pre-positions batch read as null) and need
    the caller's content verify. A fully-positional uncapped index
    yields ``_pending = False`` everywhere, including EXACT index-side
    exclusion for negated phrases (which the positions-free prefilter
    must over-approximate).
    """
    # unique by tag (order-preserving): a word appearing twice — e.g.
    # standalone AND inside a phrase — must score once, not double its
    # tf through two identical tag entries. A tag that appears in BOTH
    # polarities (its word standalone and inside a negation) scores: the
    # positive occurrence earns it.
    signed: dict = {}
    for leaf, neg in _collect_leaves(ast):
        tag = _leaf_tag(leaf)
        if tag not in signed:
            signed[tag] = (leaf, neg)
        elif not neg:
            signed[tag] = (leaf, False)
    leaves = [leaf for leaf, _ in signed.values()]
    positive_tags = [t for t, (_, neg) in signed.items() if not neg]
    term = F.col("term")
    cond = None
    for leaf in leaves:
        c = _leaf_cond(leaf, term)
        cond = c if cond is None else (cond | c)
    # Positions ride along ONLY when a phrase needs them on a positional
    # index, and only for phrase-word tags: a stop-word tag outside any
    # phrase (`the AND "hash join"`) would otherwise drag its tf-sized
    # array — the exact payload max_positions exists to bound — through
    # the aggregations just to go unused. Column pruning keeps ``pos``
    # out of the scan of every other query.
    use_positions = "pos" in postings.columns and has_phrase(ast)
    pwords = sorted(_phrase_words(ast))
    pre = postings.filter(cond)
    if "df" in postings.columns and all(isinstance(x, Term) for x in leaves):
        # Stored df, whole-term leaves: each (term, id) row is already
        # one (id, tag) with its tag = its term (distinct words, one
        # leaf each), so the rows score as they are read.
        rows = pre.withColumn("tag", term)
        if use_positions:
            rows = rows.withColumn(
                "pos", F.when(F.col("tag").isin(pwords), F.col("pos"))
            )
    else:
        # A posting may satisfy SEVERAL leaves (e.g. query `mer* merge`
        # and term "merge") — emit one row per (posting, matched leaf)
        # so each query leaf scores independently, like FTS engines do.
        tags = F.array_compact(
            F.array(
                *[
                    F.when(_leaf_cond(leaf, term), F.lit(_leaf_tag(leaf)))
                    for leaf in leaves
                ]
            )
        )
        # Per (id, leaf): tf sums over every term the leaf matches (a
        # prefix leaf can match many terms in one doc; a plain term
        # exactly one). The plan reads this candidate pool twice — the
        # df aggregate below and the scoring join — see ``pool``.
        if use_positions:
            # collect_list skips the nulled non-phrase arrays, so those
            # tags aggregate an empty (unused) array
            matched = (
                pre.select(
                    "id", "tf", "dl", "pos", F.explode(tags).alias("tag")
                )
                .withColumn(
                    "pos", F.when(F.col("tag").isin(pwords), F.col("pos"))
                )
                .groupBy("id", "tag")
                .agg(
                    F.sum("tf").alias("tf"),
                    F.first("dl").alias("dl"),
                    F.flatten(F.collect_list("pos")).alias("pos"),
                )
            )
        else:
            matched = (
                pre.select("id", "tf", "dl", F.explode(tags).alias("tag"))
                .groupBy("id", "tag")
                .agg(F.sum("tf").alias("tf"), F.first("dl").alias("dl"))
            )
        if pool == "track":
            from sifts_spark.caching import track

            matched = track(matched)
        elif isinstance(pool, list):
            matched = matched.persist()
            pool.append(matched)
        # df per leaf-tag (document frequency for idf) — small,
        # broadcast. ``matched`` is unique per (id, tag), so a plain
        # count equals countDistinct("id") without the distinct
        # aggregate's extra HashAggregate pair and exchange.
        dfreq = matched.groupBy("tag").agg(F.count("id").alias("df"))
        rows = matched.join(F.broadcast(dfreq), "tag")

    if n_docs is not None and avgdl is not None:
        n_col, avgdl_col = F.lit(float(n_docs)), F.lit(max(avgdl, 1e-9))
    else:
        stats = (
            postings.groupBy("id")
            .agg(F.first("dl").alias("dl"))
            .agg(
                F.count(F.lit(1)).cast("double").alias("_n"),
                F.avg("dl").alias("_avgdl"),
            )
        )
        n_col, avgdl_col = F.col("_n"), F.col("_avgdl")
        rows = rows.crossJoin(F.broadcast(stats))

    idf = F.log((n_col - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl_col)
    contrib = idf * (F.col("tf") * (k1 + 1.0)) / denom
    # negative-position tags contribute nothing to rank (see
    # _collect_leaves); they remain in the tag set for exclusion eval
    contrib = F.when(
        F.col("tag").isin(positive_tags), contrib
    ).otherwise(F.lit(0.0))

    if isinstance(ast, Term):
        # one tag, so one row per id: the row's contribution is the rank
        return rows.select("id", contrib.alias("rank"))
    if len(positive_tags) > 2:
        # Three or more contributions are summed in tag order, so a rank
        # never depends on shuffle arrival order. IEEE addition is
        # commutative, so one or two (plus any 0.0 of a negative tag)
        # sum the same in any order and skip the sort.
        entries = F.collect_list(F.struct(F.col("tag"), contrib.alias("c")))
        rank = F.aggregate(
            F.array_sort(entries), F.lit(0.0), lambda acc, e: acc + e["c"]
        )
    else:
        rank = F.sum(contrib)

    if use_positions:
        # Per-doc map word → (pos, tf) for PHRASE words only (keeps the
        # aggregation buffer phrase-sized, not leaf-count-sized); the
        # 3-valued AST evaluation then filters exactly index-side,
        # flagging only truncation-inconclusive docs as ``_pending``.
        scored = rows.groupBy("id").agg(
            F.collect_set("tag").alias("_tags"),
            rank.alias("rank"),
            F.map_from_entries(
                F.collect_list(
                    F.when(
                        F.col("tag").isin(pwords),
                        F.struct(
                            F.col("tag").alias("key"),
                            F.struct(
                                F.col("pos").alias("pos"),
                                F.col("tf").alias("tf"),
                            ).alias("value"),
                        ),
                    )
                )
            ).alias("_posmap"),
        )
        opt, pes = _eval_3v(ast, F.col("_tags"), F.col("_posmap"))
        return (
            scored.filter(opt)
            .withColumn("_pending", ~pes)
            .drop("_tags", "_posmap")
        )
    scored = rows.groupBy("id").agg(
        F.collect_set("tag").alias("_tags"),
        rank.alias("rank"),
    )
    tagged_ast = _retag(ast)
    return scored.filter(tagged_ast.to_column(F.col("_tags"))).drop("_tags")
