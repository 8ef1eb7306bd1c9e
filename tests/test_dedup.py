"""Dedup operator behavior: blocking shapes, skew guards, clustering.

The value-level semantics of these operators are pinned by the DuckDB
oracle (plans/catalog.py entries); these tests pin the *plan shapes*
that matter at 100 TB — no cartesian joins, cell blocking by default,
skew caps actually dropping hot buckets — which the oracle cannot see.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sifts_spark.caching import release_all
from sifts_spark.operators import dedup as D
from sifts_spark.operators.vector_search import deterministic_centroids


@pytest.fixture(autouse=True)
def _release_caches():
    yield
    release_all()


def _vectors(spark):
    # Two tight clusters around orthogonal axes + one outlier.
    rows = [
        (0, [1.0, 0.0, 0.0], "a"),
        (1, [0.99, 0.01, 0.0], "a"),
        (2, [0.98, -0.01, 0.0], "b"),
        (3, [0.0, 1.0, 0.0], "b"),
        (4, [0.01, 0.99, 0.0], "a"),
        (5, [0.0, 0.0, 1.0], "c"),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )


def test_embedding_dedup_default_cell_blocking_finds_cluster_pairs(spark):
    vecs = _vectors(spark)
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "cell_id long, centroid array<double>",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_dup_pairs(
            vecs, centroids=cents, threshold=0.99
        ).collect()
    }
    # within-cell near-identical pairs found; cross-cell pairs never compared
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert (3, 4) in pairs
    assert all(a != 5 and b != 5 for a, b in pairs)


def test_embedding_dedup_default_plan_is_equi_join_not_cartesian(spark):
    vecs = _vectors(spark)
    df = D.embedding_dup_pairs(vecs, threshold=0.5)  # default: IVF cells
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the join must be keyed on the cell id (blk), i.e. candidate-
    # proportional, not corpus²
    assert "blk" in plan


def test_deterministic_centroids_lowest_ids(spark):
    vecs = _vectors(spark)
    cents = deterministic_centroids(vecs, n_cells=3).collect()
    assert [r["cell_id"] for r in cents] == [0, 1, 2]


def test_block_col_override_still_works(spark):
    vecs = _vectors(spark)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_dup_pairs(
            vecs, block_col="label", threshold=0.99
        ).collect()
    }
    # 0/1 share label 'a'; 0/2 near-identical but different labels → missed
    assert (0, 1) in pairs
    assert (0, 2) not in pairs


def test_lsh_skew_guard_drops_degenerate_bucket(spark, caplog):
    # A corpus of identical docs: every band bucket holds every doc —
    # quadratic without the cap. With the cap the job completes and
    # emits zero candidates from the dropped buckets, loudly.
    docs = spark.createDataFrame(
        [(i, "the same tiny document text repeated") for i in range(30)],
        "doc_id long, text string",
    )
    import logging

    with caplog.at_level(logging.WARNING, logger="sifts_spark.operators.dedup"):
        out = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5, max_bucket_size=10)
        assert out.count() == 0
        reports = D.report_dropped_buckets()  # post-action inspection
    assert any("dropped" in r.message for r in caplog.records)
    assert any(r["dropped_rows"] > 0 for r in reports)
    # without the cap the same corpus yields all 30*29/2 pairs
    out2 = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5, max_bucket_size=None)
    assert out2.count() == 30 * 29 // 2


def test_skew_guard_on_simhash_and_ngram_degenerate_corpus(spark, caplog):
    """The shared cap (cap_buckets) must bound candidate generation on
    ALL bucketed self-joins, not just MinHash: hundreds of identical docs
    (every chunk value / rarest shingle identical) plus empty docs, the
    two degenerate shapes that collapse a corpus onto one bucket."""
    import logging

    rows = [(i, "the exact same templated document body") for i in range(300)]
    rows += [(1000 + i, "") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    with caplog.at_level(logging.WARNING, logger="sifts_spark.operators.dedup"):
        assert D.simhash_pairs(docs, max_bucket_size=50).count() == 0
        D.report_dropped_buckets()
        assert any(
            "simhash_pairs: dropped" in r.message for r in caplog.records
        )
        caplog.clear()
        assert D.ngram_jaccard_pairs(docs, max_bucket_size=50).count() == 0
        D.report_dropped_buckets()
        assert any(
            "ngram_jaccard_pairs: dropped" in r.message for r in caplog.records
        )
    release_all()

    # Uncapped, the identical docs DO pair (recall intact when buckets
    # are sane-sized ... here we keep it small enough to be cheap):
    small = spark.createDataFrame(rows[:20], "doc_id long, text string")
    assert D.simhash_pairs(small, max_bucket_size=None).count() == 20 * 19 // 2
    assert (
        D.ngram_jaccard_pairs(small, max_bucket_size=None).count()
        == 20 * 19 // 2
    )
    release_all()


def test_minhash_incremental_equals_full_corpus_run(spark, tmp_path):
    """The incremental path's contract: pairs(base ∪ new) ==
    pairs(base) ∪ incremental(new, index(base)) under the same params,
    with the persisted sketch index surviving a parquet round-trip —
    so a daily increment never re-sketches the corpus."""
    import os

    from sifts_spark.sources.tables import load_table

    sf = os.environ.get("SPARK_GRAFT_SF_TEST_DIR", "/root/testdata/sf0.001")
    docs = load_table(spark, sf, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)

    # the index persists (the real deployment shape) and reads back
    idx_dir = str(tmp_path / "mh_index")
    D.minhash_banded_sketches(base).write.parquet(idx_dir)
    index = spark.read.parquet(idx_dir)

    def pairset(df):
        return {(r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()}

    full = pairset(D.minhash_lsh_pairs(docs))
    base_pairs = pairset(D.minhash_lsh_pairs(base))
    inc = pairset(D.minhash_lsh_pairs_incremental(new, index))

    assert inc, "increment produced no pairs — test data too clean?"
    assert base_pairs.isdisjoint(inc)     # every inc pair involves a new doc
    assert base_pairs | inc == full       # exact reconstruction

    # cross-only: subset of inc with exactly one side in the new batch
    cross = pairset(
        D.minhash_lsh_pairs_incremental(new, index, include_new_new=False)
    )
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    assert cross <= inc
    assert all((a in new_ids) != (b in new_ids) for a, b, _ in cross)
    assert all((a in new_ids) or (b in new_ids) for a, b, _ in inc)


def test_minhash_incremental_prunes_index_to_touched_buckets(spark):
    """Scale shape: the candidate join's index side must be semi-join
    pruned to the buckets the new batch touches BEFORE the shuffle —
    the plan reads the index but joins only touched (band, key)s."""
    import os

    from sifts_spark.sources.tables import load_table

    sf = os.environ.get("SPARK_GRAFT_SF_TEST_DIR", "/root/testdata/sf0.001")
    docs = load_table(spark, sf, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0).limit(3)
    index = D.minhash_banded_sketches(base)
    plan = (
        D.minhash_lsh_pairs_incremental(new, index)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" in plan, "index pruning semi-join missing from the plan"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_incremental_origin_flags_by_index_membership(spark):
    """r7 ADVICE: a re-sent accepted id whose new content near-dups
    ANOTHER accepted (index-only) doc must flag BOTH sides not-new —
    origin comes from id membership in the index, not from which
    candidate rows survived the index-x-index exclusion (those are all
    new-side rows for this pair, and a row-wise min would wrongly
    classify the re-send as a new challenger)."""
    base_text = " ".join(f"tok{i}" for i in range(40))
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id string, text string"
    )
    base = mk([("acc1", base_text), ("acc2", base_text + " tail")])
    index = D.minhash_banded_sketches(base)
    # re-send acc1 with slightly changed content, still near-dup of acc2
    new = mk([("acc1", base_text + " changed")])
    pairs = D.minhash_lsh_pairs_incremental(
        new, index, include_origin=True, jaccard_threshold=0.5
    ).collect()
    flags = {(r["id_a"], r["id_b"]): (r["a_new"], r["b_new"]) for r in pairs}
    assert ("acc1", "acc2") in flags
    assert flags[("acc1", "acc2")] == (False, False)  # both accepted


def test_incremental_resent_id_scores_against_new_sketch(spark):
    """r7 ADVICE: a re-sent id with CHANGED content contributes its old
    (index) and new (batch) sketches to the same pair; the verify step
    must deterministically score the NEW sketch — the content being
    admitted. Pin: the incremental pair's jaccard equals the full
    operator's value for (new content, partner), not the old
    content's."""
    T = " ".join(f"w{i}" for i in range(40))
    old = " ".join(f"z{i}" for i in range(40))  # unrelated to T
    newc = T + " extra"                          # near-dups the partner
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id string, text string"
    )
    index = D.minhash_banded_sketches(mk([("acc1", old), ("p", T)]))
    inc = D.minhash_lsh_pairs_incremental(
        mk([("acc1", newc)]), index, include_origin=True
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in inc}
    ref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(mk([("acc1", newc), ("p", T)])).collect()
    }
    assert ("acc1", "p") in got
    assert got[("acc1", "p")] == ref[("acc1", "p")]


def test_cap_buckets_schedules_no_job_at_plan_time(spark):
    """The skew guard is fully lazy: building a capped candidate plan
    schedules ZERO Spark jobs (the hot-bucket aggregation runs inside
    the caller's action), and a cap that nothing exceeds yields pairs
    identical to the uncapped plan."""
    rows = [(i, f"document number {i} about topic {i % 3} with words") for i in range(24)]
    rows += [(100 + i, "the same tiny document text repeated") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.count()  # materialize input first so later job counts are pure

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    capped = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5,
                                 max_bucket_size=10_000)
    sim = D.simhash_pairs(docs, max_bucket_size=10_000)
    after = set(tracker.getJobIdsForGroup(None))
    assert after == before, "candidate-plan construction ran Spark jobs"

    uncapped = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5,
                                   max_bucket_size=None)
    key = lambda r: (r["id_a"], r["id_b"])
    assert sorted(map(key, capped.collect())) == sorted(
        map(key, uncapped.collect())
    )
    sim.count()  # the lazy guard executes fine on the simhash path too
    release_all()


def test_minhash_sketches_computed_once_per_query(spark):
    """r11 verdict item 1 plan audit: the tracked persist must dedupe
    the banded self-join's subtrees — the sketch kernel (ArrowEvalPython)
    appears EXACTLY ONCE in the formatted plan (a single node id, inside
    the InMemoryRelation definition both join sides reuse), never
    re-inlined per side. Without the persist Catalyst re-evaluates the
    whole md5 signature subtree on each side (measured 150s → ~5s)."""
    import contextlib
    import io
    import re

    rows = [(i, f"document number {i} about topic {i % 3} with words")
            for i in range(24)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]
    # formatted explain assigns reused subtrees the SAME node id
    sketch_ids = set(re.findall(r"ArrowEvalPython \((\d+)\)", tree))
    assert len(sketch_ids) == 1, tree
    # both self-join branches read the cache, not the parquet source
    assert tree.count("InMemoryTableScan") >= 2, tree
    release_all()


def test_minhash_band_join_exchanges_carry_no_shingles(spark):
    """r14 (r13 verdict "what's wrong" #2): the band self-join must
    exchange only (id, band, key) — each doc's full shingle array used
    to cross it `bands` times per side, the dominant exchange bytes of
    an unbucketed first build. Shingles now enter the plan only through
    the one-row-per-doc sketch-cache scans feeding the candidate
    id-joins (r18: the pre-explode ``(id, sh, sig)`` cache replaced the
    band=0 slice of the exploded frame as the sidecar source)."""
    import contextlib
    import io
    import re

    rows = [(i, f"document number {i} about topic {i % 3} with words")
            for i in range(24)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain("formatted")
    details = buf.getvalue()
    band_exchanges = [
        b for b in details.split("\n\n")
        if re.match(r"\(\d+\) Exchange", b)
        and "hashpartitioning(band" in b
    ]
    assert band_exchanges, details  # the band-key shuffle exists
    for b in band_exchanges:
        assert not re.search(r"\bsh#", b), b
    # the shingle sidecar is a column-pruned (id, sh) scan of the
    # one-row-per-doc sketch cache, never an exchange
    assert re.search(
        r"\(\d+\) InMemoryTableScan\s*\nOutput \[2\]: \[id#\d+L?, sh#\d+\]",
        details,
    ), details
    release_all()


# ------------------------------------------------- semantic dedup (SemDeDup)


class TestSemDeDup:
    def _vectors(self, spark):
        # two tight groups + two singletons, in well-separated regions
        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),     # dup of 1
            (3, [0.998, 0.02, 0.001]),   # dup of 1/2
            (10, [0.0, 1.0, 0.0]),
            (11, [0.0, 0.999, 0.02]),    # dup of 10
            (20, [0.0, 0.0, 1.0]),       # singleton
            (21, [0.5, 0.5, 0.0]),       # singleton (below eps to all)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    def test_groups_and_keep_policy(self, spark):
        from sifts_spark.operators.dedup import semdedup

        cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])]
        out = semdedup(
            self._vectors(spark), centroids=cents, eps=0.99
        ).collect()
        rows = {r["id"]: r for r in out}
        assert set(rows) == {1, 2, 3, 10, 11, 20, 21}
        # one component for {1,2,3}, labeled by min id
        assert rows[1]["component"] == rows[2]["component"] == rows[3]["component"] == 1
        assert rows[10]["component"] == rows[11]["component"] == 10
        # exactly one kept per component
        assert sum(rows[i]["keep"] for i in (1, 2, 3)) == 1
        assert sum(rows[i]["keep"] for i in (10, 11)) == 1
        # singletons always keep
        assert rows[20]["keep"] and rows[21]["keep"]
        # the kept member is the one FARTHEST from its centroid
        grp = [rows[i] for i in (1, 2, 3)]
        kept = next(r for r in grp if r["keep"])
        assert kept["centroid_sim"] == min(r["centroid_sim"] for r in grp)

    def test_keep_rate_and_determinism(self, spark):
        from sifts_spark.operators.dedup import semdedup

        vecs = self._vectors(spark)
        a = sorted(map(tuple, semdedup(vecs, n_cells=3, eps=0.99).collect()))
        b = sorted(map(tuple, semdedup(vecs, n_cells=3, eps=0.99).collect()))
        assert a == b
        # eps=2.0: nothing can pair -> everything keeps
        all_keep = semdedup(vecs, n_cells=3, eps=2.0).collect()
        assert all(r["keep"] for r in all_keep)

    def test_agrees_with_pair_operator_on_grouping(self, spark):
        from sifts_spark.operators.dedup import embedding_dup_pairs, semdedup

        vecs = self._vectors(spark)
        cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])]
        pairs = embedding_dup_pairs(
            vecs, centroids=cents, threshold=0.99
        ).collect()
        dec = semdedup(vecs, centroids=cents, eps=0.99).collect()
        # every pair's two members share a component; drop count matches
        comp = {r["id"]: r["component"] for r in dec}
        for p in pairs:
            assert comp[p["id_a"]] == comp[p["id_b"]]
        n_dropped = sum(not r["keep"] for r in dec)
        n_in_groups = len({x for p in pairs for x in (p["id_a"], p["id_b"])})
        n_groups = len({comp[p["id_a"]] for p in pairs})
        assert n_dropped == n_in_groups - n_groups


def test_semdedup_null_embeddings_keep_trivially(spark):
    from sifts_spark.operators.dedup import semdedup

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.999, 0.01]),
        (3, None),           # un-comparable -> must still get a row
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["id"]: r for r in
           semdedup(vecs, centroids=[(0, [1.0, 0.0])], eps=0.99).collect()}
    assert set(out) == {1, 2, 3}
    assert out[3]["keep"] and out[3]["cell"] is None and out[3]["component"] == 3
    assert sum(out[i]["keep"] for i in (1, 2)) == 1


class TestDuplicateWeights:
    """SoftDedup-style downweighting: weight = cluster_size^-alpha over
    the connected-component clusters, singletons at 1.0, composable
    with the Gumbel weighted sampler."""

    def _fixture(self, spark):
        verts = spark.createDataFrame(
            [(x,) for x in "abcdef"], "id string"
        )
        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("d", "e")], "id_a string, id_b string"
        )
        return verts, pairs

    def test_weights_and_sizes(self, spark):
        from sifts_spark.operators.dedup import duplicate_weights

        verts, pairs = self._fixture(spark)
        got = {
            r["id"]: (r["cluster_id"], r["cluster_size"], r["weight"])
            for r in duplicate_weights(verts, pairs).collect()
        }
        assert got["a"] == ("a", 3, round(1 / 3, 6))
        assert got["b"] == ("a", 3, round(1 / 3, 6))
        assert got["c"] == ("a", 3, round(1 / 3, 6))
        assert got["d"] == ("d", 2, 0.5)
        assert got["e"] == ("d", 2, 0.5)
        assert got["f"] == ("f", 1, 1.0)  # singleton short-circuit
        # alpha=1: every cluster's aggregate contribution is exactly 1
        import collections

        agg = collections.defaultdict(float)
        for cid, _, w in got.values():
            agg[cid] += w
        assert all(abs(v - 1.0) < 1e-5 for v in agg.values())

    def test_alpha_interpolates(self, spark):
        from sifts_spark.operators.dedup import duplicate_weights

        verts, pairs = self._fixture(spark)
        got = {
            r["id"]: r["weight"]
            for r in duplicate_weights(verts, pairs, alpha=0.5).collect()
        }
        assert got["a"] == round(3 ** -0.5, 6)
        assert got["d"] == round(2 ** -0.5, 6)
        assert got["f"] == 1.0
        flat = {
            r["id"]: r["weight"]
            for r in duplicate_weights(verts, pairs, alpha=0.0).collect()
        }
        assert set(flat.values()) == {1.0}

    def test_composes_with_weighted_sample(self, spark):
        import math

        from sifts_spark.operators.classifier import weighted_sample
        from sifts_spark.operators.dedup import duplicate_weights

        # 30 singletons + one 10-member cluster: a weighted draw of 20
        # should mostly pick singletons (cluster members carry 1/10
        # weight each)
        verts = spark.createDataFrame(
            [(f"s{i}",) for i in range(30)]
            + [(f"c{i}",) for i in range(10)],
            "id string",
        )
        pairs = spark.createDataFrame(
            [(f"c{i}", f"c{i+1}") for i in range(9)],
            "id_a string, id_b string",
        )
        w = duplicate_weights(verts, pairs).withColumn(
            "log_weight", F.log("weight")
        )
        picked = {r["id"] for r in weighted_sample(w, 20).collect()}
        assert len(picked) == 20
        n_cluster = sum(1 for i in picked if i.startswith("c"))
        # expected cluster picks ~ 20 * (10*0.1) / (30 + 1) ≈ 0.6
        assert n_cluster <= 4


def test_untokenizable_docs_never_near_dup(spark):
    """r13 regression: the [^a-z0-9]+ tokenizer extracts NOTHING from
    non-Latin-script or punctuation-only content; the old zero-token
    whole-doc shingle fallback ([""]) gave every such doc an IDENTICAL
    one-element shingle set — Jaccard 1.0 between any two Russian
    documents, so near-dup dedup collapsed entire scripts to one
    survivor. Zero tokens now means zero shingles and a NULL band key:
    no candidates, no pairs, every such doc its own canonical."""
    rows = [
        (1, "и в не на что он как это по но они мы"),
        (2, "уже для вот меня только она было если"),
        (3, "και το να του με την από είναι που"),
        (4, "!!! ... ??? *** ---"),
        (5, "the quick brown fox jumps over the lazy dog"),
        (6, "the quick brown fox jumps over the lazy cat"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(5, 6)}, got  # only the real near-dup pair
    # ngram-jaccard blocking path: same invariant
    ng = D.ngram_jaccard_pairs(docs, shingle_size=3, threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in ng} == {(5, 6)}
    # clusters: every untokenizable doc is its own canonical
    clusters = D.duplicate_clusters(
        docs, D.minhash_lsh_pairs(docs, jaccard_threshold=0.5), id_col="doc_id"
    ).collect()
    cid = {r["id"]: r["cluster_id"] for r in clusters}
    assert cid[1] == 1 and cid[2] == 2 and cid[3] == 3 and cid[4] == 4
    release_all()


def test_duplicate_clusters_plans_its_pair_input_once(spark, jobs_of):
    """duplicate_clusters builds both edge directions from one
    projection of the pairs, so a MinHash pair frame (sketch → LSH →
    verify) is planned once: 18 jobs here, where a union of two
    projections of the same frame ran 24."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy dog tonight"),
         (3, "a quick brown fox jumps over the lazy dog tonight"),
         (4, "completely different words about tea and rivers")],
        "doc_id long, text string",
    )
    pairs = D.minhash_lsh_pairs(docs, num_hashes=16, bands=8, jaccard_threshold=0.5)
    verts = docs.select(F.col("doc_id").alias("id"))
    rows = []
    jobs = jobs_of(lambda: rows.extend(D.duplicate_clusters(verts, pairs).collect()))
    assert sorted((r["id"], r["cluster_id"]) for r in rows) == [
        (1, 1), (2, 1), (3, 1), (4, 4)
    ]
    assert jobs <= 18, jobs
    D.report_dropped_buckets()
    release_all()


def test_untokenizable_docs_excluded_from_simhash(spark):
    """r13 code-review fix: zero-token docs all vote the identical
    all-zero simhash — every pair of them read as hamming-0 near-dups.
    They are now excluded from fingerprinting (matching the DuckDB
    twin, whose unnest(tokens) yields no rows for them). Since the r14
    unicode flip only punctuation-only content is untokenizable —
    the Cyrillic docs below are FIRST-CLASS (distinct fingerprints,
    no spurious pair: different word sets)."""
    rows = [
        (1, "и в не на что он как это по но они мы"),
        (2, "уже для вот меня только она было если"),
        (3, "!!! ... ??? *** ---"),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, "the quick brown fox jumps over the lazy dog"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for impl in ("arrow", "hof"):
        fps = D.simhash_fingerprints(docs, impl=impl).collect()
        assert sorted(r["id"] for r in fps) == [1, 2, 4, 5], impl
    pairs = D.simhash_pairs(docs, max_hamming=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(4, 5)}
    release_all()


def test_digest_memo_kernels_match_hof_twins(spark):
    """r17: the Arrow sketch kernels memoize per-batch digest vectors
    (minhash shingle digests, simhash token prefixes). Pin them
    value-identical to the pure-JVM expression twins on a batch built
    to HIT the cache hard: heavy shingle/token repetition across docs,
    plus null/empty edges — the exact traffic the memo serves."""
    from sifts_spark.functions.hashing import (
        minhash_signature_arrow,
        shingle_minhash_arrow,
        simhash64_arrow,
    )
    from sifts_spark.functions.text import shingles, tokenize
    from sifts_spark.operators.dedup import minhash_signature

    rows = [(i, "alpha beta gamma delta " * 5) for i in range(20)] + [
        (100, "alpha beta gamma epsilon zeta eta theta"),
        (101, "totally different words here now"),
        (102, ""),
        (103, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = F.array_distinct(shingles(tokenize(F.col("text")), 3))
    base = docs.select("doc_id", sh.alias("sh"))
    hof = {
        r["doc_id"]: r["sig"]
        for r in base.select(
            "doc_id", minhash_signature(F.col("sh")).alias("sig")
        ).collect()
    }
    arrow = {
        r["doc_id"]: r["sig"]
        for r in base.select(
            "doc_id", minhash_signature_arrow(F.col("sh")).alias("sig")
        ).collect()
    }
    assert arrow == hof
    fused = {
        r["doc_id"]: (r["sk"]["sh"], r["sk"]["sig"])
        for r in docs.select(
            "doc_id", shingle_minhash_arrow(F.col("text")).alias("sk")
        ).collect()
    }
    jvm_sh = {r["doc_id"]: r["sh"] for r in base.collect()}

    def _norm(sig):
        # null text: the fused kernel carries NULL, the expression twin
        # an all-NULL array — representationally different, identical
        # downstream (band keys are NULL either way, so the doc is
        # filtered before candidates; pre-existing, unrelated to the
        # r17 memoization)
        return None if sig is None or all(x is None for x in sig) else sig

    for doc_id, sig in hof.items():
        got_sh, got_sig = fused[doc_id]
        # fused path emits the distinct-shingle SET (python set order);
        # compare as sets, and the signature exactly
        assert sorted(got_sh or []) == sorted(jvm_sh[doc_id] or []), doc_id
        assert _norm(got_sig) == _norm(sig), doc_id
    # simhash: arrow (memoized) vs hof expression twin
    from sifts_spark.operators import dedup as D

    for impl in ("arrow", "hof"):
        fps = {
            r["id"]: (r["simhash_hi"], r["simhash_lo"])
            for r in D.simhash_fingerprints(docs, impl=impl).collect()
        }
        if impl == "arrow":
            arrow_fps = fps
        else:
            assert arrow_fps == fps
    release_all()


def test_cap_buckets_ignores_null_keys(spark):
    """NULL band keys (zero-shingle docs) are exclusions, not buckets:
    the skew guard must neither flag them hot nor count their rows as
    dropped — they were never candidates."""
    from sifts_spark.operators.dedup import report_dropped_buckets

    report_dropped_buckets()  # drain pending inspections
    rows = [(i, "؟؟؟ ؟؟؟ ؟؟؟") for i in range(30)] + [
        (100, "alpha beta gamma delta epsilon zeta"),
        (101, "alpha beta gamma delta epsilon eta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_lsh_pairs(
        docs, jaccard_threshold=0.5, max_bucket_size=5
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(100, 101)}
    reports = [r for r in report_dropped_buckets() if r["op"] == "minhash_lsh_pairs"]
    assert all(r["hot_buckets"] == 0 for r in reports), reports
    release_all()


def test_simhash_ascii_family_excludes_zero_token_docs(spark):
    # r14 review #1: the zero-token pre-filter must be family-aware —
    # under tokenizer="ascii" a non-Latin doc passes the unicode
    # \p{L}\p{N} rlike but tokenizes to NOTHING, and two such docs
    # would share the all-zero fingerprint (hamming 0 — the r13
    # mega-cluster hazard, resurrected for the legacy family)
    from sifts_spark.operators.dedup import simhash_fingerprints, simhash_pairs

    docs = spark.createDataFrame(
        [
            (1, "русский текст один"),
            (2, "русский текст два совсем"),
            (3, "plain latin text here"),
        ],
        "doc_id long, text string",
    )
    fps = simhash_fingerprints(docs, tokenizer="ascii").collect()
    assert {r["id"] for r in fps} == {3}
    assert simhash_pairs(docs, tokenizer="ascii").count() == 0
    # the unicode default keeps them first-class
    assert simhash_fingerprints(docs).count() == 3
