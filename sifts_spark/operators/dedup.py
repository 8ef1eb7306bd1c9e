"""Deduplication operators for training-data pipelines.

Beyond the reference surface (SURVEY.md §2.6 — deliberate extension):
exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup detection, each a declarative DataFrame pipeline.

Determinism contract: every hash is md5 (identical bytes in any engine),
so the DuckDB correctness oracle can replay the exact computation —
no engine-specific murmur/xxhash anywhere.

Scale shapes (the part that matters at 100 TB):
* exact: one groupBy on a 32-byte digest — minimal shuffle width.
* MinHash/LSH: signatures are computed map-side with higher-order
  functions (no explode, no shuffle); the only shuffles are the
  band-bucket self-join (pairs ∝ collisions, not corpus²) and the
  verify join.
* SimHash: 64-bit fingerprint folded map-side (nested HOFs), candidate
  pairing by 16-bit prefix buckets + bit_count hamming.
* embedding: blocked (label/IVF-cell) pairwise join — never corpus².
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sifts_spark.caching import release_checkpoint, track, track_checkpoint
from sifts_spark.functions.hashing import (
    ensure_min_parallelism,
    shingle_minhash_arrow,
    shingle_minkey_arrow,
    simhash64_arrow,
)
from sifts_spark.functions.text import tokenize, shingles

logger = logging.getLogger(__name__)


# Pending skew-guard inspections: (op_name, cap, hot-bucket sizes frame).
# cap_buckets registers its hot-bucket sizes here; callers inspect
# drops after their action with report_dropped_buckets().
_CAP_INSPECTIONS: list = []
_MAX_PENDING_INSPECTIONS = 64


def report_dropped_buckets() -> list[dict]:
    """Post-action inspection of the lazy skew guard: for every
    cap_buckets call since the last report, collect the sizes of its
    hot buckets — normally from the caller's still-cached sketch —
    log a warning for any that dropped buckets, and return the reports.

    This is the one place the guard spends Spark jobs, and only when
    asked: candidate-generation plan construction itself never
    schedules one. The sizes are summed on the driver: a hot bucket
    holds over ``cap`` rows, so there are at most rows/cap of them,
    and an aggregate over them would add a single-partition exchange
    (one more job under AQE) to every report."""
    done: list[dict] = []
    for op_name, cap, hot_sizes in _CAP_INSPECTIONS[-_MAX_PENDING_INSPECTIONS:]:
        try:
            sizes = [r[0] for r in hot_sizes.collect()]
        except Exception:
            continue  # session gone / input released — discard
        report = {
            "op": op_name,
            "max_bucket_size": cap,
            "hot_buckets": len(sizes),
            "dropped_rows": sum(sizes),
            "largest_bucket": max(sizes, default=0),
        }
        if sizes:
            logger.warning(
                "%s: dropped %d bucket(s) (%d rows) over "
                "max_bucket_size=%d (largest=%d rows) — pairs within "
                "them are not candidates",
                op_name, report["hot_buckets"], report["dropped_rows"],
                cap, report["largest_bucket"],
            )
        done.append(report)
    del _CAP_INSPECTIONS[:]
    return done


def cap_buckets(
    df: DataFrame,
    key_cols: list[str],
    max_bucket_size: int | None,
    op_name: str,
) -> DataFrame:
    """Skew guard shared by every bucketed self-join candidate generator.

    A degenerate bucket key (a corpus of identical, templated, or empty
    docs collapsing onto one band key / chunk value / rarest shingle)
    makes the self-join O(bucket²) in that one key — AQE skew-split
    cannot save a join that is itself quadratic in a single key's rows.
    Buckets above ``max_bucket_size`` are dropped from candidate
    generation: pairs inside a dropped bucket are simply not candidates
    — the standard recall trade every production LSH/near-dup pipeline
    makes (a 10k-doc identical-text bucket is better served by
    exact_duplicates anyway). ``None`` disables the cap.

    FULLY LAZY: building this plan schedules no Spark job — the
    hot-set aggregation and broadcast anti-join run inside the
    caller's eventual action, replacing the eager driver-synchronous
    probe job earlier revisions paid per call even when nothing was
    hot. Callers that fan the capped frame into several plan branches
    (the self-join generators) cache it so the guard computes once per
    action, not once per branch. (A window-count-over-the-join-key
    variant was measured WORSE here: the local self-joins broadcast,
    so the window's exchange+sort of the wide sketch columns is a new
    cost, not a shared one.) Drops are surfaced by
    :func:`report_dropped_buckets` — post-action inspection that
    collects the registered hot-bucket sizes and logs what was excluded; an
    ``observe`` metric can't carry it because these capped frames are
    SELF-joined downstream, which duplicates the CollectMetrics node
    and voids its row."""
    if max_bucket_size is None:
        return df
    # NULL keys never match the candidate equi-join (they exist to
    # EXCLUDE rows — e.g. zero-shingle docs' nulled band keys), so they
    # are not buckets: counting them here would raise false hot-bucket
    # alarms and inflate dropped_rows with rows that were never
    # candidates, and the null-unsafe left_anti below could not drop
    # them anyway.
    nn = None
    for k in key_cols:
        c = F.col(k).isNotNull()
        nn = c if nn is None else (nn & c)
    hot = (
        df.filter(nn)
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_cap_bn"))
        .filter(F.col("_cap_bn") > max_bucket_size)
    )
    _CAP_INSPECTIONS.append((op_name, max_bucket_size, hot.select("_cap_bn")))
    del _CAP_INSPECTIONS[:-_MAX_PENDING_INSPECTIONS]
    return df.join(
        F.broadcast(hot.select(*key_cols)), key_cols, "left_anti"
    )


# ---------------------------------------------------------------- exact


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, canonical_id): canonical = min id among rows whose normalized
    text digests equal. Single hash-partitioned window; at scale this is
    one shuffle keyed by a 32-hex digest (uniform, skew-free)."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    digest = F.md5(norm)
    w = Window.partitionBy("_h")
    return (
        docs.select(F.col(id_col).alias("id"), digest.alias("_h"))
        .withColumn("canonical_id", F.min("id").over(w))
        .drop("_h")
    )


# -------------------------------------------------------------- MinHash


def minhash_signature(
    shingle_col: Column, num_hashes: int = 16
) -> Column:
    """shingle array → ARRAY<STRING> of ``num_hashes`` min-md5 values.

    Hash family h_i(s) = md5(s || '#' || i); the min over a doc's
    shingle set approximates its Jaccard kernel. Pure nested
    higher-order functions — computed map-side, zero shuffle.

    Takes an already-materialized shingle COLUMN (not the shingle
    expression): inlining the shingle-construction subtree here makes
    Catalyst re-evaluate it once per hash function (16× slowdown
    measured — project-collapsing inlines nested HOFs).
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                shingle_col,
                lambda s: F.md5(F.concat(s, F.lit("#"), i.cast("string"))),
            )
        ),
    )


def _minhash_sketch_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_size: int = 3,
    impl: str = "arrow",
    tokenizer: str | None = None,
) -> DataFrame:
    """``(id, sh, sig)`` — ONE row per doc: the pre-band half of the
    MinHash sketch (distinct shingle set + signature). All map-side.

    Split out of :func:`minhash_banded_sketches` (r18) so the one-shot
    pipeline can persist the sketch BEFORE the band explode: the
    exploded layout stores each doc's ``sh`` array once per band
    (``bands``× the cache bytes of the dominant column) when the only
    post-explode consumers need either the skinny ``(id, band, key)``
    rows or a single ``(id, sh)`` row per doc."""
    if impl == "arrow":
        # Fused tokenize+shingle+signature Arrow kernel — one batch per
        # partition (spread first: one local file reads as one split).
        sk = shingle_minhash_arrow(F.col("_t"), num_hashes, shingle_size, tokenizer)
        return (
            ensure_min_parallelism(
                docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
            )
            .select("id", sk.alias("_sk"))
            .select("id", F.col("_sk.sh").alias("sh"), F.col("_sk.sig").alias("sig"))
        )
    toks = tokenize(F.col(text_col), tokenizer)
    return docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(toks, shingle_size)).alias("sh"),
    ).withColumn("sig", minhash_signature(F.col("sh"), num_hashes))


def _band_keys(base: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """``(id, sh, band, key)`` from a ``(id, sh, sig)`` sketch frame —
    the band-key explode shared by the persistable index layout and the
    one-shot pipeline. ``key`` is nulled for zero-shingle docs (see the
    rationale in :func:`minhash_banded_sketches`)."""
    return base.select(
        "id",
        "sh",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.when(
                        F.size(F.col("sh")) > 0,
                        F.md5(
                            F.array_join(
                                F.slice(
                                    F.col("sig"),
                                    b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                "|",
                            )
                        ),
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("id", "sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_banded_sketches(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    impl: str = "arrow",
    tokenizer: str | None = None,
) -> DataFrame:
    """``(id, sh, band, key)`` — one row per doc per band: the
    PERSISTABLE half of MinHash-LSH dedup. All map-side (no shuffle).

    This is the corpus's dedup INDEX: write it once (ideally bucketed by
    ``(band, key)`` so later joins reuse the layout) and feed it to
    :func:`minhash_lsh_pairs_incremental` to dedup each new increment
    against the corpus without ever re-sketching the corpus — the
    daily-ingest shape at 100 TB. ``sh`` (the distinct shingle set)
    rides along so the exact Jaccard verify needs no second pass over
    the text."""
    rows_per_band = num_hashes // bands
    base = _minhash_sketch_rows(
        docs, id_col, text_col, num_hashes, shingle_size, impl, tokenizer
    )
    # zero-shingle docs (nothing tokenizable: punctuation-only content
    # — pre-r14 also any non-Latin script — under the tokenizer) cannot
    # participate in shingle dedup: their all-NULL signatures would
    # otherwise band-join into ONE constant-key mega-bucket (md5 of the
    # null-skipping array_join) and dedup whole scripts down to a
    # single survivor (see shingles()). Their band KEY is nulled in the
    # same projection — null keys never match an equi-join, and a
    # row-dropping filter on the kernel's output column would make
    # Catalyst re-evaluate the Arrow kernel once for the predicate and
    # once for the projection (plan-pinned by
    # test_minhash_sketches_computed_once_per_query).
    return _band_keys(base, bands, rows_per_band)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    jaccard_threshold: float = 0.5,
    impl: str = "arrow",
    max_bucket_size: int | None = 10_000,
    tokenizer: str | None = None,
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline → (id_a, id_b, jaccard).

    1. signature (map-side), 2. band keys md5(sig slice) (map-side),
    3. explode bands + (id, band, key)-only self-join → candidate id
    pairs, 4. shingle fetch by id from the persisted sketch (AQE
    broadcasts the candidate set when small), 5. exact Jaccard verify
    on distinct shingle sets, threshold filter. The band self-join is
    the only corpus-wide shuffle, it carries no shingle payload, and
    its key space is the band buckets — collision-proportional, the
    standard LSH scale argument (SNIPPETS/PAPERS: classic MMDS
    construction).

    ``impl="arrow"`` computes signatures in an Arrow-batched kernel
    (functions/hashing.py — same md5 values, ~10x less CPU than the
    interpreted HOF path); ``impl="hof"`` keeps the pure-JVM expression.

    ``max_bucket_size`` is the skew guard: a degenerate band key (e.g.
    a corpus of near-empty docs sharing one signature) makes one bucket
    quadratic in the self-join — AQE skew-split cannot save a join that
    is itself O(bucket²) in one key. Buckets above the cap are dropped
    from candidate generation and LOGGED (never silently): pairs inside
    a dropped bucket are simply not candidates, the standard recall
    trade every production LSH dedup makes. ``None`` disables the cap.
    """
    # Materialize the sketch ONCE: without this, the whole md5
    # signature subtree is re-evaluated for each side of the self-join
    # and again per candidate row (Catalyst doesn't CSE across join
    # branches) — measured 150s → ~5s at 500 docs. On a cluster this
    # persists the (small) sketch table, never the corpus.
    #
    # r18: persist PRE-explode (one ``(id, sh, sig)`` row per doc, not
    # the `bands`-rows-per-doc banded frame): the exploded layout wrote
    # each doc's ``sh`` array into the cache once per band — 4× the
    # bytes of the cache's dominant column for consumers that only need
    # the skinny band keys or one ``(id, sh)`` row. The band-key md5s
    # are re-derived from the cached ``sig`` where needed (4 short md5s
    # per doc — noise next to the cache write they used to inflate).
    # Band keys, candidates and verify values are expression-identical;
    # interleaved A/B at sf0.1 and the oracle row pin the equivalence.
    base = track(
        _minhash_sketch_rows(
            docs, id_col, text_col, num_hashes, shingle_size, impl,
            tokenizer,
        )
    )

    # The band self-join moves ONLY (id, band, key): the shingle arrays
    # stay out of the banded exchange (pre-r14 each doc's full shingle
    # set crossed it `bands` times per side — the dominant exchange
    # bytes of an unbucketed first build). Candidates are id pairs;
    # shingles are fetched afterwards from the persisted sketch via two
    # id-equi-joins, where AQE broadcasts the (collision-proportional,
    # usually tiny) candidate set so the shingle side never shuffles at
    # all. The persisted-INDEX layout (minhash_banded_sketches, sh
    # riding along bucketed by (band, key)) is unchanged — this is the
    # one-shot build path only.
    keys = _band_keys(base, bands, num_hashes // bands).select(
        "id", "band", "key"
    )
    if max_bucket_size is not None:
        # cache the CAPPED frame too: both self-join sides read it, and
        # without the cache each branch re-runs the guard's aggregation
        # + anti-join per action
        keys = track(
            cap_buckets(keys, ["band", "key"], max_bucket_size,
                        "minhash_lsh_pairs")
        )

    # NOTE: no dropDuplicates here. A pair colliding in k bands (k ≤
    # `bands`) appears k times; deduplicating PRE-verify costs a full
    # shuffle of the collision-proportional candidate set, while the
    # duplicate verify work it saves is a handful of map-side
    # array_intersects. Dedup happens after the threshold filter, on
    # the (much smaller) emitted pairs — measured 12.4s → 5.7s at sf1
    # (duplicate rows carry identical sh sets → identical jaccard, so
    # post-verify dropDuplicates is value-deterministic).
    cand_ids = (
        keys.alias("l")
        .join(
            keys.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    )
    # One sketch row per doc straight off the pre-explode cache (r18 —
    # previously the band-0 slice of the exploded frame). Taken PRE-cap
    # so a doc whose band-0 bucket was capped but whose other-band
    # candidacy survived still verifies.
    sh_tbl = base.select("id", "sh")
    cand = cand_ids.join(
        sh_tbl.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        sh_tbl.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    return _verify_jaccard(cand, jaccard_threshold)


def _verify_jaccard(
    cand: DataFrame, jaccard_threshold: float, extra_cols: tuple = ()
) -> DataFrame:
    """Exact Jaccard on (id_a, id_b, sh_a, sh_b) candidates → thresholded
    (id_a, id_b, jaccard[, *extra_cols]) — the verify step shared by the
    self-join and incremental LSH paths."""
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        cand.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select(
            "id_a", "id_b", F.round("jaccard", 6).alias("jaccard"), *extra_cols
        )
        # multi-band collisions duplicate a candidate pair; dedup HERE,
        # after the threshold filter, so the only corpus-proportional
        # dropDuplicates shuffle in the pipeline runs on emitted pairs
        # (duplicates carry identical sh sets → identical jaccard and
        # membership-derived extra_cols, so this is value-deterministic)
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    jaccard_threshold: float = 0.5,
    impl: str = "arrow",
    max_bucket_size: int | None = 10_000,
    include_new_new: bool = True,
    include_origin: bool = False,
    tokenizer: str | None = None,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against an already-indexed corpus
    → (id_a, id_b, jaccard) — every pair involves ≥1 new doc.
    ``include_origin=True`` appends boolean ``a_new`` / ``b_new``
    columns: True iff that side's id is ABSENT from the index (a
    genuinely new doc). A re-sent id (present in both the new batch and
    the index) flags False regardless of which candidate rows survived
    the pruned join — consumers that give already-accepted docs
    precedence classify by index membership, so a re-send keeps
    accepted status even against other accepted docs.
    The verify sketch for a re-sent id is its NEW one (deterministic;
    admission judges the content being ingested).

    ``index`` is :func:`minhash_banded_sketches` output for the base
    corpus (read back from wherever it was persisted; same
    num_hashes/bands/shingle_size or the band keys won't align). The
    100 TB shape — work proportional to the INCREMENT, not the corpus:

    1. sketch the new batch map-side;
    2. prune the index with a broadcast semi-join on the new batch's
       (band, key) set — index buckets no new doc touches cannot
       produce a pair involving a new doc, so the corpus-sized side
       collapses to the touched buckets BEFORE any shuffle (persist
       the index bucketed by ``(band, key)`` and even this read is
       layout-aligned);
    3. one candidate join over the combined touched buckets — keys
       only, no shingle payload (r14, same discipline as
       :func:`minhash_lsh_pairs`) — keeping only pairs with ≥1 new
       side (base∖base pairs were already found when the base was
       deduped);
    4. shingle fetch by id from a one-row-per-id sidecar (new-batch
       sketch preferred for re-sent ids), then the usual exact-Jaccard
       verify.

    Equivalence contract (pytest-pinned): ``pairs(base ∪ new) ==
    pairs(base) ∪ incremental(new, index(base))`` under the same
    parameters — pruning drops only base∖base candidates, and
    ``cap_buckets`` sees full surviving-bucket sizes, so the cap
    decision matches the full-corpus run on every emitted pair.
    ``include_new_new=False`` restricts to cross pairs (new vs base)
    when the increment is deduped separately."""
    new_banded = track(
        minhash_banded_sketches(
            new_docs, id_col, text_col, num_hashes, bands, shingle_size, impl,
            tokenizer,
        ).withColumn("_new", F.lit(True))
    )
    touched = new_banded.select("band", "key").distinct()
    pruned_index = index.select("id", "sh", "band", "key").join(
        F.broadcast(touched), ["band", "key"], "semi"
    ).withColumn("_new", F.lit(False))
    combined = track(new_banded.unionByName(pruned_index))
    if max_bucket_size is not None:
        combined = track(
            cap_buckets(
                combined, ["band", "key"], max_bucket_size,
                "minhash_lsh_pairs_incremental",
            )
        )  # guard computes once, not per self-join branch
    new_flag = (
        (F.col("l._new") | F.col("r._new"))
        if include_new_new
        else (F.col("l._new") != F.col("r._new"))
    )
    # Same exchange discipline as minhash_lsh_pairs (r14): the band
    # self-join moves only (id, band, key, _new); shingles rejoin the
    # candidate id pairs afterwards from a one-row-per-id sidecar.
    # The sidecar's max_by picks the verify sketch DETERMINISTICALLY:
    # preferring the NEW-batch row means a re-sent id with changed
    # content always scores against the content being ingested — with
    # F.first, near-threshold admission would flap run-to-run
    # (r7 ADVICE).
    keys = combined.select("id", "band", "key", "_new")
    cand = keys.alias("l").join(
        keys.alias("r"),
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.key") == F.col("r.key"))
        & (F.col("l.id") < F.col("r.id"))
        & new_flag,
    )
    cand_ids = cand.select(
        F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")
    )  # multi-band duplicates dedup post-verify (_verify_jaccard)
    sidecar = combined.groupBy("id").agg(
        F.max_by("sh", "_new").alias("sh")
    )
    cand = cand_ids.join(
        sidecar.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        sidecar.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    if include_origin:
        agg = cand
        # Pair-level a_new/b_new from ID MEMBERSHIP in the index, not
        # min over SURVIVING candidate rows: index-x-index rows are
        # excluded by new_flag, so a re-sent accepted id paired with a
        # DIFFERENT accepted doc keeps only new-side rows — row-min
        # would flag it new and a consumer would reject the re-send,
        # contradicting accepted-id precedence (r7 ADVICE). Shape: the
        # index is probed id-column-only with a broadcast semi-join
        # (increment-sized output, no corpus shuffle); both membership
        # joins below broadcast increment-sized sets.
        new_ids = new_banded.select("id").distinct()
        resent = index.select("id").join(
            F.broadcast(new_ids), "id", "semi"
        ).distinct()
        only_new = new_ids.join(F.broadcast(resent), "id", "anti")
        agg = (
            agg.join(
                F.broadcast(
                    only_new.withColumnRenamed("id", "id_a")
                    .withColumn("_a_only_new", F.lit(True))
                ),
                "id_a", "left",
            )
            .join(
                F.broadcast(
                    only_new.withColumnRenamed("id", "id_b")
                    .withColumn("_b_only_new", F.lit(True))
                ),
                "id_b", "left",
            )
            .withColumn("a_new", F.coalesce("_a_only_new", F.lit(False)))
            .withColumn("b_new", F.coalesce("_b_only_new", F.lit(False)))
            .drop("_a_only_new", "_b_only_new")
        )
        return _verify_jaccard(agg, jaccard_threshold, ("a_new", "b_new"))
    return _verify_jaccard(cand, jaccard_threshold)


# ------------------------------------------------------- n-gram Jaccard


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
    impl: str = "arrow",
    max_bucket_size: int | None = 10_000,
    tokenizer: str | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard over candidate pairs found by shared
    rarest-shingle blocking: each doc keys on its ``min`` md5 shingle, so
    near-identical docs collide with high probability while the join
    stays bucket-proportional (recall is probabilistic — a true-dup pair
    is found iff the two docs share their rarest shingle, probability ~J
    for Jaccard J; this is a 1-hash LSH candidate generator, not an
    exhaustive join). Optional extra blocking column composes
    (e.g. same source). → (id_a, id_b, jaccard).

    **Default-on recall trade (changed in round 4)**: ``max_bucket_size``
    drops shingle buckets above 10 000 docs from candidate generation
    (logged, never silent) — pairs inside a dropped bucket are NOT
    emitted. Corpora with larger legitimate duplicate families must
    raise the cap or pass ``None`` for the pre-cap behavior (and accept
    the O(bucket²) join). See README "Near-dup candidate caps"."""
    if impl == "arrow":
        sk = shingle_minkey_arrow(F.col("_t"), shingle_size, tokenizer)
        sel = [F.col(id_col).alias("id"), F.col(text_col).alias("_t")]
        if block_col:
            sel.append(F.col(block_col).alias("blk"))
        pre = ensure_min_parallelism(docs.select(*sel)).withColumn("_sk", sk)
        cols = ["id", F.col("_sk.sh").alias("sh"), F.col("_sk.key").alias("key")]
        if block_col:
            cols.append(F.col("blk"))
        base = track(pre.select(*cols))
    else:
        toks = tokenize(F.col(text_col), tokenizer)
        sh = F.array_distinct(shingles(toks, shingle_size))
        key = F.array_min(F.transform(sh, lambda s: F.md5(s)))
        cols = [F.col(id_col).alias("id"), sh.alias("sh"), key.alias("key")]
        if block_col:
            cols.append(F.col(block_col).alias("blk"))
        # Materialized once — both self-join branches read the sketch, not
        # the shingle-expression subtree (see minhash_lsh_pairs note).
        base = track(docs.select(*cols))
    # Same exchange discipline as minhash_lsh_pairs: the blocking
    # self-join moves only (id, key[, blk]); shingle arrays are fetched
    # afterwards by id from the persisted sketch (candidate set is
    # collision-proportional, so AQE broadcasts it and the shingle side
    # never shuffles).
    keys = base.select(*(["id", "key", "blk"] if block_col else ["id", "key"]))
    keys = cap_buckets(
        keys,
        ["key", "blk"] if block_col else ["key"],
        max_bucket_size,
        "ngram_jaccard_pairs",
    )
    if max_bucket_size is not None:
        keys = track(keys)  # guard computes once, not per join side
    join_cond = (F.col("l.key") == F.col("r.key")) & (F.col("l.id") < F.col("r.id"))
    if block_col:
        join_cond = join_cond & (F.col("l.blk") == F.col("r.blk"))
    cand_ids = keys.alias("l").join(keys.alias("r"), join_cond).select(
        F.col("l.id").alias("id_a"),
        F.col("r.id").alias("id_b"),
    )
    sh_tbl = base.select("id", "sh")
    cand = cand_ids.join(
        sh_tbl.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        sh_tbl.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        cand.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# -------------------------------------------------------------- SimHash


def _digit_values(digest: Column) -> Column:
    """First 16 hex digits of an md5 digest as ARRAY<INT> values 0-15."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(16)),
        lambda d: F.conv(F.substring(digest, d, 1), 16, 10).cast("int"),
    )


def _digit_bit(digits: Column, b: Column) -> Column:
    """Bit ``b`` (0-63, MSB-first) from a 16-hex-digit value array."""
    # mask for bit (b % 4) within a hex digit, MSB first: 8,4,2,1
    masks = F.array(F.lit(8), F.lit(4), F.lit(2), F.lit(1))
    return (
        F.element_at(digits, F.floor(b / 4).cast("int") + 1)
        .bitwiseAND(F.element_at(masks, (b % 4).cast("int") + 1))
        > 0
    ).cast("int")


def simhash64(digits_col: Column) -> tuple[Column, Column]:
    """64-bit SimHash from an ARRAY<ARRAY<INT>> of per-token md5 hex
    digit values → (hi32 BIGINT, lo32 BIGINT).

    Classic construction (Charikar): per bit b, sum ±1 over tokens by
    md5-bit b; fingerprint bit = sum > 0. Folded entirely map-side with
    nested higher-order functions; the inner loop is pure int ops on the
    materialized digit arrays (md5/substring/conv hoisted out — HOFs are
    interpreted, so per-bit string work dominated before). Two 32-bit
    halves keep the value positive in BIGINT so hamming distance is
    bit_count(xor) on both engines.
    """

    def half(offset: int) -> Column:
        # per-bit vote sums folded into an int: acc*2 + (votes_b > 0)
        return F.aggregate(
            F.sequence(F.lit(offset), F.lit(offset + 31)),
            F.lit(0).cast("bigint"),
            lambda acc, b: acc * 2
            + (
                F.aggregate(
                    digits_col,
                    F.lit(0),
                    lambda v, dg: v + (_digit_bit(dg, b) * 2 - 1),
                )
                > 0
            ).cast("bigint"),
        )

    return half(0), half(32)


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    impl: str = "arrow", tokenizer: str | None = None,
) -> DataFrame:
    """→ (id, simhash_hi, simhash_lo).

    ``impl="arrow"`` (default) computes the fingerprint in one Arrow
    batch per partition (functions/hashing.py — identical md5-derived
    bits, ~10x less CPU); ``impl="hof"`` keeps the pure-JVM nested-HOF
    fold. Both are map-side, shuffle-free.

    Zero-token docs (punctuation-only content — pre-r14 also any
    non-Latin script — under the default tokenizer) are EXCLUDED (r13):
    every one of them would vote the identical all-zero fingerprint, so
    ``simhash_pairs`` declared any two of them hamming-0 near-dups and
    collapsed entire scripts to one survivor — the same hazard the
    minhash path closes via empty shingle sets. The filter is a cheap
    codegen'd pre-kernel predicate (a post-kernel filter on the Arrow
    output column would make Catalyst evaluate the kernel twice), and
    it short-circuits: "has >=1 token" == "the text contains >=1
    letter-or-digit char" (tokens are exactly the \\p{L}\\p{N} runs of
    the lowercased text, and the class is case-closed), so rlike stops
    at the first hit instead of materializing the full token array — a
    full tokenize here measured ~2x on the sf1 bench row. The DuckDB
    oracle twins were updated to match (catalog r13): their fp CTEs
    aggregate only docs that produced tokens — previously a LEFT JOIN
    + coalesce(...,0) fabricated the all-zero fingerprint back in."""
    # zero-token pre-filter: "has ≥1 token" ⟺ "contains ≥1 \p{L}\p{N}
    # char" for the unicode-split families (unicode/cjk_bigram/trigram
    # — expansion preserves non-emptiness and CJK chars are \p{L}), so
    # those keep the cheap short-circuiting rlike. The ASCII family is
    # NOT equivalent (a Russian doc passes the unicode rlike but
    # ascii-tokenizes to zero tokens — the all-zero-fingerprint
    # mega-cluster r13 fixed would come back), so it pays the
    # definitional size(tokenize)>0 check (r14 review finding #1;
    # ascii is the legacy family, rarely on this path).
    from sifts_spark.functions.text import TOKENIZER_ASCII, resolve_tokenizer

    toks = tokenize(F.col(text_col), tokenizer)
    if resolve_tokenizer(tokenizer) == TOKENIZER_ASCII:
        docs = docs.filter(F.size(toks) > 0)
    else:
        docs = docs.filter(F.col(text_col).rlike(r"[\p{L}\p{N}]"))
    if impl == "arrow":
        fp = simhash64_arrow(toks)
        return ensure_min_parallelism(docs).select(
            F.col(id_col).alias("id"), fp.alias("_fp")
        ).select(
            "id", F.col("_fp.simhash_hi").alias("simhash_hi"),
            F.col("_fp.simhash_lo").alias("simhash_lo"),
        )
    base = track(docs.select(
        F.col(id_col).alias("id"),
        F.transform(toks, lambda t: _digit_values(F.md5(t))).alias("dg"),
    ))
    hi, lo = simhash64(F.col("dg"))
    return base.select("id", hi.alias("simhash_hi"), lo.alias("simhash_lo"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    max_bucket_size: int | None = 10_000,
    tokenizer: str | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Candidate generation: bucket by each of the four 16-bit chunks
    (pigeonhole: any pair with hamming ≤ 3 shares a chunk; wider radii
    raise recall probabilistically) → self-join per chunk → exact
    hamming via bit_count(xor). → (id_a, id_b, hamming).

    **Default-on recall trade (changed in round 4)**: ``max_bucket_size``
    drops 16-bit-chunk buckets above 10 000 docs (logged, never silent)
    — a templated corpus collapsing thousands of docs onto one chunk
    value loses those candidates. Raise the cap or pass ``None`` for
    the pre-cap behavior. See README "Near-dup candidate caps"."""
    # Persisted: both self-join branches read the (narrow) fingerprint
    # table instead of re-running the sketch per side.
    fp = track(simhash_fingerprints(docs, id_col, text_col, tokenizer=tokenizer))
    return hamming_pairs(
        fp, max_hamming=max_hamming, max_bucket_size=max_bucket_size,
        op_name="simhash_pairs",
    )


def hamming_pairs(
    fps: DataFrame,
    id_col: str = "id",
    hi_col: str = "simhash_hi",
    lo_col: str = "simhash_lo",
    max_hamming: int = 8,
    max_bucket_size: int | None = 10_000,
    op_name: str = "hamming_pairs",
) -> DataFrame:
    """Near-dup pairs over PRECOMPUTED 64-bit fingerprints (two int32
    halves) — the pairing engine behind :func:`simhash_pairs`, shared
    with any other 64-bit locality hash (e.g. image pHash,
    :func:`sifts_spark.operators.multimodal.image_phash_pairs`).
    16-bit-chunk pigeonhole candidates + exact ``bit_count(xor)``
    hamming, one bucket-keyed self-join, same skew cap."""
    fp = fps.select(
        F.col(id_col).alias("id"),
        F.col(hi_col).alias("simhash_hi"),
        F.col(lo_col).alias("simhash_lo"),
    )
    chunks = fp.select(
        "id",
        "simhash_hi",
        "simhash_lo",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("c"), F.shiftright("simhash_hi", 16).alias("v")),
                F.struct(F.lit(1).alias("c"), F.col("simhash_hi").bitwiseAND(F.lit(65535)).alias("v")),
                F.struct(F.lit(2).alias("c"), F.shiftright("simhash_lo", 16).alias("v")),
                F.struct(F.lit(3).alias("c"), F.col("simhash_lo").bitwiseAND(F.lit(65535)).alias("v")),
            )
        ).alias("ck"),
    ).select("id", "simhash_hi", "simhash_lo", "ck.c", "ck.v")
    chunks = cap_buckets(chunks, ["c", "v"], max_bucket_size, op_name)
    if max_bucket_size is not None:
        chunks = track(chunks)  # guard computes once, not per join side
    l, r = chunks.alias("l"), chunks.alias("r")
    hamming = F.bit_count(
        F.col("l.simhash_hi").bitwiseXOR(F.col("r.simhash_hi"))
    ) + F.bit_count(F.col("l.simhash_lo").bitwiseXOR(F.col("r.simhash_lo")))
    return (
        l.join(
            r,
            (F.col("l.c") == F.col("r.c"))
            & (F.col("l.v") == F.col("r.v"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# -------------------------------------------------- duplicate clusters


# Largest edge list the driver resolves itself (~a few MB, the same
# driver-budget class as collected centroids). Read at call time, so one
# setting bounds both duplicate_clusters' driver branch and the pair
# collect of Collection.dedup.
DRIVER_EDGE_LIMIT = 200_000


def union_find(pairs) -> dict:
    """Driver-side connected components over ``(a, b)`` pairs →
    ``{id: root}`` for every id in some pair, root = the min id of its
    component (union by min, path compression)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def duplicate_clusters(
    vertices: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    max_iter: int = 50,
    driver_threshold: int | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair list → (id, cluster_id)
    with cluster_id = min id in the component (singletons label
    themselves). The step after any pairwise dedup: pairs say "these two
    are dups", clusters say "keep one canonical doc per group" even when
    duplicates chain (A~B, B~C, A!~C).

    Iterative min-label propagation **restricted to the dup subgraph**:
    only vertices that appear in some pair can ever change label, so
    the per-round join + groupBy runs over a |pairs|-sized table —
    orders of magnitude smaller than the corpus at any realistic dup
    rate — and the full vertex set is touched exactly once, by the
    final left join that labels singletons with their own id (AQE
    broadcasts the propagated labels when they fit). Converges within
    the component diameter (near-dup clusters are shallow; ``max_iter``
    guards the rest). Each round checkpoints ``proposed`` once and
    derives both the convergence check and the next labels from that
    one materialization — one compute per round, lineage truncated.
    The driver-side loop runs one tiny action (``isEmpty``) per round —
    this is an iterative algorithm, not a collect-the-data loop; the
    data never leaves executors. ``driver_threshold`` defaults to
    :data:`DRIVER_EDGE_LIMIT`.
    """
    if driver_threshold is None:
        driver_threshold = DRIVER_EDGE_LIMIT
    # Both edge directions from ONE projection of ``pairs``: a
    # unionByName of two projections plans the whole upstream pair
    # pipeline (sketch → LSH → verify) once per branch.
    edge = F.explode(
        F.array(
            F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
            F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
        )
    ).alias("e")
    edges = pairs.select(edge).select("e.src", "e.dst").distinct()
    # Small dup-subgraph short-circuit: the edge list is |pairs|-sized
    # and BOUNDED (unlike the corpus) — below the threshold, union-find
    # on the driver replaces 3-6 scheduled join+checkpoint rounds with
    # one collect + one createDataFrame. Past the threshold the
    # distributed propagation below runs — the 100 TB path when dup
    # pairs themselves are huge.
    #
    # The distinct is materialized ONCE before the branch probe and
    # shared by both branches: probing with limit(threshold+1).collect()
    # straight off the distinct re-ran the full distinct shuffle AND
    # shipped threshold rows of nothing to the driver on every
    # over-threshold call (sf1 interleaved A/B best 3.20 → 2.31 for this
    # shape). The probe count on the checkpoint ships zero rows; the
    # under-threshold collect reads checkpointed partitions, not a
    # recompute. A persist()-based variant (materialization fused into
    # the count job) was A/B'd and NOT kept: cache-write overhead made
    # it slower at sf0.1 (+0.16) without beating this shape at sf1.
    #
    # The checkpoints release with the caller's caches: the driver
    # branch frees its edge checkpoint once collected, the distributed
    # branch's are tracked (caching.release_tracked / release_all).
    edges = edges.localCheckpoint(eager=True)
    if edges.count() <= driver_threshold:
        rows = edges.collect()
        release_checkpoint(edges)
        roots = union_find((r["src"], r["dst"]) for r in rows)
        schema = vertices.select(
            F.col(id_col).alias("id"), F.col(id_col).alias("cluster_id")
        ).schema
        labels_df = vertices.sparkSession.createDataFrame(
            list(roots.items()), schema
        )
        return (
            vertices.select(F.col(id_col).alias("id"))
            .distinct()
            .join(
                F.broadcast(labels_df.withColumnRenamed("cluster_id", "_cl")),
                "id",
                "left",
            )
            .select(
                "id", F.coalesce(F.col("_cl"), F.col("id")).alias("cluster_id")
            )
        )

    # edges already checkpointed above (shared with the branch probe)
    track_checkpoint(edges)
    labels = track_checkpoint(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("label").alias("nl"))
        )
        proposed = track_checkpoint(
            labels.join(neighbor_min, labels["id"] == neighbor_min["dst"], "left")
            .select(
                "id",
                "label",
                F.least(F.col("label"), F.coalesce("nl", "label")).alias("new_label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = not proposed.filter(F.col("new_label") != F.col("label")).isEmpty()
        labels = proposed.select("id", F.col("new_label").alias("label"))
        if not changed:
            break
    return (
        vertices.select(F.col(id_col).alias("id"))
        .distinct()
        .join(labels.withColumnRenamed("label", "_cl"), "id", "left")
        .select("id", F.coalesce(F.col("_cl"), F.col("id")).alias("cluster_id"))
    )


# ---------------------------------------------- embedding cosine dedup


def _dense_cells(rows: list) -> list:
    """Remap centroid cell labels to dense ints by position.

    ``deterministic_centroids`` labels cells with SOURCE ROW IDS —
    strings for Collection docs (uuid) — but the assignment kernels
    (``cell_assign_arrow``/``cell_topn_arrow``) return LONG cell ids,
    so string labels crash the default facade paths. The rows arrive
    cell-id-ordered (both centroid producers sort), so positional
    labels preserve the documented (sim desc, cell_id asc) tie-break
    and thus every pair/decision value; the labels themselves are
    internal blocking keys in these consumers, never persisted."""
    return [(i, v) for i, (_c, v) in enumerate(rows)]


def embedding_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    centroids=None,  # DataFrame | [(cell_id, [float]), ...] | None
    n_cells: int = 16,
    threshold: float = 0.95,
    impl: str = "arrow",
) -> DataFrame:
    """Near-dup pairs by cosine ≥ threshold within blocks
    → (id_a, id_b, cos_sim).

    Default blocking is IVF cells: each vector is assigned map-side to
    its nearest centroid (``centroids`` — in production pass
    :func:`~sifts_spark.operators.vector_search.kmeans_centroids`
    output; default is the oracle-replayable deterministic lowest-id
    seed, :func:`~sifts_spark.operators.vector_search.deterministic_centroids`),
    and the pairwise join runs only within a cell — the corpus is never
    self-joined whole, and cell population is bounded by corpus/k on
    average rather than by whatever a metadata column happens to hold.
    A categorical ``block_col`` remains as an explicit override (e.g.
    join only within one source), but it is NOT the default because a
    hot label degenerates to corpus² inside that label.

    Recall bound: a true-dup pair straddling a cell boundary is missed
    (nprobe=1 assignment) — the standard IVF trade; raise ``n_cells``
    resolution or pre-normalize upstream if that matters.
    """
    from sifts_spark.functions.vector import cosine_similarity
    from sifts_spark.operators.vector_search import (
        cell_assign_expr,
        deterministic_centroids,
    )

    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if block_col:
        base = vectors.select(*cols, F.col(block_col).alias("blk"))
    else:
        if centroids is None:
            centroids = deterministic_centroids(vectors, n_cells, id_col, vec_col)
        # Driver-collect the (tiny) centroid table once, inline it as a
        # literal → cell assignment is a pure map-side projection.
        # impl="arrow": numpy-matmul kernel (see functions/vector);
        # impl="hof": pure-JVM expression. Same values either way.
        from sifts_spark.operators.vector_search import centroid_rows

        rows = _dense_cells(centroid_rows(centroids))
        if impl == "arrow":
            from sifts_spark.functions.hashing import ensure_min_parallelism
            from sifts_spark.functions.vector import (
                VEC_BYTES_PER_SPLIT,
                cell_assign_arrow,
            )

            vectors = ensure_min_parallelism(vectors, VEC_BYTES_PER_SPLIT)
            assign = cell_assign_arrow(F.col(vec_col), rows)
        else:
            assign = cell_assign_expr(F.col(vec_col), rows)
        base = track(vectors.select(*cols, assign.alias("blk")))
    if impl == "arrow":
        return _block_pairs_arrow(base, threshold)
    cond = (F.col("l.blk") == F.col("r.blk")) & (F.col("l.id") < F.col("r.id"))
    sim = F.round(cosine_similarity(F.col("l.v"), F.col("r.v")), 6)
    return (
        base.alias("l")
        .join(base.alias("r"), cond)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _block_pairs_arrow(base: DataFrame, threshold: float) -> DataFrame:
    """(id, v, blk) → within-block cosine pairs ≥ threshold, via
    ``applyInPandas`` per block: each vector crosses the Arrow boundary
    ONCE (the self-join alternative ships BOTH vectors of every
    candidate pair — dim×|pairs| floats, ~100× more bytes at any real
    block size), and the quadratic part runs as a chunked numpy matmul
    in C. One shuffle, keyed by block. Memory per task is bounded at
    chunk×|block| doubles; the quadratic WORK per hot block is
    inherent to blocked pairwise dedup — cap cell population upstream
    (n_cells) exactly as the join path requires. Values are identical
    to the HOF join: round-6dp cosine, id_a < id_b, NaN never ≥
    threshold."""
    import numpy as np
    import pandas as pd

    id_type = base.schema["id"].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cos_sim double"

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        ids = pdf["id"].to_numpy()
        v = np.array([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
        norms = np.sqrt((v * v).sum(axis=1))
        out_a, out_b, out_s = [], [], []
        chunk = 1024
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            with np.errstate(divide="ignore", invalid="ignore"):
                s = (v[lo:hi] @ v.T) / np.outer(norms[lo:hi], norms)
            s = np.round(s, 6)
            # strict upper triangle in ROW POSITION avoids double-count;
            # order each emitted pair by id VALUE (id_a < id_b)
            ii, jj = np.nonzero(s >= threshold)
            keep = (ii + lo) < jj
            ii, jj = ii[keep], jj[keep]
            a, b = ids[ii + lo], ids[jj]
            swap = a > b
            a2 = np.where(swap, b, a)
            b2 = np.where(swap, a, b)
            out_a.extend(a2.tolist())
            out_b.extend(b2.tolist())
            out_s.extend(s[ii, jj].tolist())
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "cos_sim": out_s})

    return (
        base.filter(F.col("blk").isNotNull())
        .groupBy("blk")
        .applyInPandas(_pairs, schema=out_schema)
    )


# ------------------------------------------------- paragraph-level dedup


def dedup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
    split_re: str = r"\n+",
    join_sep: str = "\n",
) -> DataFrame:
    """Corpus-wide paragraph/line-level exact deduplication → one row
    per input doc: ``(id, text, n_paras, n_kept, n_dropped)`` where
    ``text`` keeps only each paragraph's FIRST occurrence across the
    whole corpus (winner = lowest ``(id, position)``).

    This is CCNet's per-paragraph dedup stage (Wenzek et al. 2020 §3.1:
    hash of the normalized paragraph, drop repeats corpus-wide — it
    removes boilerplate like cookie banners and nav bars that
    doc-level dedup never catches). Extension beyond the reference
    surface (SURVEY.md §2.6); complements :func:`exact_duplicates`
    (whole-doc) and the MinHash family (near-dup).

    Semantics pinned here:
    * paragraph = non-empty segment after splitting on ``split_re``;
      reassembly normalizes separators to ``join_sep`` (documented
      lossy — like CCNet, the surviving text is a cleaned rendering,
      not a byte-identical substring).
    * matching is on whitespace-collapsed lowercase (same normalization
      as :func:`exact_duplicates`), via md5 so an oracle can replay it.
    * paragraphs shorter than ``min_chars`` are EXEMPT: always kept,
      never block another doc's paragraph (short strings — "Yes.",
      bullet glyphs — are not boilerplate evidence).
    * a doc whose every paragraph loses still yields a row (empty
      ``text``, ``n_kept`` 0) so curation attrition stays measurable.

    Scale shape: posexplode (map-side) → ONE digest-keyed window
    shuffle to pick winners (32-hex md5 keys, uniform and skew-free —
    a digest's partition holds only that paragraph's occurrences;
    exempt rows are salted to singleton keys) → one id-keyed groupBy
    to reassemble. One corpus scan, two shuffles, no driver state."""
    paras = (
        ensure_min_parallelism(
            docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        )
        .select(
            "id",
            F.posexplode_outer(
                F.filter(
                    F.split(F.coalesce(F.col("_t"), F.lit("")), split_re),
                    lambda s: F.trim(s) != F.lit(""),
                )
            ).alias("pos", "para"),
        )
    )
    # posexplode_outer keeps paragraph-less docs as a (pos NULL) row so
    # they survive to the output; real paragraphs have pos >= 0.
    norm = F.regexp_replace(F.lower(F.trim(F.col("para"))), r"\s+", " ")
    hashed = paras.withColumn(
        "_short",
        F.col("pos").isNotNull() & (F.length(F.col("para")) < F.lit(min_chars)),
    ).withColumn(
        "_h",
        F.when(F.col("pos").isNotNull() & ~F.col("_short"), F.md5(norm)),
    )
    # winner per digest: the lexicographically-least (id, pos) struct,
    # via ONE digest-keyed window (one corpus scan + one shuffle — the
    # groupBy+join alternative scans the exploded corpus twice and
    # shuffles it twice, since the winner set is distinct-paragraph-
    # sized and never broadcastable at scale). Exempt rows (_h NULL:
    # short or paragraph-less) are salted to singleton partitions so
    # they never pile into one NULL-key reducer.
    pkey = F.coalesce(
        F.col("_h"),
        F.concat_ws("\x1f", F.lit("_exempt"), F.col("id"),
                    F.col("pos").cast("string")),
    )
    w = Window.partitionBy(pkey)
    kept = hashed.withColumn(
        "_win", F.min(F.struct("id", "pos")).over(w)
    ).withColumn(
        "_keep",
        F.col("pos").isNull()
        | F.col("_short")
        | ((F.col("id") == F.col("_win.id")) & (F.col("pos") == F.col("_win.pos"))),
    )
    return (
        kept.groupBy("id")
        .agg(
            F.concat_ws(
                join_sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep") & F.col("pos").isNotNull(),
                                   F.struct("pos", "para"))
                        )
                    ),
                    lambda s: s["para"],
                ),
            ).alias("text"),
            F.count(F.col("pos")).alias("n_paras"),
            F.count(F.when(F.col("_keep"), F.col("pos"))).alias("n_kept"),
        )
        .withColumn("n_dropped", (F.col("n_paras") - F.col("n_kept")).cast("long"))
        .select("id", "text", "n_paras", "n_kept", "n_dropped")
    )


# ------------------------------------------------- semantic dedup (SemDeDup)


def semdedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,  # DataFrame | [(cell_id, [float]), ...] | None
    n_cells: int = 16,
    eps: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication") → one row per vector:
    ``(id, cell, component, centroid_sim, keep)``.

    The paper's recipe, re-expressed on the repo's IVF machinery:
    k-means-cluster the embeddings (pass
    :func:`~sifts_spark.operators.vector_search.kmeans_centroids`
    output in production; the default is the oracle-replayable
    deterministic seed), then WITHIN each cluster group vectors whose
    pairwise cosine exceeds ``eps`` (connected components of the
    eps-graph) and keep exactly one per group — the member with the
    LOWEST similarity to its cluster centroid (the paper's choice:
    among semantic duplicates, prefer the least prototypical example,
    which preserves the most diversity). Singletons keep trivially,
    and so do rows with NULL embeddings (cell NULL, their own
    singleton component — un-comparable is not droppable);
    ``component`` labels each group by its smallest member id so the
    grouping itself is testable. ``cell`` is a dense positional label
    of the centroid table, not the centroid producer's own id.

    Differences from :func:`embedding_dup_pairs` + clustering: this is
    a DECISION operator (keep/drop per row, the thing a curation
    pipeline filters on) and needs no pair materialization — the
    eps-graph is built and condensed inside one per-cell Arrow task,
    so a cell with a thousand mutual duplicates emits a thousand
    decision rows, never half a million pair rows.

    Scale shape: map-side cell assignment against inlined centroid
    literals, ONE cell-keyed shuffle into ``applyInPandas``, chunked
    numpy matmul + union-find per cell. Cell population is bounded by
    corpus/k on average (size ``n_cells`` ~ N/5k as the paper does);
    the known IVF trade applies — a duplicate pair straddling a cell
    boundary is missed, which the paper accepts for the same reason.
    """
    import numpy as np
    import pandas as pd

    from sifts_spark.functions.hashing import ensure_min_parallelism
    from sifts_spark.functions.vector import (
        VEC_BYTES_PER_SPLIT,
        cell_assign_arrow,
    )
    from sifts_spark.operators.vector_search import (
        centroid_rows,
        deterministic_centroids,
    )

    if centroids is None:
        centroids = deterministic_centroids(vectors, n_cells, id_col, vec_col)
    # dense positional cell labels: string doc-id labels (the facade
    # default via deterministic_centroids) would crash the long-typed
    # assignment kernel; ordering-preserving, values unchanged
    rows = _dense_cells(centroid_rows(centroids))
    cent = {int(c): np.asarray(v, dtype=np.float64) for c, v in rows}

    base = track(
        ensure_min_parallelism(vectors, VEC_BYTES_PER_SPLIT)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        # NULL embeddings must not reach the assignment kernel: an
        # all-NaN similarity row argmaxes to cell 0 (not NULL), which
        # would put un-comparable rows inside a real cell's matmul
        .withColumn(
            "blk",
            F.when(
                F.col("v").isNotNull(), cell_assign_arrow(F.col("v"), rows)
            ),
        )
    )

    id_type = base.schema["id"].dataType.simpleString()
    out_schema = (
        f"id {id_type}, cell long, component {id_type}, "
        "centroid_sim double, keep boolean"
    )

    def _decide(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(key[0])
        n = len(pdf)
        # deterministic member order: by id
        pdf = pdf.sort_values("id").reset_index(drop=True)
        ids = pdf["id"].to_numpy()
        v = np.array([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
        norms = np.sqrt((v * v).sum(axis=1))
        c = cent.get(cell)
        cn = np.sqrt((c * c).sum()) if c is not None else 0.0
        with np.errstate(divide="ignore", invalid="ignore"):
            csim = (v @ c) / (norms * cn) if c is not None else np.zeros(n)
        csim = np.round(np.nan_to_num(csim, nan=0.0), 6)
        # union-find over the eps-graph, edges from chunked matmul
        parent = np.arange(n)

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        chunk = 1024
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            with np.errstate(divide="ignore", invalid="ignore"):
                s = (v[lo:hi] @ v.T) / np.outer(norms[lo:hi], norms)
            s = np.round(np.nan_to_num(s, nan=-1.0), 6)
            ii, jj = np.nonzero(s >= eps)
            for i, j in zip((ii + lo).tolist(), jj.tolist()):
                if i < j:
                    ri, rj = find(i), find(j)
                    if ri != rj:
                        parent[max(ri, rj)] = min(ri, rj)
        roots = np.array([find(i) for i in range(n)])
        keep = np.zeros(n, dtype=bool)
        comp_label = np.empty(n, dtype=object)
        for r in np.unique(roots):
            members = np.nonzero(roots == r)[0]
            comp_label[members] = ids[members.min()]
            # keep the least prototypical member; ties break on id
            # (members are id-sorted, argmin returns the first)
            keep[members[int(np.argmin(csim[members]))]] = True
        return pd.DataFrame(
            {
                "id": ids,
                "cell": cell,
                "component": comp_label,
                "centroid_sim": csim,
                "keep": keep,
            }
        )

    decided = (
        base.filter(F.col("blk").isNotNull())
        .groupBy("blk")
        .applyInPandas(_decide, schema=out_schema)
    )
    # the one-row-per-vector contract includes NULL-embedding rows:
    # unassignable vectors cannot be compared, so they keep trivially
    # (cell NULL, their own singleton component) instead of silently
    # vanishing from a keep==True filter
    skipped = base.filter(F.col("blk").isNull()).select(
        F.col("id"),
        F.lit(None).cast("long").alias("cell"),
        F.col("id").alias("component"),
        F.lit(None).cast("double").alias("centroid_sim"),
        F.lit(True).alias("keep"),
    )
    return decided.unionByName(skipped)



def with_cluster_sizes(clusters: DataFrame, pairs: DataFrame) -> DataFrame:
    """``(id, cluster_id)`` labels + ``cluster_size``, with sizes
    counted over the PAIRS-BOUNDED member set only: singletons (the
    overwhelming corpus majority) never enter the groupBy and default
    to 1 via the left join — the size frame is dup-cluster-sized, not
    corpus-sized. Shared by :func:`duplicate_weights` and the
    curation pipeline's soft-dedup stage."""
    dup_members = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sizes = (
        clusters.join(dup_members, "id")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return clusters.join(sizes, "cluster_id", "left").withColumn(
        "cluster_size", F.coalesce("cluster_size", F.lit(1))
    )


def duplicate_weights(
    vertices: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    alpha: float = 1.0,
) -> DataFrame:
    """Soft deduplication → ``(id, cluster_id, cluster_size, weight)``:
    instead of DROPPING near-duplicates, every member of a duplicate
    cluster is downweighted by ``weight = cluster_size^-alpha`` (He et
    al. 2024's SoftDedup posture: hard removal discards phrasing
    diversity inside a cluster; sampling-weight reduction keeps it
    while still equalizing each RESOURCE's total contribution —
    ``alpha=1`` makes every cluster weigh exactly 1.0 in aggregate,
    ``alpha=0`` disables the correction, fractional alpha
    interpolates).

    Compose downstream: feed ``weight`` to
    :func:`~sifts_spark.operators.classifier.weighted_sample` (Gumbel
    top-k draws duplicates proportionally less often) or multiply into
    DSIR importance weights before resampling.

    Scale shape: :func:`duplicate_clusters` does the heavy lifting on
    the |pairs|-sized subgraph; cluster sizes are counted over that
    SAME pairs-bounded member set (never a corpus-sized groupBy —
    singletons, the overwhelming majority, never enter the size agg
    and default to size 1 via the left join). AQE broadcasts the size
    frame when the dup-cluster count allows.
    """
    clusters = duplicate_clusters(vertices, pairs, id_col=id_col)
    return (
        with_cluster_sizes(clusters, pairs)
        .select(
            "id",
            "cluster_id",
            "cluster_size",
            F.round(
                F.pow(
                    F.col("cluster_size").cast("double"),
                    F.lit(-float(alpha)),
                ),
                6,
            ).alias("weight"),
        )
    )
