"""End-to-end prepare_training_data composite + artifact persistence."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sifts_spark.pipelines.curation import prepare_training_data
from sifts_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_prepare_training_data_end_to_end(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    eval_doc = docs.filter("doc_id = 1").collect()[0]["text"]
    out = str(tmp_path / "train")
    m = prepare_training_data(
        docs,
        out,
        allowed_langs=("en", "de", "fr", "es", "zh"),  # langid gate open
        min_quality=0.0,
        eval_texts=[eval_doc],
        contamination_n=8,
        ppl_band=(0.02, 0.98),
        mix_weights={"en": 0.5, "de": 0.5},
        total_tokens=3000,
        max_seq_tokens=256,
        target_file_mb=0.01,
    )
    s = m["stages"]
    # monotone attrition through the gates
    assert s["input"] >= s["curated"] >= s["decontaminated"] >= s["ppl_band"]
    assert s["decontaminated"] < s["curated"]  # the planted eval doc fell
    assert m["ppl_cutoffs"]["low"] <= m["ppl_cutoffs"]["high"]
    assert "mixed" in s
    # both exports landed and roundtrip
    d = spark.read.parquet(out + "/docs")
    q = spark.read.parquet(out + "/sequences")
    assert d.count() == s["mixed"] == m["export_docs"]["rows"]
    assert q.count() == m["export_sequences"]["rows"] > 0
    # every mixed (id, epoch) row appears in exactly one sequence
    packed_ids = [x for r in q.collect() for x in r["doc_ids"]]
    assert len(packed_ids) == len(set(packed_ids)) == s["mixed"]
    # attrition matrix covers the full input
    assert sum(r["n"] for r in m["attrition"]) == s["input"]


def test_prepare_training_data_minimal_path(spark, tmp_path):
    """No eval set, no ppl band, no mixing — still exports."""
    docs = load_table(spark, SF_DIR, "documents").limit(40)
    m = prepare_training_data(
        docs, str(tmp_path / "mini"),
        allowed_langs=("en", "de", "fr", "es", "zh"),
        min_quality=0.0, ppl_band=None,
        target_file_mb=0.01,
    )
    assert "decontaminated" not in m["stages"] and "mixed" not in m["stages"]
    assert m["export_docs"]["rows"] == m["stages"]["curated"]


def test_artifact_roundtrip_pq_lm(spark, tmp_path):
    from sifts_spark.functions.artifacts import load_artifact, save_artifact
    from sifts_spark.operators.quantization import pq_encode, pq_train
    from sifts_spark.operators.textanalysis import train_unigram_lm

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    emb = load_table(spark, SF_DIR, "embeddings")

    # PQ codebooks: identical codes after reload
    books = pq_train(emb, dim=64, m=8, nbits=4, iters=4)
    p2 = str(tmp_path / "pq.json")
    save_artifact(spark, p2, {"codebooks": books})
    books2 = load_artifact(spark, p2)["codebooks"]
    c1 = {r["id"]: r["codes"] for r in pq_encode(emb, books).collect()}
    c2 = {r["id"]: r["codes"] for r in pq_encode(emb, books2).collect()}
    assert c1 == c2

    # unigram LM roundtrips exactly
    lm = train_unigram_lm(docs, vocab_size=30)
    p3 = str(tmp_path / "lm.json")
    save_artifact(spark, p3, lm)
    assert load_artifact(spark, p3) == lm

    # binary fields hex-encode and come back as bytes
    blob = {"bits": bytes(range(256)), "k": 3}
    p4 = str(tmp_path / "blob.json")
    save_artifact(spark, p4, blob)
    assert load_artifact(spark, p4) == blob


def test_artifact_overwrite_and_atomicity(spark, tmp_path):
    from sifts_spark.functions.artifacts import load_artifact, save_artifact

    p = str(tmp_path / "a.json")
    save_artifact(spark, p, {"v": 1})
    save_artifact(spark, p, {"v": 2})  # clobber-rename path
    assert load_artifact(spark, p) == {"v": 2}
    # no temp litter
    assert [f for f in os.listdir(tmp_path) if f.startswith(".a.json.tmp")] == []


def test_prepare_training_data_substring_and_bpe_stages(spark, tmp_path):
    """ExactSubstr cut + true-BPE token budgeting inside the recipe."""
    from sifts_spark.operators.bpe import train_bpe

    docs = load_table(spark, SF_DIR, "documents").limit(60)
    # plant a long shared run in three docs so the substring stage
    # has verifiable work
    shared = " ".join(f"boiler{i}" for i in range(40))
    docs = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 20 == 0,
               F.concat(F.col("text"), F.lit(" " + shared)))
        .otherwise(F.col("text")),
    )
    bpe = train_bpe(docs, num_merges=200, sample_docs=60)
    m = prepare_training_data(
        docs, str(tmp_path / "sub"),
        allowed_langs=("en", "de", "fr", "es", "zh"),
        min_quality=0.0, ppl_band=None,
        substring_dedup=True, substring_k=12,
        bpe_model=bpe,
        render_sequence_text=True,
        target_file_mb=0.01,
    )
    s = m["stages"]
    assert "substring_deduped" in s and s["substring_deduped"] <= s["curated"]
    assert m["token_counter"] == "bpe"
    out = spark.read.parquet(str(tmp_path / "sub") + "/docs")
    # the shared run survives at most once corpus-wide
    n_with_run = out.filter(F.col("text").contains("boiler0 boiler1")).count()
    assert n_with_run <= 1
    # n_tokens matches a recount through the same model
    from sifts_spark.operators.bpe import bpe_token_count

    bad = out.withColumn(
        "_n2", bpe_token_count(F.col("text"), bpe, spark)
    ).filter(F.col("_n2") != F.col("n_tokens"))
    assert bad.count() == 0
    # r11 item 4: with a bpe_model the rendered sequences carry
    # loader-ready token ids — SEP-joined, decode-verified
    from sifts_spark.functions.hashing import _py_tokenize
    from sifts_spark.operators.bpe import SEP, bpe_decode_ids, bpe_vocab

    assert m["sequence_token_ids"] is True
    seq = spark.read.parquet(str(tmp_path / "sub") + "/sequences_text")
    assert "token_ids" in seq.columns
    row = seq.orderBy("seq_id").first()
    sep_id = bpe_vocab(bpe)[SEP]
    assert row["token_ids"].count(sep_id) == row["n_docs"] - 1
    assert bpe_decode_ids(row["token_ids"], bpe) == " ".join(
        _py_tokenize(row["text"])
    )


def test_prepare_training_data_with_domain_blocklist(spark, tmp_path):
    """Crawled pages (id, text, url) → stage-0 domain blocklist → full
    recipe. Pins that the blocklist drops rows BEFORE curation (its
    stage count sits between input and curated) and that the surviving
    text passes the recipe's content gates end-to-end."""
    docs = load_table(spark, SF_DIR, "documents").limit(30).collect()

    # every third page on a spam domain the blocklist names
    rows = []
    for i, d in enumerate(docs):
        host = "spam.example" if i % 3 == 0 else "ok.example"
        rows.append((f"<urn:{d['doc_id']}>", d["text"],
                     f"http://{host}/p/{d['doc_id']}"))
    crawled = spark.createDataFrame(
        rows, "doc_id string, text string, url string"
    )
    m = prepare_training_data(
        crawled, str(tmp_path / "train"),
        allowed_langs=("en", "de", "fr", "es", "zh"),
        min_quality=0.0, ppl_band=None, target_file_mb=0.01,
        url_col="url", blocked_domains=["spam.example"],
    )
    s = m["stages"]
    n_spam = sum(1 for i in range(len(docs)) if i % 3 == 0)
    assert s["input"] == len(docs)
    assert s["domain_filtered"] == len(docs) - n_spam
    assert s["domain_filtered"] >= s["curated"] > 0
    out = spark.read.parquet(str(tmp_path / "train") + "/docs")
    assert out.count() == s["curated"]


def test_blocked_domains_requires_url_col(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents").limit(5)
    with pytest.raises(ValueError, match="url_col"):
        prepare_training_data(
            docs, str(tmp_path / "x"), blocked_domains=["a.com"]
        )


def test_url_docs_to_export_recipe_e2e(spark, tmp_path):
    """The full crawl-to-training-shards recipe as ONE composition —
    crawled records (id, content, url) → prepare_training_data with a
    stage-0 domain blocklist → exported docs/sequences — with a pinned
    attrition manifest at every boundary."""
    corpus = [r["text"] for r in load_table(spark, SF_DIR, "documents")
              .filter("lang = 'en'").limit(60).collect()]
    n_shards, n_blocked, rows = 4, 0, []
    for s in range(n_shards):
        for j, text in enumerate(corpus[s::n_shards]):
            rid = f"rec-{s}-{j}"
            if j % 3 == 0:
                uri = f"http://x{j}.bad-corpus.com/{rid}"
                n_blocked += 1
            else:
                uri = f"http://www.good-corpus.com/{rid}"
            rows.append((rid, text, uri))
    src = spark.createDataFrame(rows, "id string, content string, url string")
    n_in = len(corpus)

    out = str(tmp_path / "train")
    m = prepare_training_data(
        src,
        out,
        id_col="id",
        text_col="content",
        allowed_langs=("en", "de", "fr", "es", "zh"),
        min_quality=0.0,
        ppl_band=None,
        url_col="url",
        blocked_domains=["bad-corpus.com"],
        target_file_mb=0.01,
    )
    s = m["stages"]
    # stage-0 blocklist fired on the registrable domain of the record url
    assert s["input"] == n_in
    assert s["domain_filtered"] == n_in - n_blocked
    assert s["input"] >= s["domain_filtered"] >= s["curated"] > 0
    # exports landed; no blocked-domain record slipped through
    d = spark.read.parquet(out + "/docs")
    assert d.count() == m["export_docs"]["rows"] == s["curated"]
    exported = {r["id"] for r in d.select("id").collect()}
    blocked_ids = {rid for rid, _, uri in rows if "bad-corpus" in uri}
    assert not (exported & blocked_ids)
    assert spark.read.parquet(out + "/sequences").count() > 0


def test_prepare_training_data_semantic_dedup_stage(spark, tmp_path):
    """SemDeDup recipe stage: a planted lexical near-copy drops, the
    rest of the corpus survives, attrition lands in the manifest."""
    docs = load_table(spark, SF_DIR, "documents").limit(60).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    base = docs.collect()
    near = base[0]["text"] + " tiny trailing addition"
    planted = docs.unionByName(
        spark.createDataFrame(
            [("planted-copy", near)], "doc_id string, text string"
        )
    )
    m = prepare_training_data(
        planted, str(tmp_path / "out"), min_quality=0.0, ppl_band=None,
        allowed_langs=("en", "de", "fr", "es", "it", "zh", "und"),
        jaccard_threshold=1.01,       # isolate the semantic stage
        semantic_dedup_eps=0.9,
    )
    assert m["stages"]["input"] == 61
    assert m["stages"]["curated"] == 61
    # the planted pair (and any NATURAL near-dups the template-built
    # corpus carries) collapse; the stage never over-drops wholesale
    assert 40 < m["stages"]["semantic_deduped"] <= 60
    out = spark.read.parquet(str(tmp_path / "out" / "docs"))
    ids = {r["id"] for r in out.select("id").collect()}
    # one of the two planted near-copies survives, never both
    assert len({base[0]["doc_id"], "planted-copy"} & ids) == 1
