"""The workloads. Each builds its inputs from the seed, drives the
public ``sifts_spark.Collection`` API from one closed-loop client and
checks every answer against :class:`perfbench.corpus.Model`.

A workload yields its operations one cycle at a time; a cycle has the same
composition on every seed.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

import numpy as np

from perfbench import corpus as C


@dataclass
class Op:
    """One call the client waits for, ``read`` or ``write``. ``check``
    runs untimed after the call: it applies the call to the model and
    returns whether the answer was right. ``docs`` counts the documents
    the call processed: searched by a query, written by a write,
    deduplicated by a dedup pass."""

    kind: str
    cat: str
    fn: Callable[[], Any]
    check: Callable[[Any], bool]
    docs: int = 0


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_mtime_ns, st.st_size)
    return out


class Workload:
    primary: str  # the category the latency metric is taken over
    tag: str  # prefix of the workload's per-kind layer metrics
    kinds: list[str]
    sizes: dict
    # seconds one warm cycle takes on the reference host (4 cores): a run
    # of --seconds measures the whole cycles that fit, at least one
    nominal_cycle_s: float

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.col = None
        self.root = None
        self.model = C.Model()

    def open(self, root: str, name: str, **kw):
        from sifts_spark import Collection

        return Collection(root, name, spark=self.spark, vacuum_grace_seconds=0, **kw)

    def setup(self, rep: int) -> None:
        """Build the workload's starting collection in a fresh store
        root (timed; run several times, the last one is kept)."""
        raise NotImplementedError

    def after_setup(self) -> None:
        """Untimed: build the model for the collection ``setup`` left."""

    def cycle(self) -> Iterator[Op]:
        raise NotImplementedError

    def space_amp(self) -> float:
        """Bytes under the store root per byte of live user data."""
        disk = sum(sz for _, sz in dir_files(self.root).values())
        return disk / self.model.user_bytes()

    def extra(self) -> dict:
        return {}

    def _fresh_root(self, tag: str) -> str:
        if self.root is not None:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = os.path.join(self.work, tag)
        return self.root


# ----------------------------------------------------------------------
# serve_query_mix
# ----------------------------------------------------------------------


def fts_check(model_ids: set[str], limit: int):
    def check(r) -> bool:
        ids = [x["id"] for x in r["results"]]
        ranks = [x["rank"] for x in r["results"]]
        return (
            r["total"] == len(model_ids)
            and len(ids) == min(limit, len(model_ids))
            and set(ids) <= model_ids
            and len(set(ids)) == len(ids)
            and all(a >= b for a, b in zip(ranks, ranks[1:]))
        )

    return check


def page_check(page: list[str], total: int):
    def check(r) -> bool:
        ids = [x["id"] for x in r["results"]]
        return ids == page and r["total"] == (total if page else 0)

    return check


class ServeQueryMix(Workload):
    """Read-only query mix over a compacted collection."""

    primary = "read"
    tag = "serve"
    nominal_cycle_s = 10.0
    sizes = dict(docs=2_000, vocab=4_000, words=20, dims=384, batches=2, limit=10)
    kinds = [
        "term", "bool", "where_page", "prefix", "vector",
        "keyset_page", "phrase", "count",
    ]

    def setup(self, rep: int) -> None:
        s = self.sizes
        gen = C.Generator(self.seed, s["vocab"], s["words"], s["dims"])
        docs = gen.docs(0, s["docs"])
        root = self._fresh_root(f"serve{rep}")
        col = self.open(root, "serve", embedding_function=C.EmbeddingFunction(s["dims"]))
        # two appends then a full compaction: reads take the full-fold path
        step = len(docs) // s["batches"]
        for b in range(s["batches"]):
            path = os.path.join(self.work, f"serve_in{rep}_{b}.parquet")
            C.write_parquet(docs[b * step:(b + 1) * step], path)
            col.add_dataframe(self.spark.read.parquet(path), embedding_col="embedding")
        col.compact()
        self.col, self.docs, self.vocab = col, docs, gen.vocab

    def after_setup(self) -> None:
        for d in self.docs:
            self.model.put(d)
        self.all_ids = sorted(self.model.docs)
        self.rng = np.random.default_rng([self.seed, 3])
        self.probs = C.zipf_probs(len(self.vocab))
        self.n_vec = 0

    def word(self) -> str:
        return self.vocab[int(self.rng.choice(len(self.vocab), p=self.probs))]

    def where_order(self, kind: str) -> tuple[dict, str]:
        """One filter and ordering shape per kind, with drawn literals: the
        measured query then has the plan shape the warm-up compiled."""
        r = self.rng
        lo = int(r.integers(C.K1_RANGE - 300))
        if kind == "where_page":
            labels = [str(x) for x in r.choice(C.K2_LABELS, 3, replace=False)]
            return {"k2": {"$in": labels}, "k1": {"$gte": lo}}, "-k1"
        return {"k1": {"$gte": lo, "$lt": lo + 300}}, "k2"

    def op(self, kind: str) -> Op:
        m, col, lim = self.model, self.col, self.sizes["limit"]
        searched = len(m)  # every query scans the collection
        if kind in ("term", "bool", "prefix", "phrase"):
            if kind == "term":
                q, ids = (w := self.word()), m.term(w)
            elif kind == "bool":  # AND binds tighter than OR
                a, b, c = self.word(), self.word(), self.word()
                q = f"{a} and {b} or {c}"
                ids = (m.term(a) & m.term(b)) | m.term(c)
            elif kind == "prefix":
                p = self.word()[:3]
                q, ids = p + "*", m.prefix(p)
            else:
                toks = m.docs[self.all_ids[int(self.rng.integers(len(self.all_ids)))]].tokens
                j = int(self.rng.integers(len(toks) - 1))
                q, ids = f'"{toks[j]} {toks[j + 1]}"', m.phrase(toks[j:j + 2])
            return Op(kind, "read", lambda: col.query(q, limit=lim),
                      fts_check(ids, lim), searched)
        if kind in ("where_page", "keyset_page"):
            where, order_by = self.where_order(kind)
            lst = m.ordered(m.where(self.all_ids, where), order_by)
            if kind == "where_page":
                off = int(self.rng.integers(max(1, min(len(lst), 300))))
                page = lst[off:off + lim]
                fn = lambda: col.query(  # noqa: E731
                    where=where, order_by=order_by, offset=off, limit=lim)
            else:
                p = int(self.rng.integers(max(1, len(lst))))
                page = lst[p + 1:p + 1 + lim]
                cur = {"id": lst[p], "metadata": m.docs[lst[p]].meta} if lst else {"id": ""}
                fn = lambda: col.query(  # noqa: E731
                    where=where, order_by=order_by, after=cur, limit=lim)
            return Op(kind, "read", fn, page_check(page, len(lst)), searched)
        if kind == "vector":
            self.n_vec += 1
            text = f"query {self.seed} {self.n_vec}"
            ids, scores = m.cosine(C.embed_text(text, self.sizes["dims"]))

            def check(r) -> bool:
                got = [(x["id"], x["rank"]) for x in r["results"]]
                return r["total"] == len(ids) and C.topk_matches(ids, scores, got, lim)

            return Op(kind, "read",
                      lambda: col.query(text, vector_search=True, limit=lim),
                      check, searched)
        if kind == "count":
            return Op(kind, "read", col.count, lambda n: n == len(m), searched)
        raise ValueError(kind)

    def cycle(self) -> Iterator[Op]:
        for kind in self.kinds:
            yield self.op(kind)


# ----------------------------------------------------------------------
# ingest_churn
# ----------------------------------------------------------------------


class IngestChurn(Workload):
    """Write churn with curation, starting from an empty collection. Each
    round: an add of new documents (some near-copies of others), an
    upsert of live ids with new contents, a delete of live ids, an
    in-place MinHash dedup pass and a full compaction + vacuum. A
    read-your-write probe for the round's token follows the add, the
    upsert, the delete and the dedup + compaction step."""

    primary = "write"
    tag = "churn"
    kinds = ["add", "upsert", "delete", "dedup", "compact", "probe"]
    nominal_cycle_s = 20.0
    sizes = dict(vocab=4_000, words=20, dims=384,
                 add=200, copies=20, upsert=60, delete=40, plant_share=0.1,
                 one_edit_share=0.7)
    dedup_params = dict(num_hashes=16, bands=8, jaccard_threshold=0.5)
    recall_floor = 0.8

    def setup(self, rep: int) -> None:
        s = self.sizes
        self.gen = C.Generator(self.seed, s["vocab"], s["words"], s["dims"])
        root = self._fresh_root(f"ingest{rep}")
        self.col = self.open(root, "churn", embedding_function=C.EmbeddingFunction(s["dims"]))

    def after_setup(self) -> None:
        self.rng = np.random.default_rng([self.seed, 4])
        self.next_id = 0
        self.round = 0
        self.files: dict = {}
        self.user_in = 0
        self.bytes_written = 0
        self.amp_samples: list[float] = []
        self.live_batches: list[int] = []
        self.planted: set[tuple[str, str]] = set()
        self.recalls: list[float] = []
        self.removed: list[int] = []

    def account(self, user_bytes: int) -> None:
        """After a write: bytes the write put on disk, and space use."""
        now = dir_files(self.root)
        self.bytes_written += sum(
            sz for p, (mt, sz) in now.items() if self.files.get(p) != (mt, sz)
        )
        self.files = now
        self.user_in += user_bytes
        self.amp_samples.append(sum(sz for _, sz in now.values()) / self.model.user_bytes())

    def write(self, kind: str, fn, apply, user_bytes: int, ndocs: int) -> Op:
        """A write op; ``apply(result)`` updates the model and returns
        False only when the result is wrong."""

        def check(result) -> bool:
            ok = apply(result)
            self.account(user_bytes)
            return ok is not False

        return Op(kind, "write", fn, check, ndocs)

    def put(self, docs: list[C.Doc]) -> None:
        for d in docs:
            self.model.put(d)

    def retire(self, ids) -> None:
        """Planted pairs stop counting once either side changes."""
        ids = set(ids)
        self.planted = {p for p in self.planted if not ids & set(p)}

    def probe(self, token: str) -> Op:
        m, col = self.model, self.col

        def fn():
            return col.query(token), col.count()

        def check(r) -> bool:
            page, n = r
            m_ids = m.term(token)
            ids = [x["id"] for x in page["results"]]
            man = col.store.read_manifest(col.name) or {}
            self.live_batches.append(len(man.get("batches", [])))
            return (
                set(ids) == m_ids and len(ids) == len(m_ids)
                and page["total"] == len(m_ids) and n == len(m)
            )

        return Op("probe", "read", fn, check)

    def new_docs(self, token: str) -> list[C.Doc]:
        """The round's add: fresh documents, some carrying ``token``, and
        near-copies of live or fresh documents."""
        s = self.sizes
        new = self.gen.docs(self.next_id, s["add"] - s["copies"], token, s["plant_share"])
        self.next_id += len(new)
        pool = {**self.model.docs, **{d.id: d for d in new}}
        for src in self.rng.choice(sorted(pool), s["copies"], replace=False):
            edits = 1 if self.rng.random() < s["one_edit_share"] else 2
            new.append(self.gen.near_copy(pool[str(src)], C.doc_id(self.next_id), edits))
            self.planted.add((str(src), new[-1].id))
            self.next_id += 1
        return new

    def dedup_check(self, removed: int) -> bool:
        """Every document the pass removed must be a near-duplicate of a
        survivor; recall is the share of planted copies removed."""
        m, col = self.model, self.col
        live = {r["id"] for r in col.docs().select("id").collect()}
        gone = [i for i in m.docs if i not in live]
        src_of = {c: a for a, c in self.planted}
        thr = self.dedup_params["jaccard_threshold"] - 0.02

        def justified(i) -> bool:
            toks = m.docs[i].tokens
            if i in src_of and src_of[i] in live and C.jaccard(m.docs[src_of[i]].tokens, toks) >= thr:
                return True
            return any(C.jaccard(m.docs[j].tokens, toks) >= thr for j in live if j < i)

        ok = removed == len(gone) and live <= set(m.docs) and all(map(justified, gone))
        recall = (
            sum(c in set(gone) for _, c in self.planted) / len(self.planted)
            if self.planted else 1.0
        )
        self.recalls.append(recall)
        self.removed.append(len(gone))
        for i in gone:
            m.remove(i)
        self.retire(gone)
        self.planted.clear()
        return ok and recall >= self.recall_floor

    def cycle(self) -> Iterator[Op]:
        s, m, col = self.sizes, self.model, self.col
        self.round += 1
        token = f"probe{self.round}"
        new = self.new_docs(token)
        path = os.path.join(self.work, f"ingest_round{self.round}.parquet")
        C.write_parquet(new, path)
        df = self.spark.read.parquet(path)
        yield self.write(
            "add", lambda: col.add_dataframe(df, embedding_col="embedding"),
            lambda _: self.put(new), sum(d.user_bytes() for d in new), len(new),
        )
        yield self.probe(token)
        os.remove(path)

        upd = self.gen.docs(0, s["upsert"], token, s["plant_share"])
        for d, i in zip(upd, self.rng.choice(sorted(m.docs), s["upsert"], replace=False)):
            d.id = str(i)
        self.retire(d.id for d in upd)
        yield self.write(
            "upsert",
            lambda: col.update([d.id for d in upd], [d.content for d in upd],
                               [d.meta for d in upd]),
            lambda _: self.put(upd), sum(d.user_bytes() for d in upd), len(upd),
        )
        yield self.probe(token)

        gone = [str(i) for i in self.rng.choice(sorted(m.docs), s["delete"], replace=False)]
        self.retire(gone)
        yield self.write(
            "delete", lambda: col.delete(gone),
            lambda _: [m.remove(i) for i in gone], sum(len(i) for i in gone), len(gone),
        )
        yield self.probe(token)

        yield self.write(
            "dedup", lambda: col.dedup("minhash", **self.dedup_params),
            self.dedup_check, 0, len(m),
        )
        yield self.write("compact", col.compact, lambda _: None, 0, 0)
        yield self.probe(token)

    def space_amp(self) -> float:
        return float(np.median(self.amp_samples))

    def extra(self) -> dict:
        return {
            "store.write_amp": self.bytes_written / self.user_in,
            "store.live_batches": float(np.mean(self.live_batches)) if self.live_batches else 0.0,
            "dedup.recall": float(np.mean(self.recalls)) if self.recalls else 0.0,
            "dedup.removed": float(np.mean(self.removed)) if self.removed else 0.0,
        }


WORKLOADS = {
    "serve_query_mix": ServeQueryMix,
    "ingest_churn": IngestChurn,
}
