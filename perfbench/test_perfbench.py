"""Self-tests of the benchmark: deterministic inputs, the model against the
engine on a tiny corpus, and the span arithmetic.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import corpus as C  # noqa: E402
from perfbench.run import Loop, Sample, gmean_of_medians, percentile_tail  # noqa: E402
from perfbench.workloads import Op  # noqa: E402
from perfbench.trace import Span, self_times  # noqa: E402


def _snapshot(seed):
    g = C.Generator(seed, 500, dims=8)
    docs = g.docs(0, 50, plant="probe1", plant_share=0.2)
    docs.append(g.near_copy(docs[3], C.doc_id(50), 2))
    return [(d.id, d.content, d.meta_json(), d.emb.tobytes()) for d in docs]


def test_generator_is_deterministic_per_seed():
    assert _snapshot(7) == _snapshot(7)
    assert _snapshot(7) != _snapshot(8)
    assert C.vocabulary(3, 200) == C.vocabulary(3, 200)
    assert len(set(C.vocabulary(3, 200))) == 200


def test_vocabulary_cannot_collide_with_query_keywords():
    assert not {"and", "or"} & set(C.vocabulary(1, 4000))


def test_self_time_subtracts_children_once():
    spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("a", 1.0, 4.0, 0, 0),
        Span("b", 3.0, 5.0, 0, 0),  # overlaps a: the union 1..5 is covered
        Span("c", 2.0, 3.0, 1, 0),  # grandchild: only subtracted from a
        Span("d", 9.0, 12.0, 0, 0),  # clipped to the parent's end
    ]
    assert self_times(spans) == pytest.approx([10 - 4 - 1, 2.0, 2.0, 1.0, 3.0])


def test_tail_and_gmean():
    assert percentile_tail([1.0, 2.0, 3.0]) == (3.0, 100.0, 3)
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = percentile_tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10
    samples = [Sample("a", "read", 1.0, True, 0), Sample("a", "read", 3.0, True, 0),
               Sample("b", "read", 8.0, True, 0), Sample("w", "write", 100.0, True, 0)]
    assert gmean_of_medians(samples, "read") == pytest.approx(4.0)


def test_warm_up_runs_each_kind_once():
    ran = []

    class Fake:
        def cycle(self):
            for kind, cat in [("add", "write"), ("probe", "read"),
                              ("delete", "write"), ("probe", "read")]:
                yield Op(kind, cat, lambda k=kind: ran.append(k), lambda _: True)

    loop = Loop(Fake()).warm_up()
    assert ran == ["add", "probe", "delete"]
    assert [x.kind for x in loop.samples] == ran


def test_model_where_order_and_topk():
    m = C.Model()
    metas = [{"k1": 5, "k2": "grp01"}, {"k1": 2}, None, {"k2": "grp00"}, {"k1": 5}]
    for i, meta in enumerate(metas):
        m.put(C.Doc(C.doc_id(i), ["w"], meta, np.eye(5, dtype=np.float32)[i]))
    ids = sorted(m.docs)
    assert m.ordered(ids, "k1") == [ids[1], ids[0], ids[4], ids[2], ids[3]]
    assert m.ordered(ids, "-k1") == [ids[2], ids[3], ids[0], ids[4], ids[1]]
    assert m.where(ids, {"k1": {"$gte": 3}}) == [ids[0], ids[4]]
    assert m.where(ids, {"k2": {"$in": ["grp00"]}}) == [ids[3]]
    emb_ids, scores = m.cosine(np.array([0, 0, 1.0, 0.5, 0], dtype=np.float32))
    assert C.topk_matches(emb_ids, scores, [(ids[2], scores[2]), (ids[3], scores[3])], 2)
    assert not C.topk_matches(emb_ids, scores, [(ids[3], scores[3]), (ids[0], 0.0)], 2)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.run import start_spark, stop_spark

    work = str(tmp_path_factory.mktemp("spark"))
    session = start_spark(work, trace=False)
    yield session
    stop_spark(session)


@pytest.mark.parametrize("name,sizes", [
    ("serve_query_mix", dict(docs=300, dims=8)),
    ("ingest_churn", dict(dims=8, add=60, copies=6, upsert=20, delete=10)),
])
def test_model_matches_engine_on_tiny_corpus(spark, tmp_path, name, sizes):
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name](spark, str(tmp_path), seed=5)
    wl.sizes = {**wl.sizes, **sizes}
    wl.setup(0)
    wl.after_setup()
    loop = Loop(wl).run(2)
    assert loop.errors == []
    assert loop.samples and all(x.ok for x in loop.samples)
    assert wl.space_amp() > 0
