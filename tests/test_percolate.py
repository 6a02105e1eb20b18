"""Percolator (engine/percolate.py): reverse search — registered saved
queries matched against incoming documents. Differential reference:
set-intersection arithmetic over the frozen analyzer tokens."""

import pytest

from engine.analyzer import tokenize_py
from engine.config import DEFAULT
from engine.percolate import percolate, register_queries

QUERIES = [
    {"id": "q-and", "query": "hot0 hot1", "mode": "AND"},
    {"id": "q-or", "query": "rare3 rare4", "mode": "OR"},
    {"id": "q-one", "query": "w010", "mode": "OR"},
    {"id": "q-msm", "query": "hot0 w010 w020", "min_match": 2},
    {"id": "q-mixed", "query": "MiXeD-Case7!", "mode": "AND"},
]


@pytest.fixture(scope="module")
def qidx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("perc") / "qidx")
    return register_queries(spark, QUERIES, d)


def _ref_matches(doc_text, queries=QUERIES):
    toks = set(tokenize_py(doc_text, DEFAULT.analyzer))
    out = []
    for q in queries:
        terms = set(tokenize_py(q["query"], DEFAULT.analyzer))
        req = (q.get("min_match")
               or (len(terms) if q.get("mode", "OR").upper() == "AND"
                   else 1))
        if len(terms & toks) >= req:
            out.append(q["id"])
    return sorted(out)


@pytest.mark.parametrize("doc", [
    "hot0 hot1 filler words",          # q-and + q-msm? (hot0 only: no)
    "hot0 w010 something",             # q-one + q-msm (2 of 3)
    "rare4 alone",                     # q-or
    "totally unrelated tokens here",   # nothing
    "MiXeD-Case7! and hot0 hot1 w010 w020 rare3",  # everything
    "",                                # empty doc
])
def test_percolate_matches_reference(qidx, doc):
    got = [r.query_id for r in percolate(qidx, doc).collect()]
    assert got == _ref_matches(doc), doc


def test_percolate_unregister_via_deletes(spark, tmp_path):
    from engine.deletes import delete_docs
    d = str(tmp_path / "qidx2")
    qidx = register_queries(spark, QUERIES, d)
    doc = "hot0 hot1 w010"
    before = [r.query_id for r in percolate(qidx, doc).collect()]
    assert "q-and" in before
    delete_docs(qidx, "qid = 'q-and'")
    after = [r.query_id for r in percolate(qidx, doc).collect()]
    assert sorted(set(before) - {"q-and"}) == after


def test_register_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="duplicate query id"):
        register_queries(spark, [{"id": "a", "query": "x"},
                                 {"id": "a", "query": "y"}],
                         str(tmp_path / "dup"))
    with pytest.raises(ValueError, match="no analyzer tokens"):
        register_queries(spark, [{"id": "a", "query": "!!!"}],
                         str(tmp_path / "tok"))
    with pytest.raises(ValueError, match="OR-family floor"):
        register_queries(spark, [{"id": "a", "query": "x y",
                                  "mode": "AND", "min_match": 2}],
                         str(tmp_path / "mm"))


def test_percolate_requires_percolator_index(spark, corpus_df, tmp_path):
    from engine.build import build_index
    idx = build_index(spark, corpus_df, str(tmp_path / "plain"))
    with pytest.raises(ValueError, match="percolator index"):
        percolate(idx, "hot0")


def test_register_queries_append_matches_batch(spark, tmp_path):
    """Incremental registration (r5): N one-shot == (N-m) + append(m)
    for every percolated doc; id clashes and non-percolator indexes are
    rejected."""
    from engine.percolate import (percolate, register_queries,
                                  register_queries_append)
    qs = [{"id": f"a{i:03d}", "query": f"w{(3 * i) % 40:03d} hot0",
           "mode": "AND"} for i in range(30)]
    qs += [{"id": "or1", "query": "rare3 rare4"},
           {"id": "mm1", "query": "w001 w002 w003", "min_match": 2}]
    full = register_queries(spark, qs, str(tmp_path / "full"))
    part = register_queries(spark, qs[:20], str(tmp_path / "part"))
    part2 = register_queries_append(part, qs[20:])
    docs = ["hot0 w000 w003 filler", "rare3 rare4 something",
            "w001 w003 only", "nothing relevant"]
    for d in docs:
        want = [r.query_id for r in percolate(full, d).collect()]
        got = [r.query_id for r in percolate(part2, d).collect()]
        assert got == want, d
    import pytest as _pt
    with _pt.raises(ValueError, match="already registered"):
        register_queries_append(part2, [{"id": "a005", "query": "hot0"}])
    with _pt.raises(ValueError, match="duplicate query id"):
        register_queries_append(part2, [{"id": "x", "query": "hot0"},
                                        {"id": "x", "query": "hot1"}])


def test_register_append_uncompacted_reads_increments(spark, tmp_path):
    """compact_now=False (the O(batch) path): percolation must see the
    appended queries live — union scan over final + increment segments,
    xxh-based bucket pruning (new-to-vocab terms included); a later
    explicit compact changes nothing."""
    from engine.percolate import (percolate, register_queries,
                                  register_queries_append)
    from engine.streaming import compact
    base = [{"id": f"b{i:02d}", "query": f"w{i:03d} hot0", "mode": "AND"}
            for i in range(10)]
    # 'zzzuniq' is new to the vocabulary — lexicon-based pruning would
    # silently drop it until compact
    extra = [{"id": "new-or", "query": "rare3 zzzuniq"},
             {"id": "new-and", "query": "hot0 w003", "mode": "AND"}]
    qx = register_queries(spark, base, str(tmp_path / "perc"))
    qx2 = register_queries_append(qx, extra)  # no compact
    docs = ["hot0 w003 filler", "zzzuniq alone", "rare3 something",
            "w000 hot0"]
    full = register_queries(spark, base + extra, str(tmp_path / "full"))
    for d in docs:
        want = [r.query_id for r in percolate(full, d).collect()]
        got = [r.query_id for r in percolate(qx2, d).collect()]
        assert got == want, d
    qx3 = compact(spark, str(tmp_path / "perc"))
    for d in docs:
        want = [r.query_id for r in percolate(full, d).collect()]
        got = [r.query_id for r in percolate(qx3, d).collect()]
        assert got == want, ("post-compact", d)


def test_percolate_reads_lone_increment(spark, tmp_path):
    """When the only valid segment is an increment (a streaming
    percolator with no final segment, whose second increment never got
    its _SUCCESS marker), percolation scans exactly that increment."""
    import os

    from engine.build import load_index
    from engine.config import IndexConfig
    from engine.percolate import _query_rows_df
    from engine.streaming import append_batch, create_streaming_index
    d = str(tmp_path / "perc_inc")
    cfg = IndexConfig(doc_values=("qid", "required"))
    create_streaming_index(spark, d, expected_docs=len(QUERIES), cfg=cfg)
    for part in (QUERIES[:3], QUERIES[3:]):
        append_batch(spark, _query_rows_df(spark, part, cfg.analyzer), d,
                     cfg=cfg)
    os.remove(os.path.join(d, "segments", "inc_00001", "_SUCCESS"))
    qx = load_index(spark, d)
    for doc in ("hot0 w010 something",
                "MiXeD-Case7! and hot0 hot1 w010 w020 rare3"):
        got = [r.query_id for r in percolate(qx, doc).collect()]
        assert got == _ref_matches(doc, QUERIES[:3]), doc
