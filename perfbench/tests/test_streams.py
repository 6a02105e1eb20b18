from collections import Counter

from perfbench import streams


def test_serve_stream_is_seeded():
    a = streams.serve_stream(7, 300)
    assert a == streams.serve_stream(7, 300)
    assert a != streams.serve_stream(8, 300)


def test_serve_stream_repeat_share_and_pool():
    calls = streams.serve_stream(3, 2000)
    assert len(calls) == 2000
    seen, repeats = set(), 0
    for c in calls:
        repeats += c in seen
        seen.add(c)
    # exactly one exact repeat per block of REPEAT_EVERY calls
    assert repeats == 2000 // streams.REPEAT_EVERY
    assert len(seen) > 256  # more distinct queries than the plan cache
    for i in range(0, 2000, streams.REPEAT_EVERY):  # block heads are fresh
        assert calls[i] not in calls[:i]
    modes = Counter(m for _, m in calls)
    assert set(modes) == {"AND", "OR"}
    terms = Counter(t for q, _ in calls for t in q.split())
    assert any(t in terms for t in ("ghost0", "MiXeD-Case7!"))
    assert any(t.startswith("rare") for t in terms)
    assert all(1 <= len(q.split()) <= streams.MAX_TERMS for q, _ in calls)


def test_every_seed_sends_the_same_shapes():
    def shapes(seed):
        return [(len(d["query"].split()), d["mode"])
                for b in streams.batch_stream(seed, n_blocks=5) for d in b]
    assert shapes(1) == shapes(2)
    n_and = sum(m == "AND" for _, m in shapes(1))
    assert n_and == 30  # 3 in every 10 of 100 queries


def test_batch_stream_has_no_repeats():
    blocks = streams.batch_stream(5, n_blocks=50, size=20)
    assert blocks == streams.batch_stream(5, n_blocks=50, size=20)
    assert blocks != streams.batch_stream(6, n_blocks=50, size=20)
    assert all(len(b) == 20 for b in blocks)
    pairs = [(d["query"], d["mode"]) for b in blocks for d in b]
    assert len(set(pairs)) == len(pairs)
    ids = [d["id"] for b in blocks for d in b]
    assert len(set(ids)) == len(ids)
