import numpy as np

import gen


def test_vector_inputs_are_deterministic_per_seed():
    a, b, c = gen.VectorGen(7, 16, 8), gen.VectorGen(7, 16, 8), gen.VectorGen(8, 16, 8)
    da = gen.digest(a.base(500), a.query(3), a.insert(4, 20), a.probes(5, 30, 2))
    db = gen.digest(b.base(500), b.query(3), b.insert(4, 20), b.probes(5, 30, 2))
    dc = gen.digest(c.base(500), c.query(3), c.insert(4, 20), c.probes(5, 30, 2))
    assert da == db
    assert da != dc
    assert a.base(10).dtype == np.float32 and a.base(10).shape == (10, 16)


def test_probe_batches_sit_around_the_chosen_clusters():
    g = gen.VectorGen(3, 16, 32)
    p = g.probes(1, 200, 2)
    nearest = ((p[:, None, :] - g.centers[None, :, :]) ** 2).sum(-1).argmin(1)
    assert len(set(nearest.tolist())) == 2


def test_op_inputs_depend_only_on_op_index():
    g = gen.VectorGen(1, 8, 4)
    q5 = g.query(5)
    g.query(1), g.insert(2, 10)  # other draws in between change nothing
    assert np.array_equal(g.query(5), q5)
    assert not np.array_equal(g.query(6), q5)


def test_delete_ids_distinct_subset_and_order_free():
    g = gen.VectorGen(1, 8, 4)
    live = np.arange(100, 200)
    ids = g.delete_ids(3, live, 10)
    assert len(set(ids.tolist())) == 10 and set(ids.tolist()) <= set(live.tolist())
    assert np.array_equal(ids, g.delete_ids(3, live[::-1], 10))


def test_docs_deterministic_with_planted_near_copies():
    a, b = gen.DocGen(11), gen.DocGen(11)
    batches_a = [a.batch(i, 100) for i in range(3)]
    batches_b = [b.batch(i, 100) for i in range(3)]
    for (ia, ta, pa), (ib, tb, pb) in zip(batches_a, batches_b):
        assert np.array_equal(ia, ib) and ta == tb and np.array_equal(pa, pb)
    assert batches_a[0][2].sum() == 0
    assert batches_a[1][2].sum() == 20 and batches_a[2][2].sum() == 20
    assert list(batches_a[1][0]) == list(range(100, 200))
    # every planted row is within `subs` word substitutions of an earlier doc
    earlier = a.docs[:100]
    for j in np.flatnonzero(batches_a[1][2]):
        words = a.docs[100 + j]
        assert min(int((words != e).sum()) if len(e) == len(words) else 999 for e in earlier) <= a.subs
    assert gen.DocGen(12).batch(0, 100)[1] != batches_a[0][1]


def test_docs_batches_must_come_in_order():
    d = gen.DocGen(1)
    d.batch(0, 10)
    try:
        d.batch(2, 10)
    except ValueError:
        return
    raise AssertionError("out-of-order batch accepted")
