"""The driver-side connected-components kernel (``components._min_labels``)
against a Python union-find.  Spark-free."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from probminhash_spark.operators.components import _min_labels


def union_find(pairs):
    """node -> min id of its component, over every endpoint of ``pairs``."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _labels(pairs):
    src = np.array([a for a, _ in pairs], dtype=np.int64)
    dst = np.array([b for _, b in pairs], dtype=np.int64)
    ids, comp = _min_labels(src, dst)
    assert ids.dtype == comp.dtype == np.int64
    assert (ids[1:] > ids[:-1]).all()
    return dict(zip(ids.tolist(), comp.tolist()))


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(-(2**63), 2**63 - 1), st.integers(-(2**63), 2**63 - 1))
        | st.tuples(st.integers(0, 40), st.integers(0, 40)),
        max_size=80,
    )
)
def test_min_labels_matches_union_find(pairs):
    """Self-loop-only nodes are absent; every other node maps to the min id
    of its component, over the full int64 range."""
    assert _labels(pairs) == union_find([(a, b) for a, b in pairs if a != b])


def test_min_labels_adversarial_chains():
    """Chains under a random id permutation and reversed edge order: many
    hooking rounds, one component labelled by its min id."""
    rng = np.random.default_rng(7)
    for n in (2, 3, 1000):
        p = rng.permutation(n)
        for src, dst in [(p[:-1], p[1:]), (p[1:][::-1], p[:-1][::-1])]:
            ids, comp = _min_labels(src.astype(np.int64), dst.astype(np.int64))
            assert ids.tolist() == list(range(n))
            assert comp.tolist() == [0] * n
