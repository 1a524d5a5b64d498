"""The bucket-pairs harness, driven in-process on Arrow batches."""

from itertools import combinations

import numpy as np
import pyarrow as pa

from mpower_feature_analysis_spark.functions import buckets

# sizes on both sides of the block threshold at _SLAB = 20 (a 6-member
# triangle is 15 pairs, a 7-member one 21), with repeated and NULL ids
RNG = np.random.default_rng(5)
LISTS = [RNG.permutation(n).tolist() for n in (0, 1, 2, 3, 6, 6, 7, 9, 40, 41)]
LISTS += [[None, 3], [None, 2, 1, 1], [7, 7, 7], [1, 4, 4, 9], [None]]


def _pairs(lists, cap=None, mode="star", verify=None, typ=pa.int64()):
    """Output rows of the kernel over ``lists`` split into two batches."""
    ms = pa.array([[{"i": x} for x in ms] for ms in lists],
                  type=pa.list_(pa.struct([("i", typ)])))
    half = len(lists) // 2
    rbs = [pa.RecordBatch.from_arrays([ms.slice(lo, n)], names=["ms"])
           for lo, n in ((0, half), (half, len(lists) - half))]
    out = list(buckets.pair_batches(iter(rbs), cap, mode, verify))
    assert all(b.schema.field("id_a").type == typ for b in out)
    return sorted(zip(*pa.Table.from_batches(out).to_pydict().values())) if out else []


def _reference(lists, cap=None, mode="star", keep=lambda a, b: True):
    """``itertools.combinations`` of each sorted bucket under strict ``<``;
    a bucket above ``cap`` members pairs its min id with the others
    (``'star'``) or is dropped (``'skip'``)."""
    out = []
    for ms in lists:
        ms = sorted(x for x in ms if x is not None)
        if cap is not None and len(ms) > cap:
            cand = [(ms[0], x) for x in ms[1:]] if mode == "star" else []
        else:
            cand = list(combinations(ms, 2))
        out += [(a, b) for a, b in cand if a < b and keep(a, b)]
    return sorted(out)


def _odd_sum(flat):
    """A verify that keeps pairs with an odd id sum and outputs the sum."""
    ids = flat.field("i").to_numpy(zero_copy_only=False)

    def check(a, b):
        s = ids[a] + ids[b]
        return s % 2 == 1, {"s": s.astype(np.int64)}

    return check


def test_bucket_pairs_equals_combinations(monkeypatch):
    """Triangle and row-blocked buckets, star and skip caps, with and
    without a verify: the kernel emits exactly the strict ``a < b`` pairs,
    so NULL ids never pair and a repeated id gives no self-pair."""
    for slab in (buckets._SLAB, 20, 1):
        monkeypatch.setattr(buckets, "_SLAB", slab)
        for cap, mode in ((None, "star"), (8, "star"), (8, "skip")):
            assert _pairs(LISTS, cap, mode) == _reference(LISTS, cap, mode)
            want = [(a, b, a + b) for a, b in
                    _reference(LISTS, cap, mode, lambda a, b: (a + b) % 2)]
            assert _pairs(LISTS, cap, mode, _odd_sum) == want, (slab, cap)


def test_bucket_pairs_keeps_id_type():
    """String and int32 ids leave with their Arrow type."""
    lists = [["b", "a", None, "c"], ["x", "x", "y"]]
    assert _pairs(lists, typ=pa.string()) == [
        ("a", "b"), ("a", "c"), ("b", "c"), ("x", "y"), ("x", "y")]
    assert _pairs([[3, 1, 2]], typ=pa.int32()) == [(1, 2), (1, 3), (2, 3)]
