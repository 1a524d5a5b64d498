"""Bucket pair expansion: the members of each bucket become their
unordered pairs, in one ``mapInArrow`` pass.

Every near-duplicate family gathers each bucket's members with one
``groupBy`` and expands them in :func:`bucket_pairs`: MinHash bands,
SimHash block keys, capped n-gram shingles and embedding LSH buckets. A
bucket self-join would shuffle on a skewed key: a hot bucket is then one
post-shuffle partition that AQE's skew split cannot divide, and the join
materializes every pair as a JVM row (7 s for SimHash at sf1.0, and 400 s
for 13.5M embedding pairs at bits=4, against ~1 s in numpy).

The harness is the one place that knows these rules:

* NULL ids never pair, and a bucket with fewer than two members emits
  nothing;
* members are sorted by id, and only pairs with strict ``id_a < id_b``
  leave, so a repeated id never pairs with itself;
* a bucket with more than ``cap`` members either pairs each member with
  its min-id canonical (``'star'``: O(bucket) pairs, and transitive
  closure still connects the bucket) or is dropped (``'skip'``);
* every other bucket emits its upper triangle in passes of at most
  :data:`_SLAB` pairs: buckets of one size run together, and a bucket whose
  triangle is larger than a slab is blocked by rows, so a task's memory
  stays bounded whatever the bucket size.

An optional ``verify`` is the only per-family code. It scores the pairs
and decides which to keep.
"""

from __future__ import annotations

from itertools import chain

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SLAB = 1 << 21  # pairs per pass: bounds the kernel's memory


def _fan(heads, k):
    """Pairs of each position in ``heads`` with the ``k`` positions that
    follow it."""
    ia = np.repeat(heads, k)
    return ia, ia + 1 + np.arange(len(ia)) - np.repeat(np.cumsum(k) - k, k)


def _triangles(starts, n: int):
    """Upper-triangle pairs ``(ia, ib)``, as positions in the sorted
    members, of the buckets of ``n`` members that start at ``starts``;
    each pass holds at most ``_SLAB`` pairs (or one row of one bucket)."""
    npairs = n * (n - 1) // 2
    if npairs <= _SLAB:
        iu, ju = np.triu_indices(n, 1)
        for lo in range(0, len(starts), _SLAB // npairs):
            s = starts[lo:lo + _SLAB // npairs, None]
            yield (s + iu).ravel(), (s + ju).ravel()
        return
    rows = max(1, _SLAB // n)
    for s in starts.tolist():
        for lo in range(0, n - 1, rows):
            r = np.arange(lo, min(lo + rows, n - 1))
            yield _fan(s + r, n - 1 - r)


def _members(ms, ids):
    """Indices into ``ids`` (the flattened member ids of an Arrow batch of
    ``ms`` lists) of the pairable members, sorted by (bucket, id): NULL ids
    and buckets left with fewer than two members are dropped. Returns
    ``(indices, their ids, bucket starts, bucket sizes)``, starts and sizes
    in sorted order."""
    lens = pc.fill_null(pc.list_value_length(ms), 0).to_numpy(zero_copy_only=False)
    bkt = np.repeat(np.arange(len(lens)), lens)
    if ids.null_count:
        m = np.flatnonzero(ids.is_valid().to_numpy(zero_copy_only=False))
        key, bkt = ids.take(m).to_numpy(zero_copy_only=False), bkt[m]
    else:
        m, key = np.arange(len(ids)), ids.to_numpy(zero_copy_only=False)
    sizes = np.bincount(bkt, minlength=len(lens))
    multi = sizes[bkt] >= 2
    m, key, bkt = m[multi], key[multi], bkt[multi]
    o = np.lexsort((key, bkt))
    sizes = sizes[sizes >= 2]
    return m[o], key[o], np.cumsum(sizes) - sizes, sizes


def bucket_pairs(
    buckets: DataFrame,
    cap: int | None = None,
    mode: str = "star",
    verify=None,
    verify_schema: str = "",
) -> DataFrame:
    """``(id_a, id_b[, verify columns])`` pairs of the members of each
    bucket of ``buckets``, under the rules in the module docstring.

    ``buckets`` has a column ``ms: array<struct<i, ...>>``, one row per
    bucket, where ``i`` is the member id and the other fields are the
    payload ``verify`` reads. The output ids keep the Arrow type of ``i``.

    ``verify(flat)`` is called once per Arrow batch with the flattened
    member structs and returns ``check(a, b) -> (keep, columns)``: ``a``
    and ``b`` index ``flat``, ``keep`` is a boolean mask over the pairs and
    ``columns`` maps each name of ``verify_schema`` (e.g. ``'hamming
    int'``) to a numpy array of that type, one value per pair.
    """
    if mode not in ("star", "skip"):
        raise ValueError("hot_bucket_mode must be 'star' or 'skip'")
    id_type = buckets.schema["ms"].dataType.elementType["i"].dataType.simpleString()
    schema = f"id_a {id_type}, id_b {id_type}"
    if verify_schema:
        schema += f", {verify_schema}"
    return buckets.filter(F.size("ms") >= 2).select("ms").mapInArrow(
        lambda batches: pair_batches(batches, cap, mode, verify), schema
    )


def pair_batches(batches, cap, mode, verify=None):
    """The kernel of :func:`bucket_pairs` over Arrow record batches whose
    first column is ``ms``."""
    for rb in batches:
        flat = pc.list_flatten(rb.column(0))
        m, key, starts, sizes = _members(rb.column(0), flat.field("i"))
        check = verify(flat) if verify else None
        hot = sizes > cap if cap is not None else np.zeros(len(sizes), bool)
        # star: each hot bucket's canonical (its first member) with the rest
        passes = [[_fan(starts[hot], sizes[hot] - 1)]] if mode == "star" else []
        for n in np.unique(sizes[~hot]).tolist():
            passes.append(_triangles(starts[~hot & (sizes == n)], n))
        out, held = [], 0
        for ia, ib in chain.from_iterable(passes):
            strict = key[ia] < key[ib]
            a, b = m[ia[strict]], m[ib[strict]]
            cols = {}
            if check is not None:
                keep, cols = check(a, b)
                a, b = a[keep], b[keep]
                cols = {k: v[keep] for k, v in cols.items()}
            out.append((a, b, cols))
            held += len(a)
            if held >= _SLAB:
                yield _batch(flat.field("i"), out)
                out, held = [], 0
        if held:
            yield _batch(flat.field("i"), out)


def _batch(ids, out):
    a, b = (np.concatenate([o[i] for o in out]) for i in (0, 1))
    cols = {k: np.concatenate([o[2][k] for o in out]) for k in out[0][2]}
    return pa.RecordBatch.from_arrays(
        [ids.take(a), ids.take(b), *(pa.array(v) for v in cols.values())],
        names=["id_a", "id_b", *cols],
    )
