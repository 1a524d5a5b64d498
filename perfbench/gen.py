"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed and
sizes give the same tables.  Tables are written as parquet into a cache
directory keyed by generator, sizes and seed, and a later run with the same
key reuses them.  Generation happens before any timed region, so its cost
never reaches ``setup_s``.

* :func:`transcripts` -- turns plus states for the flagship pipeline, from
  the package's own generators (``transcripts.generate_transcripts`` and
  ``generate_state_events``) written to parquet.
* :func:`churn` -- the localized append stream for the incremental
  refresh: each step touches a contiguous conv_id range of about 0.5% of
  the conversations with new turns and resent old ones.
* :func:`docs` -- a text corpus with planted near-duplicate pairs (copies
  that differ only in case and whitespace) and one boilerplate template
  family large enough to form a hot LSH bucket.
* :func:`embeddings` -- 64-dim vectors with planted near-duplicate pairs,
  one dense hot cluster, and query vectors drawn near corpus vectors.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from mpower_feature_analysis_spark.transcripts import generate_state_events, generate_transcripts

ROLES = np.array(["user", "assistant", "tool", "system"], dtype=object)
TOOLS = np.array(["search", "python", "browser", "editor", "shell"], dtype=object)
TS = pa.timestamp("us", tz="UTC")

# transcripts: N_HOT hot conversations hold HOT_FRAC of the turns
N_HOT = 4
HOT_FRAC = 0.2
TURN_FILES = 8
# churn: each step touches this share of the conversations
CHURN_CONV_FRAC = 0.005
# docs and embeddings: share of planted near-duplicate pairs
PAIR_FRAC = 0.01
N_QUERIES = 64


def _write(table: pa.Table, path: str, n_files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def _cached(cache_dir: str, key: dict, build) -> str:
    """Directory holding the tables ``build(out_dir)`` writes for ``key``;
    built once per key.  A half-written directory is never reused: the
    marker file is written last."""
    name = "-".join(f"{k}{v}" for k, v in key.items())
    out = os.path.join(cache_dir, name)
    if os.path.exists(os.path.join(out, "_done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    build(out)
    with open(os.path.join(out, "_done"), "w") as f:
        json.dump(key, f)
    return out


def conv_ids(ids: np.ndarray) -> pa.Array:
    """Conversation ids in the package generator's ``conv00042`` form; zero
    padding keeps string order equal to numeric order, so a conv_id range
    is a contiguous key range."""
    return pc.binary_join_element_wise(
        "conv", pc.utf8_lpad(pa.array(ids).cast(pa.string()), 5, "0"), ""
    )


def _turn_text(turn_idx: np.ndarray, conv: np.ndarray, nonce: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        "turn ", pa.array(turn_idx).cast(pa.string()),
        " of conv ", pa.array(conv).cast(pa.string()),
        " ★ ", pa.array(nonce).cast(pa.string()), "",
    )


def _turns_table(conv, turn_idx, ts_ms, role, tool, text) -> pa.Table:
    tool_arr = pa.array(np.where(tool >= 0, TOOLS[np.maximum(tool, 0)], None), pa.string())
    return pa.table({
        "conv_id": conv_ids(conv),
        "turn_idx": pa.array(turn_idx.astype("int32")),
        "role": pa.array(ROLES[role], pa.string()),
        "text": text,
        "tool": tool_arr,
        "ts": pa.array(ts_ms * 1000, pa.int64()).cast(TS),
    })


def _utc(df) -> pa.Table:
    """pandas frame as an Arrow table whose naive timestamps are UTC."""
    t = pa.Table.from_pandas(df, preserve_index=False)
    for i, f in enumerate(t.schema):
        if pa.types.is_timestamp(f.type):
            t = t.set_column(i, f.name, t[f.name].cast(TS))
    return t


def transcripts(cache_dir: str, seed: int, n_turns: int, n_convs: int) -> str:
    """Directory with ``turns/`` and ``states/`` parquet tables from the
    package's own seeded generators (FIXTURES.md §1-2): hot-conversation
    skew, resent duplicate turns, a sparse ``tool`` column, multi-hour
    session gaps, exact ``state_ts == ts`` collisions and one future-state
    leakage probe per conversation."""

    def build(out: str) -> None:
        turns = generate_transcripts(n_turns, n_convs, seed=seed, hot_frac=HOT_FRAC, n_hot=N_HOT)
        states = generate_state_events(turns, seed=seed)
        _write(_utc(turns), os.path.join(out, "turns"), TURN_FILES)
        _write(_utc(states), os.path.join(out, "states"), TURN_FILES // 4)

    return _cached(cache_dir, {"turns": "", "s": seed, "n": n_turns, "c": n_convs}, build)


def churn(cache_dir: str, seed: int, turns_dir: str, n_steps: int) -> str:
    """Directory with ``step-NNN/`` parquet tables, one append per step.

    Each step picks a contiguous range of ``CHURN_CONV_FRAC`` of the
    conversations (localized: the range is what conv_id clustering keeps in
    a few files) and adds, per conversation, two new turns after its last
    one and one resend of an earlier turn (a later ts, so last-wins dedup
    replaces it).
    """

    def build(out: str) -> None:
        base = pq.read_table(turns_dir, columns=["conv_id", "turn_idx", "ts"])
        conv = pc.utf8_slice_codeunits(base["conv_id"], 4).cast(pa.int64()).to_numpy()
        tidx = base["turn_idx"].to_numpy().astype(np.int64)
        ts_ms = base["ts"].cast(pa.int64()).to_numpy() // 1000
        n_convs = int(conv.max()) + 1
        last_idx = np.full(n_convs, -1, np.int64)
        np.maximum.at(last_idx, conv, tidx)
        last_ts = np.zeros(n_convs, np.int64)
        np.maximum.at(last_ts, conv, ts_ms)
        rng = np.random.default_rng([seed, 2])
        width = max(1, int(n_convs * CHURN_CONV_FRAC))
        for step in range(n_steps):
            lo = int(rng.integers(0, n_convs - width))
            c = np.arange(lo, lo + width)
            new_c = np.repeat(c, 2)
            new_i = np.repeat(last_idx[c], 2) + np.tile([1, 2], width)
            new_ts = np.repeat(last_ts[c], 2) + np.tile([30_000, 60_000], width)
            last_idx[c] += 2
            last_ts[c] += 60_000
            # resend one earlier turn per conversation; it arrives after
            # the new turns, so last-wins dedup keeps the resent copy
            old_i = (rng.random(width) * (last_idx[c] - 1)).astype(np.int64)
            cc = np.concatenate([new_c, c])
            ii = np.concatenate([new_i, old_i])
            tt = np.concatenate([new_ts, last_ts[c] + 30_000])
            role = rng.integers(0, len(ROLES), len(cc))
            tool = np.where(rng.random(len(cc)) < 0.10, rng.integers(0, len(TOOLS), len(cc)), -1)
            text = pc.binary_join_element_wise(
                _turn_text(ii, cc, rng.integers(0, 10**6, len(cc))),
                f" (step {step})", "",
            )
            _write(_turns_table(cc, ii, tt, role, tool, text),
                   os.path.join(out, f"step-{step:03d}"))

    return _cached(cache_dir, {"churn": "", "s": seed, "k": n_steps,
                               "src": os.path.basename(os.path.dirname(turns_dir))},
                   build)


def _words(rng, n: int) -> np.ndarray:
    """``n`` distinct-ish lowercase pseudo-words of 3-9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    chars = letters[rng.integers(0, 26, int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    return np.array(["".join(w) for w in np.split(chars, cuts)], dtype=object)


def docs(cache_dir: str, seed: int, n_docs: int, n_template: int) -> str:
    """Directory with ``docs/`` (doc_id, text, grp) where ``grp`` is the
    planted group: ``-1`` for an ordinary doc, ``0`` for the boilerplate
    template family, ``k > 0`` for the k-th planted pair.  ``grp`` is for
    the output check only; the engine never reads it."""

    def build(out: str) -> None:
        rng = np.random.default_rng([seed, 3])
        vocab = _words(rng, 5000)
        n_pairs = int(n_docs * PAIR_FRAC)
        n_plain = n_docs - n_template - n_pairs
        lens = rng.integers(20, 60, n_plain)
        offs = np.concatenate([[0], np.cumsum(lens)])
        words = pa.array(vocab[rng.integers(0, len(vocab), int(offs[-1]))], pa.string())
        plain = pc.binary_join(pa.ListArray.from_arrays(pa.array(offs, pa.int32()), words), " ")
        # planted pairs: the copy differs only in case and whitespace, so the
        # engine's normalized shingles (and MinHash) are identical
        src = rng.choice(n_plain, n_pairs, replace=False)
        copy = pc.utf8_upper(pc.replace_substring(plain.take(src), " ", "  ", max_replacements=3))
        # boilerplate family: one fixed 40-word template, a varying ticket
        # number at the end (most members land in one hot bucket)
        template = " ".join(vocab[rng.integers(0, len(vocab), 40)])
        tpl = pc.binary_join_element_wise(
            template + " ticket ", pa.array(rng.integers(0, 10**9, n_template)).cast(pa.string()), ""
        )
        text = pa.concat_arrays([plain, copy, tpl])
        grp = np.full(n_docs, -1, np.int64)
        grp[src] = np.arange(1, n_pairs + 1)
        grp[n_plain:n_plain + n_pairs] = np.arange(1, n_pairs + 1)
        grp[n_plain + n_pairs:] = 0
        order = rng.permutation(n_docs)
        t = pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": text.take(order),
            "grp": pa.array(grp[order]),
        })
        _write(t, os.path.join(out, "docs"))

    return _cached(cache_dir, {"docs": "", "s": seed, "n": n_docs}, build)


def embeddings(cache_dir: str, seed: int, n_vecs: int, n_hot: int, dims: int) -> str:
    """Directory with ``vecs/`` and ``queries/`` (vec_id, embedding).

    Unit vectors, a planted ``PAIR_FRAC`` of near-duplicates (cosine about
    0.99 to a corpus vector), ``n_hot`` members of one dense cluster (the
    hot LSH bucket), and queries drawn near random corpus vectors.  Query
    ids start at ``10**9`` so they never collide with corpus ids."""

    def unit(x):
        return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)

    def table(ids, v):
        flat = pa.array(v.reshape(-1), pa.float32())
        return pa.table({"vec_id": pa.array(ids, pa.int64()),
                         "embedding": pa.FixedSizeListArray.from_arrays(flat, dims).cast(pa.list_(pa.float32()))})

    def build(out: str) -> None:
        rng = np.random.default_rng([seed, 4])
        n_pairs = int(n_vecs * PAIR_FRAC)
        n_plain = n_vecs - n_pairs - n_hot
        plain = unit(rng.standard_normal((n_plain, dims)))
        src = rng.choice(n_plain, n_pairs, replace=False)
        near = unit(plain[src] + 0.01 * rng.standard_normal((n_pairs, dims)))
        centre = rng.standard_normal(dims)
        hot = unit(centre + 0.02 * rng.standard_normal((n_hot, dims)))
        v = np.concatenate([plain, near, hot])[rng.permutation(n_vecs)]
        _write(table(np.arange(n_vecs), v), os.path.join(out, "vecs"))
        q = unit(v[rng.choice(n_vecs, N_QUERIES, replace=False)]
                 + 0.05 * rng.standard_normal((N_QUERIES, dims)))
        _write(table(10**9 + np.arange(N_QUERIES), q), os.path.join(out, "queries"))

    return _cached(cache_dir, {"embeddings": "", "s": seed, "n": n_vecs}, build)
