"""Independent references and output checks.

References are computed on the driver with pandas/numpy before any timed
region; checks compare collected engine output against them after the
operation being checked has finished.  A failed check raises
``AssertionError``; the runner counts it as a failed operation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from mpower_feature_analysis_spark import oracle
from mpower_feature_analysis_spark.plans.pipeline import PipelineConfig

FEATURE_FLOATS = ["gap_roll_mean", "gap_roll_min", "gap_roll_max"]
FEATURE_EXACT = ["gap_ms", "lead_gap_ms", "gap_roll_n", "session_id"]
WINDOW_EXACT = ["conv_id", "window_idx", "n", "start_turn_idx", "end_turn_idx"]
WINDOW_FLOATS = ["mean_gap_ms", "median_gap_ms", "iqr_gap_ms", "entropy_gap"]
# conversations whose window features are checked, besides the three largest
SAMPLE_CONVS = 60


def read_pandas(path: str, columns=None) -> pd.DataFrame:
    """Parquet directory as pandas with UTC-naive timestamps, the form the
    oracle and ``DataFrame.toPandas`` (session time zone UTC) use."""
    df = pq.read_table(path, columns=columns).to_pandas()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def _by_turn(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)


class FlagshipReference:
    """The pandas oracle over the flagship inputs.

    Per-turn text and the as-of label are referenced for EVERY turn (so
    leakage is checked everywhere); the window features, whose oracle is a
    per-conversation Python loop, for a fixed sample of conversations that
    always includes the three largest.  Every feature depends only on rows
    of its own conversation, so a sampled conversation is checked
    completely.  Pipeline parameters are the engine's defaults
    (``PipelineConfig()``), the ones ``extract_turn_features`` runs with."""

    def __init__(self, turns_dir: str, states_dir: str, seed: int):
        turns = read_pandas(turns_dir)
        states = read_pandas(states_dir)
        self.n_turns = len(turns)
        self.n_states = len(states)
        dedup = oracle.dedup_last_wins(turns)
        self.labels = oracle.asof_labels(dedup, states)[["conv_id", "turn_idx", "text", "label"]]
        sizes = turns["conv_id"].value_counts()
        rng = np.random.default_rng(seed)
        pick = set(sizes.index[:3]) | set(rng.choice(sizes.index.to_numpy(), SAMPLE_CONVS,
                                                     replace=False))
        self.sample = sorted(pick)
        d = dedup[dedup["conv_id"].isin(pick)]
        s = states[states["conv_id"].isin(pick)]
        w = oracle.asof_labels(d, s)
        cfg = PipelineConfig()
        w = oracle.rolling_gap_stats(w, cfg.rolling_k)
        w = oracle.running_role_counts(w, list(cfg.roles))
        w = oracle.forward_fill(w)
        w = oracle.sessionize(w, cfg.session_gap_s)
        self.roles = cfg.roles
        self.features = _by_turn(w)
        self.windows = (
            oracle.window_features(turns[turns["conv_id"].isin(pick)])
            .sort_values(["conv_id", "window_idx"], kind="mergesort").reset_index(drop=True)
        )

    def check(self, feats: pd.DataFrame, windows: pd.DataFrame) -> None:
        got = _by_turn(feats)
        want = self.labels
        assert len(got) == len(want), f"{len(got)} feature rows, want {len(want)}"
        for c in ("conv_id", "turn_idx", "text"):
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), f"per-turn {c} differs"
        assert not (got["label"] == "label_future").any(), "a future state leaked into a turn"
        assert (got["label"].fillna("∅").to_numpy() == want["label"].fillna("∅").to_numpy()).all(), \
            "as-of label differs from the oracle"

        sub = _by_turn(got[got["conv_id"].isin(self.sample)])
        ref = self.features
        assert len(sub) == len(ref), "sampled conversations differ in length"
        for c in FEATURE_EXACT + [f"n_{r}_so_far" for r in self.roles]:
            np.testing.assert_array_equal(sub[c].to_numpy("float64", na_value=np.nan),
                                          ref[c].to_numpy("float64", na_value=np.nan), err_msg=c)
        for c in FEATURE_FLOATS:
            np.testing.assert_allclose(sub[c].to_numpy("float64", na_value=np.nan),
                                       ref[c].to_numpy("float64", na_value=np.nan),
                                       rtol=1e-12, equal_nan=True, err_msg=c)
        assert (sub["tool_ffill"].fillna("∅").to_numpy() == ref["tool_ffill"].fillna("∅").to_numpy()).all()

        wg = windows[windows["conv_id"].isin(self.sample)].sort_values(
            ["conv_id", "window_idx"], kind="mergesort").reset_index(drop=True)
        wr = self.windows
        assert len(wg) == len(wr), f"{len(wg)} windows, want {len(wr)}"
        for c in WINDOW_EXACT:
            np.testing.assert_array_equal(wg[c].to_numpy(), wr[c].to_numpy(), err_msg=c)
        for c in WINDOW_FLOATS:
            np.testing.assert_allclose(wg[c].to_numpy("float64"), wr[c].to_numpy("float64"),
                                       rtol=1e-9, equal_nan=True, err_msg=c)


def check_tables_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Feature table equality, row order and column order ignored."""
    assert sorted(got.columns) == sorted(want.columns), "feature columns differ"
    cols = sorted(want.columns)
    got = _by_turn(got[cols])
    want = _by_turn(want[cols])
    assert len(got) == len(want), f"{len(got)} feature rows, want {len(want)}"
    for c in cols:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(b):
            np.testing.assert_allclose(a.to_numpy("float64"), b.to_numpy("float64"),
                                       rtol=1e-12, equal_nan=True, err_msg=c)
        else:
            assert (a.fillna("∅").astype(str).to_numpy()
                    == b.fillna("∅").astype(str).to_numpy()).all(), f"column {c} differs"


class CorpusReference:
    """Planted groups and exact numpy similarities for the corpus inputs."""

    def __init__(self, docs_dir: str, vecs_dir: str, queries_dir: str, k: int):
        docs = read_pandas(docs_dir, ["doc_id", "grp"])
        self.n_docs = len(docs)
        self.grp = docs.set_index("doc_id")["grp"]
        self.vec_ids, self.vecs = _matrix(vecs_dir)
        self.q_ids, self.q = _matrix(queries_dir)
        self.k = k
        sims = self.q @ self.vecs.T
        top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
        self.exact_topk = {(int(q), int(self.vec_ids[j]))
                           for q, row in zip(self.q_ids, top) for j in row}

    def _cos(self, a_ids, a_mat_ids, a_mat, b_ids) -> np.ndarray:
        ai = np.searchsorted(a_mat_ids, a_ids)
        bi = np.searchsorted(self.vec_ids, b_ids)
        a, b = a_mat[ai], self.vecs[bi]
        return (a * b).sum(1) / (np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1))

    def check(self, clusters: pd.DataFrame, topk: pd.DataFrame, pairs: pd.DataFrame,
              min_cos: float) -> None:
        c = clusters.set_index("doc_id")["canonical_id"].sort_index()
        assert len(c) == self.n_docs and c.index.is_unique, "not one canonical per doc"
        assert (c.to_numpy() <= c.index.to_numpy()).all(), "canonical above its doc id"
        planted = pd.DataFrame({"grp": self.grp, "canon": c})
        planted = planted[planted["grp"] > 0]
        assert (planted.groupby("grp")["canon"].nunique() == 1).all(), \
            "a planted near-duplicate pair is split across clusters"

        assert (topk.groupby("query_id").size() <= self.k).all(), "more than k neighbours"
        cos = self._cos(topk["query_id"].to_numpy(), self.q_ids, self.q,
                        topk["neighbor_id"].to_numpy())
        np.testing.assert_allclose(topk["cos_sim"].to_numpy(), cos, rtol=1e-9, atol=1e-12,
                                   err_msg="top-k cosine")
        t = topk.sort_values(["query_id", "rank"])
        assert (t.groupby("query_id")["rank"].transform(lambda r: r.diff().fillna(1)) == 1).all(), \
            "ranks are not consecutive"
        assert (t.groupby("query_id")["cos_sim"].diff().fillna(0) <= 1e-12).all(), \
            "ranks are not by descending cosine"

        cos = self._cos(pairs["id_a"].to_numpy(), self.vec_ids, self.vecs,
                        pairs["id_b"].to_numpy())
        np.testing.assert_allclose(pairs["cos_sim"].to_numpy(), cos, rtol=1e-9, atol=1e-12,
                                   err_msg="near-duplicate cosine")
        assert (cos >= min_cos - 1e-12).all(), "near-duplicate pair below min_cos"
        assert (pairs["id_a"] != pairs["id_b"]).all(), "self pair"

    def topk_recall(self, topk: pd.DataFrame) -> float:
        got = set(zip(topk["query_id"].astype(int), topk["neighbor_id"].astype(int)))
        return len(got & self.exact_topk) / len(self.exact_topk)

    def pair_precision(self, cand: pd.DataFrame) -> float:
        """Candidate pairs whose docs share a planted group, over all."""
        ga = self.grp.reindex(cand["id_a"]).to_numpy()
        gb = self.grp.reindex(cand["id_b"]).to_numpy()
        return float(((ga == gb) & (ga >= 0)).mean()) if len(cand) else 0.0


def _matrix(path: str):
    t = pq.read_table(path).sort_by("vec_id")
    ids = t["vec_id"].to_numpy()
    flat = t["embedding"].combine_chunks().flatten().to_numpy().astype(np.float64)
    return ids, flat.reshape(len(ids), -1)
