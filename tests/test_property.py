"""Randomized property tests (hypothesis): the temporal-leakage invariant
and oracle parity of the as-of join under adversarial tiny inputs —
SURVEY.md §5's 'randomized inputs' requirement, complementing the fixed
golden fixtures."""

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mpower_feature_analysis_spark import oracle
from mpower_feature_analysis_spark.operators import asof_join

_EPOCH = 1_700_000_000_000


@st.composite
def transcript_case(draw):
    n_convs = draw(st.integers(1, 3))
    turns, states = [], []
    seq = 0
    for c in range(n_convs):
        conv = f"p{c}"
        n_t = draw(st.integers(1, 6))
        # small integer offsets force ts collisions between turns and states
        t_offsets = draw(
            st.lists(st.integers(0, 20), min_size=n_t, max_size=n_t)
        )
        for i, off in enumerate(sorted(t_offsets)):
            turns.append((conv, i, "user", f"t{seq}", None, _EPOCH + off * 1000))
        n_s = draw(st.integers(0, 4))
        s_offsets = draw(
            st.lists(st.integers(-5, 25), min_size=n_s, max_size=n_s)
        )
        for off in s_offsets:  # may precede, collide with, or follow turns
            states.append((conv, _EPOCH + off * 1000, f"lab{seq % 5}", seq))
            seq += 1
    t_pdf = pd.DataFrame(
        turns, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts_ms"]
    )
    s_pdf = pd.DataFrame(
        states, columns=["conv_id", "state_ts_ms", "label", "state_seq"]
    )
    t_pdf["ts"] = pd.to_datetime(t_pdf.pop("ts_ms"), unit="ms")
    s_pdf["state_ts"] = pd.to_datetime(s_pdf.pop("state_ts_ms"), unit="ms")
    return t_pdf, s_pdf


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=transcript_case())
def test_asof_leakage_and_oracle_parity(spark, case):
    t_pdf, s_pdf = case
    t = spark.createDataFrame(
        t_pdf, "conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp"
    )
    s = spark.createDataFrame(
        s_pdf[["conv_id", "state_ts", "label", "state_seq"]],
        "conv_id string, state_ts timestamp, label string, state_seq long",
    )
    got = asof_join(t, s, payload=["label"]).collect()
    assert len(got) == len(t_pdf)

    # temporal leakage: every attached label must come from SOME state of
    # the same conv with state_ts <= ts
    by_conv = {}
    for r in s_pdf.itertuples():
        by_conv.setdefault(r.conv_id, []).append((r.state_ts, r.label))
    for r in got:
        if r.label is not None:
            assert any(
                sts <= r.ts and lab == r.label
                for sts, lab in by_conv.get(r.conv_id, [])
            ), f"leaked label {r.label!r} at {r.ts}"

    # full oracle parity (ffill over the merged timeline)
    want = oracle.asof_labels(t_pdf, s_pdf)
    want_map = {
        (r.conv_id, r.turn_idx): r.label for r in want.itertuples()
    }
    for r in got:
        w = want_map[(r.conv_id, r.turn_idx)]
        assert (r.label == w) or (r.label is None and pd.isna(w))


@st.composite
def dup_heavy_transcripts(draw):
    """Tiny transcript sets with FORCED (conv_id, turn_idx) duplicates and
    ts ties — the adversarial input for last-wins dedup."""
    rows = []
    n = draw(st.integers(2, 12))
    for i in range(n):
        conv = f"p{draw(st.integers(0, 1))}"
        turn = draw(st.integers(0, 3))          # few slots → many dups
        off = draw(st.integers(0, 5))           # few offsets → ts ties
        rows.append((conv, turn, "user", f"x{i}", None, _EPOCH + off * 1000))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts_ms"]
    )
    pdf["ts"] = pd.to_datetime(pdf.pop("ts_ms"), unit="ms")
    return pdf


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=dup_heavy_transcripts())
def test_dedup_last_wins_properties(spark, case):
    """Properties under duplicates and ts ties: exactly one survivor per
    key; the survivor has the group's max ts; reruns are identical."""
    from mpower_feature_analysis_spark.operators import dedup_last_wins

    df = spark.createDataFrame(
        case, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )
    out = dedup_last_wins(df, ["conv_id", "turn_idx"], ["ts"])
    rows = out.collect()
    keys = [(r.conv_id, r.turn_idx) for r in rows]
    assert len(keys) == len(set(keys)) == len(
        case[["conv_id", "turn_idx"]].drop_duplicates()
    )
    max_ts = case.groupby(["conv_id", "turn_idx"])["ts"].max()
    for r in rows:
        assert r.ts == max_ts[(r.conv_id, r.turn_idx)]
    assert sorted(map(str, rows)) == sorted(map(str, out.collect()))  # rerun


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    gaps=st.lists(
        st.sampled_from([1, 100, 3600, 3601, 7200]), min_size=1, max_size=15
    )
)
def test_sessionize_boundary_property(spark, gaps):
    """Gap EXACTLY equal to the threshold keeps the session (strict >);
    session ids are dense, non-decreasing, and match the pandas oracle."""
    from mpower_feature_analysis_spark.operators import sessionize

    ts = _EPOCH + np.concatenate([[0], np.cumsum(gaps)]) * 1000
    pdf = pd.DataFrame({
        "conv_id": "c0",
        "turn_idx": np.arange(len(ts), dtype="int32"),
        "role": "user",
        "text": [f"t{i}" for i in range(len(ts))],
        "tool": None,
        "ts": pd.to_datetime(ts, unit="ms"),
    })
    df = spark.createDataFrame(
        pdf, "conv_id string, turn_idx int, role string, text string, "
             "tool string, ts timestamp"
    )
    got = {r.turn_idx: r.session_id
           for r in sessionize(df, gap_s=3600.0).collect()}
    want = oracle.sessionize(pdf, gap_s=3600.0).set_index("turn_idx")["session_id"]
    assert got == want.to_dict()
    # strict >: a gap of exactly 3600s must NOT open a new session
    for i, g in enumerate(gaps):
        if g == 3600:
            assert got[i + 1] == got[i]
        if g == 3601:
            assert got[i + 1] == got[i] + 1


@st.composite
def embedding_case(draw):
    """Small adversarial corpora: duplicate vectors (exact score ties),
    tiny dims, query overlap with corpus."""
    dims = draw(st.integers(2, 6))
    n = draw(st.integers(3, 14))
    base = draw(
        st.lists(
            st.lists(st.integers(-3, 3), min_size=dims, max_size=dims),
            min_size=n, max_size=n,
        )
    )
    # duplicate a prefix of the corpus to force exact cosine ties
    n_dup = draw(st.integers(0, min(3, n)))
    vecs = base + base[:n_dup]
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(vecs)
        if any(x != 0 for x in v)  # zero-norm rows never rank anyway
    ]
    k = draw(st.integers(1, 4))
    n_q = draw(st.integers(1, 3))
    return rows, k, n_q


@given(embedding_case())
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_matmul_topk_equals_bruteforce_property(spark, case):
    """Property: for ANY corpus — duplicates, ties, tiny dims, queries in
    the corpus — the per-batch-pruned gemm kernel returns exactly the
    brute-force join reference's neighbor ids, ranks and cosines."""
    import references as ref
    from mpower_feature_analysis_spark.functions.similarity import (
        cosine_topk_bruteforce,
    )
    rows, k, n_q = case
    if not rows:
        return
    df = spark.createDataFrame(rows, f"vec_id long, embedding array<float>")
    q = df.filter(f"vec_id < {n_q}")
    want = {(r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
            for r in ref.cosine_topk_bruteforce(df, q, k=k).collect()}
    got = {(r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
           for r in cosine_topk_bruteforce(df, q, k=k).collect()}
    assert want == got
