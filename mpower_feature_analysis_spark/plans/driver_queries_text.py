"""Driver-contract queries for the training-data-pipeline extras:
text analysis, dedup, similarity search — over the ``documents`` and
``embeddings`` tables (TESTDATA.md).

Queries without an exact SQL twin (MinHash-LSH, SimHash — hash-function
semantics aren't portable to DuckDB) are registered WITHOUT an oracle: the
driver records a rows-only check, and tests/test_text_dedup.py verifies
their semantics against planted near-duplicates instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.dedup_text import (
    exact_text_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from ..functions.similarity import cosine_topk_bruteforce
from ..functions.text import fingerprint, text_quality_features, token_count


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_with_dups(docs: DataFrame) -> DataFrame:
    """Deterministic duplicate planting: every 10th doc re-ingested under a
    shifted id (same text → exact dup; the MinHash/SimHash tests plant
    *near*-dups separately). Single-pass explode (round-7): the old
    ``docs UNION ALL filter(docs)`` scanned the parquet twice; one scan
    emits the identical row multiset."""
    rest = [c for c in docs.columns if c != "doc_id"]
    return (
        docs.withColumn(
            "__copy",
            F.explode(
                F.when(F.col("doc_id") % 10 == 0,
                       F.array(F.lit(0), F.lit(1)))
                .otherwise(F.array(F.lit(0)))
            ),
        )
        .select(
            F.when(F.col("__copy") == 1, F.col("doc_id") + F.lit(1_000_000))
            .otherwise(F.col("doc_id")).alias("doc_id"),
            *rest,
        )
    )


_DUPDOCS_SQL = """
WITH dupdocs AS (
    SELECT * FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
    FROM documents WHERE doc_id % 10 = 0
),
fps AS (
    SELECT *, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
    FROM dupdocs
)
"""


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: doc count, token totals, exact char avg."""
    d = _docs(spark, sf_dir).withColumn("n_tokens", token_count("text"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


SQL_DOC_TOKEN_STATS = r"""
SELECT lang, count(*) AS n_docs,
       CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT)
           AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / count(*) AS avg_chars
FROM documents GROUP BY lang
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals (length, punctuation, whitespace)."""
    d = text_quality_features(_docs(spark, sf_dir))
    return d.select("doc_id", "n_chars_f", "n_tokens", "n_punct", "punct_ratio", "space_ratio")


SQL_DOC_QUALITY = r"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_f,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
       CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
       CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio,
       CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
           / greatest(length(text), 1) AS space_ratio
FROM documents
"""


def q_doc_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup groups by normalized fingerprint (planted dups)."""
    d = _docs_with_dups(_docs(spark, sf_dir)).withColumn("fp", fingerprint("text", "fp"))
    return (
        d.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


SQL_DOC_FP_DUPS = _DUPDOCS_SQL + """
SELECT fp, count(*) AS n_docs, min(doc_id) AS canonical_id
FROM fps GROUP BY fp HAVING count(*) > 1
"""


def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the smallest doc_id per content fingerprint."""
    out = exact_text_dedup(_docs_with_dups(_docs(spark, sf_dir)))
    return out.select("doc_id", "lang", "source", "n_chars")


SQL_DOC_EXACT_DEDUP = _DUPDOCS_SQL + """
SELECT f.doc_id, f.lang, f.source, f.n_chars
FROM fps f
JOIN (SELECT fp, min(doc_id) AS doc_id FROM fps GROUP BY fp) k
  ON f.fp = k.fp AND f.doc_id = k.doc_id
"""

KNN_K, KNN_NQ = 3, 5
EMB_DIMS = 64  # uniform at every SF (TESTDATA.md)


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-k cosine neighbors for the first few vectors.
    The kernel's scores are bit-identical to the sequential fold the
    oracle computes, so the values hash-match."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < KNN_NQ)
    return cosine_topk_bruteforce(emb, q, k=KNN_K).select(
        "query_id", "neighbor_id", F.round("cos_sim", 9).alias("cos_sim"), "rank"
    )


SQL_KNN = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < {KNN_NQ}
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos_sim
  FROM c JOIN q ON neighbor_id <> query_id
), ranked AS (
  SELECT query_id, neighbor_id, round(cos_sim, 9) AS cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= {KNN_K}
"""


# --- no-oracle entries (hash semantics not portable; rows-only check) ------

def q_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_with_dups(_docs(spark, sf_dir))
    return minhash_lsh_candidates(d, num_hashes=32, bands=8)


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup_text import auto_simhash_blocks
    from ..functions.similarity import _corpus_rows

    base = _docs(spark, sf_dir)
    d = _docs_with_dups(base)
    # block layout from a zero-job footer count of the base corpus: the
    # dup injection adds exactly the doc_id%10==0 slice (~n/10), and the
    # candidate layout is output-invariant (the verify stage is exact),
    # so the 'auto' count job over the exploded frame buys nothing
    n = _corpus_rows(base)
    return simhash_near_dups(
        d, max_hamming=3, blocks=auto_simhash_blocks(n + n // 10 + 1, 3)
    )


def q_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_with_dups(_docs(spark, sf_dir))
    cands = minhash_lsh_candidates(d, num_hashes=32, bands=8)
    return ngram_jaccard_pairs(cands, d, min_jaccard=0.7)


def q_ngram_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-recall near-dup pairs (shingle-share blocking, no hashing) —
    the deterministic twin of the MinHash path, with a full SQL oracle."""
    from ..functions.dedup_text import ngram_jaccard_exact_pairs
    d = _docs_with_dups(_docs(spark, sf_dir))
    return ngram_jaccard_exact_pairs(d, min_jaccard=0.7)


_NGRAM_PAIRS_CTES = r"""
, words AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
    FROM dupdocs
),
sh AS (
    SELECT doc_id,
           unnest(CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
                  ELSE [array_to_string(w[i + 1 : i + 5], ' ')
                        FOR i IN range(len(w) - 4)] END) AS g
    FROM words
),
shd AS (SELECT DISTINCT doc_id, g FROM sh),
sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS isz
    FROM shd a JOIN shd b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT id_a, id_b,
           CAST(isz AS DOUBLE) / greatest(sa.sz + sb.sz - isz, 1) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(isz AS DOUBLE) / greatest(sa.sz + sb.sz - isz, 1) >= 0.7
)
"""

SQL_NGRAM_EXACT = _DUPDOCS_SQL + _NGRAM_PAIRS_CTES + "SELECT * FROM pairs"


def q_normalize_time_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 ms→s heuristic over planted mixed-unit groups: even user_ids
    carry millisecond-scale values (value*1000), odd ones second-scale;
    the operator rescales exactly the ms groups (grouped exact median
    gates a /1000 — output values are bit-exact either way)."""
    from ..operators.curation import normalize_time_units
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    mixed = ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        F.col("event_id"),
        F.when(F.col("user_id") % 2 == 0, F.col("value") * 1000.0)
        .otherwise(F.col("value")).alias("t"),
    )
    return normalize_time_units(mixed, "t", "conv_id")


SQL_NORMALIZE_UNITS = """
WITH mixed AS (
    SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id, event_id,
           CASE WHEN user_id % 2 = 0 THEN value * 1000.0 ELSE value END AS t
    FROM events
),
med AS (
    SELECT conv_id, quantile_cont(t, 0.5) AS m FROM mixed GROUP BY conv_id
)
SELECT x.conv_id, x.event_id,
       CASE WHEN med.m > 1000.0 THEN x.t / 1000.0 ELSE x.t END AS t
FROM mixed x JOIN med ON x.conv_id = med.conv_id
"""


def q_sql_session_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL API surface: the gap-threshold sessionization rollup written
    ENTIRELY as a spark.sql(...) statement over a registered view — proving
    every engine capability is reachable through SQL text as well as the
    DataFrame API (Catalyst plans both identically). Integer-ms arithmetic
    throughout → bit-exact vs the DuckDB twin."""
    from ..transcripts import events_df
    events_df(spark, sf_dir).createOrReplaceTempView("events_v")
    return spark.sql("""
        WITH t AS (
            SELECT concat('c', CAST(user_id AS STRING)) AS conv_id,
                   unix_millis(CAST(ts AS TIMESTAMP)) AS ts_ms,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) - 1 AS turn_idx
            FROM events_v
        ),
        g AS (
            SELECT conv_id, turn_idx, ts_ms,
                   CASE WHEN lag(ts_ms) OVER (PARTITION BY conv_id
                                              ORDER BY turn_idx) IS NULL
                          OR ts_ms - lag(ts_ms) OVER (PARTITION BY conv_id
                                                      ORDER BY turn_idx) > 3600000
                        THEN 1 ELSE 0 END AS new_sess
            FROM t
        ),
        s AS (
            SELECT conv_id, ts_ms,
                   sum(new_sess) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                       ROWS UNBOUNDED PRECEDING) - 1 AS session_id
            FROM g
        )
        SELECT conv_id,
               CAST(session_id AS INT) AS session_id,
               CAST(count(*) AS BIGINT) AS n_turns,
               CAST(min(ts_ms) AS BIGINT) AS start_ms,
               CAST(max(ts_ms) AS BIGINT) AS end_ms,
               CAST(max(ts_ms) - min(ts_ms) AS BIGINT) AS duration_ms
        FROM s GROUP BY conv_id, session_id
    """)


SQL_SESSION_SUMMARY = """
WITH t AS (
    SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id,
           epoch_ms(ts) AS ts_ms,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS turn_idx
    FROM events
),
g AS (
    SELECT conv_id, turn_idx, ts_ms,
           CASE WHEN lag(ts_ms) OVER (PARTITION BY conv_id ORDER BY turn_idx) IS NULL
                  OR ts_ms - lag(ts_ms) OVER (PARTITION BY conv_id ORDER BY turn_idx) > 3600000
                THEN 1 ELSE 0 END AS new_sess
    FROM t
),
s AS (
    SELECT conv_id, ts_ms,
           sum(new_sess) OVER (PARTITION BY conv_id ORDER BY turn_idx
                               ROWS UNBOUNDED PRECEDING) - 1 AS session_id
    FROM g
)
SELECT conv_id,
       CAST(session_id AS INT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(min(ts_ms) AS BIGINT) AS start_ms,
       CAST(max(ts_ms) AS BIGINT) AS end_ms,
       CAST(max(ts_ms) - min(ts_ms) AS BIGINT) AS duration_ms
FROM s GROUP BY conv_id, session_id
"""


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup GROUPS: connected components over the exact near-dup pairs,
    canonical = component-min doc id (iterative min-label propagation;
    oracle = DuckDB recursive-CTE transitive closure — the fixpoint is the
    unique component minimum, so both engines agree exactly)."""
    from ..functions.dedup_text import ngram_jaccard_exact_pairs
    from ..functions.graph import near_dup_clusters
    d = _docs_with_dups(_docs(spark, sf_dir))
    pairs = ngram_jaccard_exact_pairs(d, min_jaccard=0.7)
    return near_dup_clusters(d, pairs)


SQL_NEAR_DUP_CLUSTERS = (
    _DUPDOCS_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + _NGRAM_PAIRS_CTES
    + r""",
und AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b AS u, id_a AS v FROM pairs
),
reach AS (
    SELECT u AS id, v AS r FROM und
    UNION
    SELECT reach.id, und.v FROM reach JOIN und ON reach.r = und.u
),
comp AS (
    SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id
)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS canonical_id,
       coalesce(c.component, d.doc_id) = d.doc_id AS is_canonical
FROM dupdocs d LEFT JOIN comp c ON c.id = d.doc_id
"""
)


WK_WINDOW, WK_STEP = 8, 4


def _f32(c: str):
    """Cross-engine float canonicalization: snap to the float32 grid and
    widen back to double (kernel outputs hold NULL, never NaN, where the
    oracles hold NULL). Defined ONCE — the Spark queries and every
    oracle's CAST(CAST(x AS FLOAT4) AS DOUBLE) must stay in lockstep."""
    return F.col(c).cast("float").cast("double").alias(c)


def q_window_kernel_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/W7-W8: Arrow window kernel over per-conversation gap series.

    Value-exact vs the SQL oracle: gaps are integer ms, so the window mean
    (integer sum / n) and type-7 quantiles (integer interpolation at exact
    binary fractions) are bit-identical; only entropy needs a 9-dp round
    (ln() summation order differs between engines by ~1 ulp).
    """
    from ..operators import windowed_summary_features
    from ..transcripts import events_df, transcripts_from_events
    t = transcripts_from_events(events_df(spark, sf_dir), keep_key=True)
    out = windowed_summary_features(t, window=WK_WINDOW, shuffle_key="user_id")
    return out.select(
        "conv_id", "window_idx", "n", "start_turn_idx", "end_turn_idx",
        "mean_gap_ms", "median_gap_ms", "iqr_gap_ms",
        F.round("entropy_gap", 9).alias("entropy_gap"),
        "error",
    )


def _sql_window_kernel() -> str:
    """DuckDB re-spec of kernels._window_kernel: strided overlapping
    windows over the per-conversation gap series, mean/median/IQR +
    10-bin histogram entropy, plus F5 error rows for <2-turn groups."""
    from ..transcripts import TRANSCRIPTS_CTE
    w, s = WK_WINDOW, WK_STEP
    return f"""
WITH {TRANSCRIPTS_CTE.strip()},
o AS (
    SELECT conv_id, turn_idx, epoch_ms(ts) AS ts_ms,
           count(*) OVER (PARTITION BY conv_id) AS n_turns
    FROM transcripts
),
g AS (
    SELECT conv_id, turn_idx,
           CAST(ts_ms - lag(ts_ms) OVER win AS DOUBLE) AS gap_ms,
           row_number() OVER win - 2 AS gi,
           n_turns - 1 AS n_gaps
    FROM o
    WINDOW win AS (PARTITION BY conv_id ORDER BY turn_idx, ts_ms)
    QUALIFY gap_ms IS NOT NULL
),
convs AS (SELECT DISTINCT conv_id, n_gaps FROM g),
ws AS (
    SELECT conv_id, unnest(range(0, n_gaps - {w} + 1, {s})) AS s, {w} AS w
    FROM convs WHERE n_gaps >= {w}
    UNION ALL
    SELECT conv_id, 0 AS s, n_gaps AS w FROM convs WHERE n_gaps < {w}
),
m AS (
    SELECT g.conv_id, ws.s, g.gap_ms, g.turn_idx
    FROM g JOIN ws ON g.conv_id = ws.conv_id
                  AND g.gi >= ws.s AND g.gi < ws.s + ws.w
),
a AS (
    SELECT conv_id, s, count(*) AS n, avg(gap_ms) AS mean_gap,
           quantile_cont(gap_ms, [0.25, 0.5, 0.75]) AS q,
           min(gap_ms) AS lo, max(gap_ms) AS hi,
           min(turn_idx) AS start_t, max(turn_idx) AS end_t
    FROM m GROUP BY conv_id, s
),
mb AS (
    SELECT m.conv_id, m.s,
           CASE WHEN a.hi > a.lo THEN
             least(greatest(CAST(floor((m.gap_ms - a.lo) / (a.hi - a.lo) * 10)
                            AS INT), 0), 9)
           ELSE 0 END AS bin,
           a.n AS n
    FROM m JOIN a ON m.conv_id = a.conv_id AND m.s = a.s
),
pb AS (
    SELECT conv_id, s, bin,
           CAST(count(*) AS DOUBLE) / CAST(min(n) AS DOUBLE) AS p
    FROM mb GROUP BY conv_id, s, bin
),
ent AS (SELECT conv_id, s, -sum(p * ln(p)) AS entropy FROM pb GROUP BY conv_id, s)
SELECT a.conv_id,
       CAST(a.s / {s} AS INT) AS window_idx,
       CAST(a.n AS INT) AS n,
       CAST(a.start_t AS INT) AS start_turn_idx,
       CAST(a.end_t AS INT) AS end_turn_idx,
       a.mean_gap AS mean_gap_ms,
       a.q[2] AS median_gap_ms,
       a.q[3] - a.q[1] AS iqr_gap_ms,
       round(CASE WHEN a.hi > a.lo THEN e.entropy ELSE 0.0 END, 9) AS entropy_gap,
       CAST(NULL AS VARCHAR) AS error
FROM a JOIN ent e ON a.conv_id = e.conv_id AND a.s = e.s
UNION ALL
SELECT conv_id, -1, 0, -1, -1, NULL, NULL, NULL, NULL,
       'group too small: ' || n_turns || ' turns' AS error
FROM (SELECT DISTINCT conv_id, n_turns FROM o) WHERE n_turns < 2
"""


SIG_WINDOW, SIG_STEP = 32, 16


def q_signal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8-W10: linear detrend + per-window moments/ACF/energy over the
    events value signal, built from ONE scan of events (the signal frame
    carries ``value`` directly; round 1 re-joined events on (conv_id, ts)
    and paid a second scan + shuffle).

    Floats are quantized to the float32 grid on both sides (cast to float,
    back to double): the detrend/moment sums accumulate in different orders
    across engines (~1e-15 relative), and a binary-grid snap absorbs that
    without decimal-rounding half-way hazards (an exact .5 at k decimals
    flips under ulp noise; float32 boundaries don't attract data values).
    """
    from ..operators.signal import signal_summary_features
    from ..transcripts import events_df, signal_frame_from_events
    # with_turn_idx=False (round-7): the kernel orders by (ts, event_id)
    # — the same per-conv permutation turn_idx encodes — and never emits
    # turn_idx, so the row_number Sort+Window pass is skipped outright
    sig = signal_frame_from_events(
        events_df(spark, sf_dir), keep_key=True, with_turn_idx=False)
    out = signal_summary_features(
        sig, value_col="value", window=SIG_WINDOW, overlap=0.5,
        detrend=True, band=None, shuffle_key="user_id",
        sort_cols=("ts", "event_id"),
    )
    return out.select(
        "conv_id", "window_idx", "n",
        _f32("mean"), _f32("sd"), _f32("skew"), _f32("kurtosis"),
        _f32("acf1"), _f32("acf2"), _f32("energy"), "error",
    )


def q_signal_features_fir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: the same kernel with the zero-phase FIR band-pass engaged.
    The oracle re-derives the hamming-sinc taps and applies the
    forward-backward 'same' convolution as two mirrored tap-joins;
    float32 snapping absorbs summation-order and libm-ulp differences."""
    from ..operators.signal import signal_summary_features
    from ..transcripts import events_df, signal_frame_from_events
    sig = signal_frame_from_events(
        events_df(spark, sf_dir), keep_key=True, with_turn_idx=False)
    out = signal_summary_features(
        sig, value_col="value", window=SIG_WINDOW, overlap=0.5,
        detrend=True, band=(0.1, 0.4), shuffle_key="user_id",
        sort_cols=("ts", "event_id"),
    )
    return out.select(
        "conv_id", "window_idx", "n",
        _f32("mean"), _f32("sd"), _f32("skew"), _f32("kurtosis"),
        _f32("acf1"), _f32("acf2"), _f32("energy"), "error",
    )


def _sql_signal_features(fir: bool = False) -> str:
    """DuckDB re-spec of signal.make_signal_kernel(detrend=True): least-
    squares detrend over the full valid series, strided overlapping
    windows, two-pass central moments, full-window-denominator ACF.

    ``fir=True`` inserts the zero-phase band-pass between detrend and
    windowing: hamming-windowed sinc taps (band 0.1-0.4, 21 taps,
    passband-center gain normalized — the fir_bandpass spec) applied as
    two mirrored 'same'-convolution tap-joins (forward, then reversed =
    filtfilt)."""
    from ..transcripts import SIGNAL_CTE
    w, s = SIG_WINDOW, SIG_STEP
    half, fir_sql, resid = 10, "", "r"
    if fir:
        resid = "z"
        fir_sql = f"""
taps0 AS (
    SELECT m,
           (0.4 * CASE WHEN m = {half} THEN 1.0
                  ELSE sin(pi() * 0.4 * (m - {half})) / (pi() * 0.4 * (m - {half})) END
          - 0.1 * CASE WHEN m = {half} THEN 1.0
                  ELSE sin(pi() * 0.1 * (m - {half})) / (pi() * 0.1 * (m - {half})) END)
           * (0.54 - 0.46 * cos(2 * pi() * m / {2 * half})) AS h
    FROM range({2 * half + 1}) t(m)
),
gain AS (
    SELECT sqrt(power(sum(h * cos(pi() * 0.25 * m)), 2)
              + power(sum(h * sin(pi() * 0.25 * m)), 2)) AS g
    FROM taps0
),
taps AS (SELECT m, h / g AS t FROM taps0, gain),
y AS (
    SELECT a.conv_id, a.gi, a.n, sum(b.r * tp.t) AS y
    FROM r a
    JOIN r b ON b.conv_id = a.conv_id
            AND b.gi BETWEEN a.gi - {half} AND a.gi + {half}
    JOIN taps tp ON tp.m = a.gi - b.gi + {half}
    GROUP BY a.conv_id, a.gi, a.n
),
z AS (
    SELECT a.conv_id, a.gi, a.n, sum(b.y * tp.t) AS r
    FROM y a
    JOIN y b ON b.conv_id = a.conv_id
            AND b.gi BETWEEN a.gi - {half} AND a.gi + {half}
    JOIN taps tp ON tp.m = b.gi - a.gi + {half}
    GROUP BY a.conv_id, a.gi, a.n
),"""
    return f"""
WITH {SIGNAL_CTE.strip()},
x0 AS (
    SELECT conv_id, value AS x,
           row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx, ts) - 1 AS t,
           count(*) OVER (PARTITION BY conv_id) AS n
    FROM sig WHERE value IS NOT NULL AND NOT isnan(value)
),
reg AS (
    SELECT conv_id, min(n) AS n, avg(CAST(t AS DOUBLE)) AS tm, avg(x) AS xm
    FROM x0 GROUP BY conv_id
),
sl AS (
    SELECT x0.conv_id, min(reg.n) AS n, min(reg.tm) AS tm, min(reg.xm) AS xm,
           CASE WHEN sum((t - tm) * (t - tm)) > 0
                THEN sum((t - tm) * (x - xm)) / sum((t - tm) * (t - tm))
                ELSE 0.0 END AS slope
    FROM x0 JOIN reg ON x0.conv_id = reg.conv_id
    GROUP BY x0.conv_id
),
r AS (
    SELECT x0.conv_id, x0.t AS gi, sl.n,
           x0.x - (sl.xm + sl.slope * (x0.t - sl.tm)) AS r
    FROM x0 JOIN sl ON x0.conv_id = sl.conv_id
),{fir_sql}
rl AS (
    SELECT conv_id, gi, n, r,
           lag(r, 1) OVER (PARTITION BY conv_id ORDER BY gi) AS r1,
           lag(r, 2) OVER (PARTITION BY conv_id ORDER BY gi) AS r2
    FROM {resid}
),
convs AS (SELECT DISTINCT conv_id, n FROM rl WHERE n >= 4),
ws AS (
    SELECT conv_id, unnest(range(0, n - {w} + 1, {s})) AS s, {w} AS w
    FROM convs WHERE n >= {w}
    UNION ALL
    SELECT conv_id, 0 AS s, n AS w FROM convs WHERE n < {w}
),
m AS (
    SELECT rl.conv_id, ws.s, ws.w, rl.gi, rl.r, rl.r1, rl.r2
    FROM rl JOIN ws ON rl.conv_id = ws.conv_id
                   AND rl.gi >= ws.s AND rl.gi < ws.s + ws.w
),
a1 AS (
    SELECT conv_id, s, count(*) AS n, avg(r) AS mu, avg(r * r) AS energy
    FROM m GROUP BY conv_id, s
),
a2 AS (
    SELECT m.conv_id, m.s,
           avg((m.r - a1.mu) * (m.r - a1.mu)) AS m2,
           avg((m.r - a1.mu) * (m.r - a1.mu) * (m.r - a1.mu)) AS m3,
           avg((m.r - a1.mu) * (m.r - a1.mu) * (m.r - a1.mu) * (m.r - a1.mu)) AS m4,
           sum((m.r - a1.mu) * (m.r - a1.mu)) AS ss,
           coalesce(sum(CASE WHEN m.gi >= m.s + 1
                             THEN (m.r - a1.mu) * (m.r1 - a1.mu) END), 0.0) AS acf1n,
           coalesce(sum(CASE WHEN m.gi >= m.s + 2
                             THEN (m.r - a1.mu) * (m.r2 - a1.mu) END), 0.0) AS acf2n
    FROM m JOIN a1 ON m.conv_id = a1.conv_id AND m.s = a1.s
    GROUP BY m.conv_id, m.s
)
SELECT a1.conv_id,
       CAST(a1.s / {s} AS INT) AS window_idx,
       CAST(a1.n AS INT) AS n,
       CAST(CAST(a1.mu AS FLOAT4) AS DOUBLE) AS mean,
       CAST(CAST(sqrt(a2.m2) AS FLOAT4) AS DOUBLE) AS sd,
       CAST(CAST(CASE WHEN a2.m2 > 0 THEN a2.m3 / (a2.m2 * sqrt(a2.m2)) ELSE 0.0 END AS FLOAT4) AS DOUBLE) AS skew,
       CAST(CAST(CASE WHEN a2.m2 > 0 THEN a2.m4 / (a2.m2 * a2.m2) - 3.0 ELSE 0.0 END AS FLOAT4) AS DOUBLE) AS kurtosis,
       CAST(CAST(CASE WHEN a2.ss > 0 THEN a2.acf1n / a2.ss ELSE 0.0 END AS FLOAT4) AS DOUBLE) AS acf1,
       CAST(CAST(CASE WHEN a2.ss > 0 THEN a2.acf2n / a2.ss ELSE 0.0 END AS FLOAT4) AS DOUBLE) AS acf2,
       CAST(CAST(a1.energy AS FLOAT4) AS DOUBLE) AS energy,
       CAST(NULL AS VARCHAR) AS error
FROM a1 JOIN a2 ON a1.conv_id = a2.conv_id AND a1.s = a2.s
UNION ALL
SELECT conv_id, -1, 0, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
       'group too small: ' || nv || ' samples' AS error
FROM (
    SELECT conv_id,
           count(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN 1 END) AS nv
    FROM sig GROUP BY conv_id
) WHERE nv < 4
"""


def q_freq_domain_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 frequency domain: per-window rfft summary (top-3 spectral peaks,
    centroid, spectral entropy, band-energy fractions) over the detrended
    events value signal. The oracle recomputes the DFT naively in SQL;
    float32-grid snapping absorbs FFT-vs-naive-DFT arithmetic differences
    (~1e-14 relative)."""
    from ..operators.signal import freq_domain_features
    from ..transcripts import events_df, signal_frame_from_events
    sig = signal_frame_from_events(
        events_df(spark, sf_dir), keep_key=True, with_turn_idx=False)
    out = freq_domain_features(
        sig, value_col="value", window=SIG_WINDOW, overlap=0.5,
        detrend=True, band=None, shuffle_key="user_id",
        sort_cols=("ts", "event_id"),
    )
    return out.select(
        "conv_id", "window_idx", "n",
        _f32("freq1"), _f32("mag1"), _f32("freq2"), _f32("mag2"),
        _f32("freq3"), _f32("mag3"),
        _f32("spec_centroid"), _f32("spec_entropy"),
        _f32("band_e1"), _f32("band_e2"), _f32("band_e3"), _f32("band_e4"),
        "error",
    )


def _sql_freq_domain() -> str:
    """DuckDB re-spec of signal._freq_features: naive DFT per window over
    the detrended residual series, magnitude peaks ranked (mag DESC, freq
    ASC), PSD centroid/entropy, 4-band energy fractions."""
    from ..transcripts import SIGNAL_CTE
    w, s = SIG_WINDOW, SIG_STEP
    return f"""
WITH {SIGNAL_CTE.strip()},
x0 AS (
    SELECT conv_id, value AS x,
           row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx, ts) - 1 AS t,
           count(*) OVER (PARTITION BY conv_id) AS n
    FROM sig WHERE value IS NOT NULL AND NOT isnan(value)
),
reg AS (
    SELECT conv_id, min(n) AS n, avg(CAST(t AS DOUBLE)) AS tm, avg(x) AS xm
    FROM x0 GROUP BY conv_id
),
sl AS (
    SELECT x0.conv_id, min(reg.n) AS n, min(reg.tm) AS tm, min(reg.xm) AS xm,
           CASE WHEN sum((t - tm) * (t - tm)) > 0
                THEN sum((t - tm) * (x - xm)) / sum((t - tm) * (t - tm))
                ELSE 0.0 END AS slope
    FROM x0 JOIN reg ON x0.conv_id = reg.conv_id
    GROUP BY x0.conv_id
),
r AS (
    SELECT x0.conv_id, x0.t AS gi, sl.n,
           x0.x - (sl.xm + sl.slope * (x0.t - sl.tm)) AS r
    FROM x0 JOIN sl ON x0.conv_id = sl.conv_id
),
convs AS (SELECT DISTINCT conv_id, n FROM r WHERE n >= 4),
ws AS (
    SELECT conv_id, unnest(range(0, n - {w} + 1, {s})) AS s, {w} AS w
    FROM convs WHERE n >= {w}
    UNION ALL
    SELECT conv_id, 0 AS s, n AS w FROM convs WHERE n < {w}
),
m AS (
    SELECT r.conv_id, ws.s, ws.w, r.gi - ws.s AS j, r.r
    FROM r JOIN ws ON r.conv_id = ws.conv_id
                  AND r.gi >= ws.s AND r.gi < ws.s + ws.w
),
spec AS (
    SELECT m.conv_id, m.s, min(m.w) AS w, CAST(k.k AS BIGINT) AS k,
           CAST(k.k AS DOUBLE) / min(m.w) AS f,
           sum(m.r * cos(2 * pi() * k.k * m.j / m.w)) AS re,
           sum(m.r * sin(2 * pi() * k.k * m.j / m.w)) AS im
    FROM m JOIN range(1, {w // 2} + 1) k(k) ON 2 * k.k <= m.w
    GROUP BY m.conv_id, m.s, k.k
),
mag AS (
    -- findpeaks semantics: a bin is a peak iff strictly above BOTH
    -- spectral neighbours; lag/lead are NULL at the endpoints, so the
    -- first non-DC bin and Nyquist can never be peaks
    SELECT conv_id, s, w, k, f, sqrt(re * re + im * im) AS mag,
           re * re + im * im AS psd,
           CASE WHEN re * re + im * im
                     > lag(re * re + im * im)
                       OVER (PARTITION BY conv_id, s ORDER BY k)
                 AND re * re + im * im
                     > lead(re * re + im * im)
                       OVER (PARTITION BY conv_id, s ORDER BY k)
                THEN 1 ELSE 0 END AS is_peak
    FROM spec
),
pk AS (
    SELECT conv_id, s, f, mag,
           row_number() OVER (PARTITION BY conv_id, s
                              ORDER BY mag DESC, f ASC) AS rn
    FROM mag WHERE is_peak = 1
),
pkagg AS (
    SELECT conv_id, s,
           max(CASE WHEN rn = 1 THEN f END) AS freq1,
           max(CASE WHEN rn = 1 THEN mag END) AS mag1,
           max(CASE WHEN rn = 2 THEN f END) AS freq2,
           max(CASE WHEN rn = 2 THEN mag END) AS mag2,
           max(CASE WHEN rn = 3 THEN f END) AS freq3,
           max(CASE WHEN rn = 3 THEN mag END) AS mag3
    FROM pk GROUP BY conv_id, s
),
agg AS (
    SELECT conv_id, s, min(w) AS w,
           sum(psd) AS total,
           sum(psd * f) AS centroid_num,
           sum(CASE WHEN least(greatest(CAST(ceil(f * 8) AS INT) - 1, 0), 3) = 0
                    THEN psd ELSE 0 END) AS be1,
           sum(CASE WHEN least(greatest(CAST(ceil(f * 8) AS INT) - 1, 0), 3) = 1
                    THEN psd ELSE 0 END) AS be2,
           sum(CASE WHEN least(greatest(CAST(ceil(f * 8) AS INT) - 1, 0), 3) = 2
                    THEN psd ELSE 0 END) AS be3,
           sum(CASE WHEN least(greatest(CAST(ceil(f * 8) AS INT) - 1, 0), 3) = 3
                    THEN psd ELSE 0 END) AS be4
    FROM mag GROUP BY conv_id, s
),
ent AS (
    SELECT m.conv_id, m.s,
           -sum(CASE WHEN m.psd > 0 AND a.total > 0
                     THEN (m.psd / a.total) * ln(m.psd / a.total)
                     ELSE 0.0 END) AS sent
    FROM mag m JOIN agg a ON m.conv_id = a.conv_id AND m.s = a.s
    GROUP BY m.conv_id, m.s
)
SELECT a.conv_id,
       CAST(a.s / {s} AS INT) AS window_idx,
       CAST(a.w AS INT) AS n,
       CAST(CAST(p.freq1 AS FLOAT4) AS DOUBLE) AS freq1,
       CAST(CAST(p.mag1 AS FLOAT4) AS DOUBLE) AS mag1,
       CAST(CAST(p.freq2 AS FLOAT4) AS DOUBLE) AS freq2,
       CAST(CAST(p.mag2 AS FLOAT4) AS DOUBLE) AS mag2,
       CAST(CAST(p.freq3 AS FLOAT4) AS DOUBLE) AS freq3,
       CAST(CAST(p.mag3 AS FLOAT4) AS DOUBLE) AS mag3,
       CAST(CAST(CASE WHEN a.total > 0 THEN a.centroid_num / a.total ELSE 0.0 END
            AS FLOAT4) AS DOUBLE) AS spec_centroid,
       CAST(CAST(CASE WHEN a.total > 0 THEN e.sent ELSE 0.0 END
            AS FLOAT4) AS DOUBLE) AS spec_entropy,
       CAST(CAST(CASE WHEN a.total > 0 THEN a.be1 / a.total ELSE 0.0 END
            AS FLOAT4) AS DOUBLE) AS band_e1,
       CAST(CAST(CASE WHEN a.total > 0 THEN a.be2 / a.total ELSE 0.0 END
            AS FLOAT4) AS DOUBLE) AS band_e2,
       CAST(CAST(CASE WHEN a.total > 0 THEN a.be3 / a.total ELSE 0.0 END
            AS FLOAT4) AS DOUBLE) AS band_e3,
       CAST(CAST(CASE WHEN a.total > 0 THEN a.be4 / a.total ELSE 0.0 END
            AS FLOAT4) AS DOUBLE) AS band_e4,
       CAST(NULL AS VARCHAR) AS error
FROM agg a
JOIN ent e ON a.conv_id = e.conv_id AND a.s = e.s
LEFT JOIN pkagg p ON a.conv_id = p.conv_id AND a.s = p.s
UNION ALL
SELECT conv_id, -1, 0, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
       NULL, NULL, NULL, NULL,
       'group too small: ' || nv || ' samples' AS error
FROM (
    SELECT conv_id,
           count(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN 1 END) AS nv
    FROM sig GROUP BY conv_id
) WHERE nv < 4
"""


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: LSH-bucketed cosine top-k (rows-only; approximate by
    design — recall vs the exact oracle is tested in tests/test_similarity)."""
    from ..functions.similarity import lsh_bucketed_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < KNN_NQ)
    return lsh_bucketed_topk(emb, q, k=KNN_K, bits=4, dims=EMB_DIMS)


MEDIA_N = 128


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over the embeddings table with
    planted near-identical vectors (rows-only: LSH candidate generation is
    approximate by design; tests measure recall vs brute force)."""
    from ..functions.similarity import embedding_near_dup_pairs
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    return embedding_near_dup_pairs(
        emb.unionByName(dup), min_cos=0.999, bits=4, dims=EMB_DIMS
    ).select("id_a", "id_b", F.round("cos_sim", 9).alias("cos_sim"))


def q_ivf_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat with nprobe = n_cells probes every cell — provably the
    exact brute-force top-k, so the IVF machinery (deterministic centroid
    seeding, broadcast assignment, cell-restricted ranking) verifies
    hash-exact against the same oracle as knn_cosine."""
    from ..functions.similarity import ivf_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < KNN_NQ)
    return ivf_topk(emb, q, k=KNN_K, n_cells=8, nprobe=8).select(
        "query_id", "neighbor_id", F.round("cos_sim", 9).alias("cos_sim"), "rank"
    )


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN at nprobe=2 of 8 cells (rows-only: approximate by
    design; recall vs exact measured in tests/test_similarity)."""
    from ..functions.similarity import ivf_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < KNN_NQ)
    return ivf_topk(emb, q, k=KNN_K, n_cells=8, nprobe=2).select(
        "query_id", "neighbor_id", F.round("cos_sim", 9).alias("cos_sim"), "rank"
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload → per-row mapInArrow feature
    kernel with error channel. The array<float> feature vector is exploded to one
    (media_id, dim, feat_u16) row per dimension — a canonicalizable shape —
    and the float is reported as its exact u16 source integer
    (round(f*65535) round-trips float32(u/65535) exactly for u < 2^16),
    so the DuckDB oracle can re-derive it in integer arithmetic."""
    from ..functions.multimodal import extract_media_features, synth_media
    feats = extract_media_features(synth_media(spark, n=MEDIA_N))
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.posexplode_outer("feat").alias("dim", "val"),
        "error",
    ).select(
        "media_id", "kind", "n_bytes",
        F.col("dim").cast("int").alias("dim"),
        F.round(F.col("val") * 65535).cast("int").alias("feat_u16"),
        "error",
    )


# Re-derivation of multimodal._decode_bytes in SQL: payload is the ASCII hex
# of sha256(str(i)) repeated 8x; features are the first 16 little-endian u16
# words of sha256(payload). hexmap turns hex byte-pairs into ints portably.
SQL_MEDIA = f"""
WITH hexmap AS (
    SELECT i AS b, lower(format('{{:02x}}', i)) AS hx FROM range(256) t(i)
),
media AS (
    SELECT i AS media_id,
           ['image', 'audio', 'video', 'hologram'][CAST(i % 4 AS INT) + 1] AS kind,
           sha256(repeat(sha256(CAST(i AS VARCHAR)), 8)) AS digest,
           CAST(512 AS BIGINT) AS n_bytes
    FROM range({MEDIA_N}) t(i)
),
ok AS (
    SELECT m.media_id, m.kind, m.n_bytes,
           CAST(d.dim AS INT) AS dim,
           CAST(lo.b + 256 * hi.b AS INT) AS feat_u16,
           CAST(NULL AS VARCHAR) AS error
    FROM media m
    CROSS JOIN range(16) d(dim)
    JOIN hexmap lo ON lo.hx = substr(m.digest, CAST(4 * d.dim + 1 AS INT), 2)
    JOIN hexmap hi ON hi.hx = substr(m.digest, CAST(4 * d.dim + 3 AS INT), 2)
    WHERE m.kind <> 'hologram'
)
SELECT * FROM ok
UNION ALL
SELECT media_id, kind, n_bytes,
       CAST(NULL AS INT) AS dim, CAST(NULL AS INT) AS feat_u16,
       'NotImplementedError: no decoder for kind=''hologram''' AS error
FROM media WHERE kind = 'hologram'
"""


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize plumbing, driver-checkable: the resized 8x8 binary
    payload exploded to (media_id, pos, byte) integer rows (binary columns
    don't canonicalize; bytes do). Error rows keep pos=-1/byte=NULL."""
    from ..functions.multimodal import resize_media, synth_media
    out = resize_media(synth_media(spark, n=MEDIA_N), out_w=8, out_h=8)
    good = (
        out.filter(F.col("error").isNull())
        .select(
            "media_id", "kind",
            F.posexplode(F.sequence(F.lit(0), F.lit(63))).alias("pos", "_"),
            F.hex("payload").alias("hx"), "error",
        )
        .select(
            "media_id", "kind", F.col("pos").cast("int").alias("pos"),
            F.expr("CAST(conv(substring(hx, pos * 2 + 1, 2), 16, 10) AS INT)")
            .alias("byte"),
            "error",
        )
    )
    bad = out.filter(F.col("error").isNotNull()).select(
        "media_id", "kind",
        F.lit(-1).cast("int").alias("pos"),
        F.lit(None).cast("int").alias("byte"),
        "error",
    )
    return good.unionByName(bad)


# resize stub re-spec: payload bytes (512 ASCII hex chars, zero-padded to
# 64x64) sampled at rows/cols linspace(0,63,8) = 0,9,18,...,63; src index
# ri*64+ci; bytes past the 512 real chars are the zero padding
SQL_MEDIA_RESIZE = f"""
WITH media AS (
    SELECT i AS media_id,
           ['image', 'audio', 'video', 'hologram'][CAST(i % 4 AS INT) + 1] AS kind,
           repeat(sha256(CAST(i AS VARCHAR)), 8) AS payload
    FROM range({MEDIA_N}) t(i)
),
idx AS (SELECT unnest([0, 9, 18, 27, 36, 45, 54, 63]) AS v,
               generate_subscripts([0, 9, 18, 27, 36, 45, 54, 63], 1) - 1 AS k)
SELECT m.media_id, m.kind,
       CAST(r.k * 8 + c.k AS INT) AS pos,
       CAST(CASE WHEN r.v * 64 + c.v < 512
                 THEN ascii(substr(m.payload, r.v * 64 + c.v + 1, 1))
                 ELSE 0 END AS INT) AS byte,
       CAST(NULL AS VARCHAR) AS error
FROM media m, idx r, idx c
WHERE m.kind = 'image'
UNION ALL
SELECT media_id, kind, CAST(-1 AS INT), CAST(NULL AS INT),
       'ValueError: kind ' || chr(39) || kind || chr(39) || ' is not resizable' AS error
FROM media WHERE kind <> 'image'
"""


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing, driver-checkable: sampled frames exploded
    to (media_id, frame_idx, pos, byte) integer rows."""
    from ..functions.multimodal import sample_frames, synth_media
    out = sample_frames(
        synth_media(spark, n=MEDIA_N), every_k=2, frame_w=16, frame_h=16
    )
    good = (
        out.filter(F.col("error").isNull())
        .select(
            "media_id", "frame_idx", "n_frames",
            F.posexplode(F.sequence(F.lit(0), F.lit(255))).alias("pos", "_"),
            F.hex("frame").alias("hx"), "error",
        )
        .select(
            "media_id", "frame_idx", "n_frames",
            F.col("pos").cast("int").alias("pos"),
            F.expr("CAST(conv(substring(hx, pos * 2 + 1, 2), 16, 10) AS INT)")
            .alias("byte"),
            "error",
        )
    )
    bad = out.filter(F.col("error").isNotNull()).select(
        "media_id", "frame_idx", "n_frames",
        F.lit(-1).cast("int").alias("pos"),
        F.lit(None).cast("int").alias("byte"),
        "error",
    )
    return good.unionByName(bad)


# frame stub re-spec: 512-byte payload / 256-byte frames = 2 frames,
# every_k=2 keeps frame 0 only -> bytes are payload chars 1..256
SQL_MEDIA_FRAMES = f"""
WITH media AS (
    SELECT i AS media_id,
           ['image', 'audio', 'video', 'hologram'][CAST(i % 4 AS INT) + 1] AS kind,
           repeat(sha256(CAST(i AS VARCHAR)), 8) AS payload
    FROM range({MEDIA_N}) t(i)
)
SELECT m.media_id, CAST(0 AS INT) AS frame_idx, CAST(2 AS INT) AS n_frames,
       CAST(p.p AS INT) AS pos,
       CAST(ascii(substr(m.payload, p.p + 1, 1)) AS INT) AS byte,
       CAST(NULL AS VARCHAR) AS error
FROM media m, range(256) p(p)
WHERE m.kind = 'video'
UNION ALL
SELECT media_id, CAST(-1 AS INT), CAST(0 AS INT), CAST(-1 AS INT),
       CAST(NULL AS INT),
       'ValueError: kind ' || chr(39) || kind || chr(39) || ' has no frames' AS error
FROM media WHERE kind <> 'video'
"""


def q_media_frames_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video demux gate (round-5): the payloads are valid RIFF/AVI
    containers (multimodal.build_avi) and sample_frames(decoder='stdlib')
    must walk the chunk tree to recover the 00db frame payloads — a raw
    fixed-size split of the container bytes would land on RIFF headers
    and hash-mismatch. Frame pixel bytes are ASCII hex by construction
    (synth_avi_media), so the oracle re-derives the DEMUXED frames in
    pure SQL: frame fi of video i = repeat(sha256(i || ':' || fi), 4).
    Sampled frames of 3 at every_k=2 are 0 and 2."""
    from ..functions.multimodal import sample_frames, synth_avi_media
    out = sample_frames(
        synth_avi_media(spark, n=MEDIA_N, n_frames=3),
        every_k=2, decoder="stdlib",
    )
    return (
        out.filter(F.col("error").isNull())
        .select(
            "media_id", "frame_idx", "n_frames",
            F.posexplode(F.sequence(F.lit(0), F.lit(255))).alias("pos", "_"),
            F.hex("frame").alias("hx"), "error",
        )
        .select(
            "media_id", "frame_idx", "n_frames",
            F.col("pos").cast("int").alias("pos"),
            F.expr("CAST(conv(substring(hx, pos * 2 + 1, 2), 16, 10) AS INT)")
            .alias("byte"),
            "error",
        )
    )


SQL_MEDIA_FRAMES_REAL = f"""
WITH media AS (SELECT i AS media_id FROM range({MEDIA_N}) t(i)),
fs AS (SELECT unnest([0, 2]) AS frame_idx)
SELECT m.media_id,
       CAST(f.frame_idx AS INT) AS frame_idx,
       CAST(3 AS INT) AS n_frames,
       CAST(p.p AS INT) AS pos,
       CAST(ascii(substr(
           repeat(sha256(CAST(m.media_id AS VARCHAR) || ':'
                         || CAST(f.frame_idx AS VARCHAR)), 4),
           p.p + 1, 1)) AS INT) AS byte,
       CAST(NULL AS VARCHAR) AS error
FROM media m, fs f, range(256) p(p)
"""


def q_media_png_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode gate (round-5 verdict item 4): the payloads are
    valid PNG containers (multimodal.build_png — row filters cycle through
    all five types) and resize_media(decoder='stdlib') must inflate the
    IDAT stream and reconstruct every filter to recover the pixels; an
    identity 8×8 resize then returns exactly the decoded bytes. Pixels
    are the closed form (31·i + 7·y + 13·x) mod 256 (synth_png_media), so
    the oracle recomputes every byte in pure SQL — a raw payload split or
    a partial filter implementation hash-mismatches."""
    from ..functions.multimodal import resize_media, synth_png_media
    out = resize_media(
        synth_png_media(spark, n=MEDIA_N, side=8),
        out_w=8, out_h=8, decoder="stdlib",
    )
    return (
        out.select(
            "media_id",
            F.posexplode(F.sequence(F.lit(0), F.lit(63))).alias("pos", "_"),
            F.hex("payload").alias("hx"), "error",
        )
        .select(
            "media_id",
            F.col("pos").cast("int").alias("pos"),
            F.expr("CAST(conv(substring(hx, pos * 2 + 1, 2), 16, 10) AS INT)")
            .alias("byte"),
            "error",
        )
    )


SQL_MEDIA_PNG_REAL = f"""
WITH media AS (SELECT i AS media_id FROM range({MEDIA_N}) t(i))
SELECT m.media_id,
       CAST(p.p AS INT) AS pos,
       CAST((31 * m.media_id + 7 * (p.p // 8) + 13 * (p.p % 8)) % 256 AS INT)
           AS byte,
       CAST(NULL AS VARCHAR) AS error
FROM media m, range(64) p(p)
"""


def q_media_jpeg_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode gate (round-6, extends round-5 "missing
    #2" beyond PNG): the payloads are valid baseline-sequential JPEGs
    (multimodal.build_jpeg — Huffman entropy coding, differential DC,
    flat DQT of 8s) and resize_media(decoder='stdlib') must entropy-decode
    the scan, dequantize and IDCT to recover the pixels; an identity 16×16
    resize then returns exactly the decoded bytes.  The images are
    block-constant with closed-form block values (synth_jpeg_media), the
    one family where the lossy codec is bit-exact, so the oracle
    recomputes every byte in pure SQL — a payload split, a partial Huffman
    table, or a broken DC predictor chain hash-mismatches."""
    from ..functions.multimodal import resize_media, synth_jpeg_media
    out = resize_media(
        synth_jpeg_media(spark, n=MEDIA_N, side=16),
        out_w=16, out_h=16, decoder="stdlib",
    )
    return (
        out.select(
            "media_id",
            F.posexplode(F.sequence(F.lit(0), F.lit(255))).alias("pos", "_"),
            F.hex("payload").alias("hx"), "error",
        )
        .select(
            "media_id",
            F.col("pos").cast("int").alias("pos"),
            F.expr("CAST(conv(substring(hx, pos * 2 + 1, 2), 16, 10) AS INT)")
            .alias("byte"),
            "error",
        )
    )


SQL_MEDIA_JPEG_REAL = f"""
WITH media AS (SELECT i AS media_id FROM range({MEDIA_N}) t(i))
SELECT m.media_id,
       CAST(p.p AS INT) AS pos,
       CAST((31 * m.media_id + 7 * ((p.p // 16) // 8)
             + 13 * ((p.p % 16) // 8)) % 256 AS INT) AS byte,
       CAST(NULL AS VARCHAR) AS error
FROM media m, range(256) p(p)
"""


def q_media_mp4_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO BMFF/MP4 demux gate (round-6, closes the round-5 "missing
    #2" format list): the payloads are valid MP4 files
    (multimodal.build_mp4 — ftyp + moov with genuine sample tables + mdat)
    and sample_frames(decoder='stdlib') must resolve stsd/stsz/stsc/stco
    to recover each sample's absolute file offset — a raw fixed-size split
    of the container bytes would land on box headers and hash-mismatch.
    Frame pixel bytes are ASCII hex by construction (synth_mp4_media), so
    the oracle re-derives the DEMUXED frames in pure SQL: frame fi of
    video i = repeat(sha256(i || '/' || fi), 4). Sampled frames of 3 at
    every_k=2 are 0 and 2."""
    from ..functions.multimodal import sample_frames, synth_mp4_media
    out = sample_frames(
        synth_mp4_media(spark, n=MEDIA_N, n_frames=3),
        every_k=2, decoder="stdlib",
    )
    return (
        out.filter(F.col("error").isNull())
        .select(
            "media_id", "frame_idx", "n_frames",
            F.posexplode(F.sequence(F.lit(0), F.lit(255))).alias("pos", "_"),
            F.hex("frame").alias("hx"), "error",
        )
        .select(
            "media_id", "frame_idx", "n_frames",
            F.col("pos").cast("int").alias("pos"),
            F.expr("CAST(conv(substring(hx, pos * 2 + 1, 2), 16, 10) AS INT)")
            .alias("byte"),
            "error",
        )
    )


SQL_MEDIA_MP4_REAL = f"""
WITH media AS (SELECT i AS media_id FROM range({MEDIA_N}) t(i)),
fs AS (SELECT unnest([0, 2]) AS frame_idx)
SELECT m.media_id,
       CAST(f.frame_idx AS INT) AS frame_idx,
       CAST(3 AS INT) AS n_frames,
       CAST(p.p AS INT) AS pos,
       CAST(ascii(substr(
           repeat(sha256(CAST(m.media_id AS VARCHAR) || '/'
                         || CAST(f.frame_idx AS VARCHAR)), 4),
           p.p + 1, 1)) AS INT) AS byte,
       CAST(NULL AS VARCHAR) AS error
FROM media m, fs f, range(256) p(p)
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "doc_token_stats": q_doc_token_stats,
    "doc_quality": q_doc_quality,
    "doc_fingerprint_dups": q_doc_fingerprint_dups,
    "doc_exact_dedup": q_doc_exact_dedup,
    "knn_cosine": q_knn_cosine,
    "minhash_lsh_candidates": q_minhash_lsh_candidates,
    "simhash_near_dups": q_simhash_near_dups,
    "ngram_jaccard_dups": q_ngram_jaccard_dups,
    "ngram_jaccard_exact": q_ngram_jaccard_exact,
    "near_dup_clusters": q_near_dup_clusters,
    "normalize_time_units": q_normalize_time_units,
    "sql_session_summary": q_sql_session_summary,
    "window_kernel_features": q_window_kernel_features,
    "signal_features": q_signal_features,
    "signal_features_fir": q_signal_features_fir,
    "freq_domain_features": q_freq_domain_features,
    "lsh_ann_topk": q_lsh_ann_topk,
    "embedding_near_dups": q_embedding_near_dups,
    "ivf_exact_topk": q_ivf_exact_topk,
    "ivf_ann_topk": q_ivf_ann_topk,
    "media_features": q_media_features,
    "media_resize": q_media_resize,
    "media_frames": q_media_frames,
    "media_frames_real": q_media_frames_real,
    "media_png_real": q_media_png_real,
    "media_jpeg_real": q_media_jpeg_real,
    "media_mp4_real": q_media_mp4_real,
}

ORACLES: dict[str, str] = {
    "doc_token_stats": SQL_DOC_TOKEN_STATS,
    "doc_quality": SQL_DOC_QUALITY,
    "doc_fingerprint_dups": SQL_DOC_FP_DUPS,
    "doc_exact_dedup": SQL_DOC_EXACT_DEDUP,
    "knn_cosine": SQL_KNN,
    "ivf_exact_topk": SQL_KNN,
    "media_features": SQL_MEDIA,
    "media_resize": SQL_MEDIA_RESIZE,
    "media_frames": SQL_MEDIA_FRAMES,
    "media_frames_real": SQL_MEDIA_FRAMES_REAL,
    "media_png_real": SQL_MEDIA_PNG_REAL,
    "media_jpeg_real": SQL_MEDIA_JPEG_REAL,
    "media_mp4_real": SQL_MEDIA_MP4_REAL,
    "ngram_jaccard_exact": SQL_NGRAM_EXACT,
    "near_dup_clusters": SQL_NEAR_DUP_CLUSTERS,
    "normalize_time_units": SQL_NORMALIZE_UNITS,
    "sql_session_summary": SQL_SESSION_SUMMARY,
    "window_kernel_features": _sql_window_kernel(),
    "signal_features": _sql_signal_features(),
    "signal_features_fir": _sql_signal_features(fir=True),
    "freq_domain_features": _sql_freq_domain(),
}
