"""Equality references for the engine's vectorized kernels.

These are the Spark-expression forms the engine used to run, kept so that
tests can require the kernels to return the same rows:

* cosine top-k (brute force, LSH, IVF), IVF cell assignment and embedding
  near-dup pairs as broadcast or bucket joins, each pair scored by the
  interpreted higher-order fold ``try_divide(dot(a, b), norm(a) *
  norm(b))``. The DuckDB oracles reproduce that fold bit for bit, so the
  kernels must match these forms with ``==``, not within a tolerance;
* the pairs of MinHash bands, SimHash block keys and capped n-gram
  shingles as bucket self-joins under strict ``id_a < id_b``, with hot
  buckets resolved through a per-bucket stats aggregate;
* MinHash signatures and SimHash as all-JVM expression folds.

NULL ids are dropped first: they never rank, pair or seed a cell.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from mpower_feature_analysis_spark.functions.dedup_text import (
    _minhash_bands,
    _simhash_keys,
    exploded_shingle_hashes,
)
from mpower_feature_analysis_spark.functions.similarity import lsh_signature
from mpower_feature_analysis_spark.functions.text import (
    rolling_hash_shingles,
    word_shingles,
)


def _as_double(col) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product: ``acc + x * y`` left to right."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cos(a: Column, b: Column) -> Column:
    """NULL for a NULL vector, a NULL element, a length mismatch or a zero
    denominator (``try_divide``); NaN when an input is non-finite."""
    return F.try_divide(dot(a, b), F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _vectors(frame: DataFrame, id_col, vec_col, id_name, vec_name) -> DataFrame:
    return frame.select(
        F.col(id_col).alias(id_name), _as_double(vec_col).alias(vec_name)
    ).filter(F.col(id_name).isNotNull())


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _score(pairs: DataFrame, qv: str, cv: str) -> DataFrame:
    return (
        pairs.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", cos(F.col(qv), F.col(cv)))
        .filter(F.col("cos_sim").isNotNull())
        .select("query_id", "neighbor_id", "cos_sim")
    )


def cosine_topk_bruteforce(embeddings, queries, k=5, id_col="vec_id",
                           vec_col="embedding") -> DataFrame:
    q = _vectors(queries, id_col, vec_col, "query_id", "qv")
    c = _vectors(embeddings, id_col, vec_col, "neighbor_id", "cv")
    return _ranked(_score(c.crossJoin(F.broadcast(q)), "qv", "cv"), k)


def lsh_bucketed_topk(embeddings, queries, k=5, bits=4, dims=None,
                      id_col="vec_id", vec_col="embedding") -> DataFrame:
    sig = lsh_signature(bits=bits, dims=dims)
    q = _vectors(queries, id_col, vec_col, "query_id", "qv")
    c = _vectors(embeddings, id_col, vec_col, "neighbor_id", "cv")
    pairs = c.withColumn("bucket", sig("cv")).join(
        F.broadcast(q.withColumn("bucket", sig("qv"))), "bucket"
    )
    return _ranked(_score(pairs, "qv", "cv"), k)


def _assign(base: DataFrame, centroids: DataFrame, keep: int) -> DataFrame:
    """Each ``(__id, __v)`` row's ``keep`` nearest cells: distance is the
    negated cosine, NULL distances never rank, NaN ranks last, ties go to
    the smaller cell id."""
    w = W.partitionBy("__id").orderBy(F.col("__d").asc(), F.col("cell").asc())
    return (
        base.crossJoin(F.broadcast(centroids))
        .withColumn("__d", -cos(F.col("__v"), F.col("cv")))
        .filter(F.col("__d").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= keep)
        .select("__id", "cell")
    )


def ivf_assign_cells(embeddings, n_cells, keep=1, id_col="vec_id",
                     vec_col="embedding"):
    base = _vectors(embeddings, id_col, vec_col, "__id", "__v")
    centroids = base.orderBy(F.xxhash64("__id")).limit(n_cells).select(
        F.col("__id").alias("cell"), F.col("__v").alias("cv")
    )
    return centroids, _assign(base, centroids, keep).withColumnRenamed(
        "__id", id_col
    )


def ivf_topk(embeddings, queries, k=5, n_cells=8, nprobe=2, id_col="vec_id",
             vec_col="embedding") -> DataFrame:
    """Corpus vectors live in their nearest cell; a query ranks the vectors
    of its ``nprobe`` nearest cells, or of every cell once ``nprobe``
    reaches ``n_cells``."""
    centroids, cells = ivf_assign_cells(embeddings, n_cells, 1, id_col, vec_col)
    q = _vectors(queries, id_col, vec_col, "__id", "__v")
    if nprobe >= n_cells:
        probes = q.select("__id").crossJoin(centroids.select("cell"))
    else:
        probes = _assign(q, centroids, nprobe)
    probes = probes.join(q, "__id").select(
        F.col("__id").alias("query_id"), F.col("__v").alias("qv"), "cell"
    )
    corpus = _vectors(embeddings, id_col, vec_col, "neighbor_id", "nv").join(
        cells.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id"
    )
    return _ranked(_score(corpus.join(F.broadcast(probes), "cell"), "qv", "nv"), k)


def _bucket_self_join(keyed, keys, id_col, cap=None, mode="star", verify=None):
    """Pairs of rows of ``keyed`` that share the ``keys`` columns, under
    strict ``id_a < id_b``. ``verify`` is ``(payload column, output name,
    score(a, b), keep(score))`` over Columns. A bucket above ``cap``
    members (NULL ids not counted) pairs each member with its min-id
    canonical (``'star'``) or is dropped (``'skip'``), through a per-bucket
    stats aggregate."""
    pay, name, score, keep = verify or (None, None, None, None)

    def checked(frame, a_pay, b_pay, out):
        """``out`` columns of ``frame``, scored and filtered by ``verify``
        on the payload columns named ``a_pay`` and ``b_pay``."""
        if verify:
            frame = frame.withColumn(name, score(F.col(a_pay), F.col(b_pay)))
            frame = frame.filter(keep(F.col(name)))
            out = [*out, name]
        return frame.select(*out)

    def pairs(frame):
        a, b = frame.alias("a"), frame.alias("b")
        on = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        for k in keys:
            on &= F.col(f"a.{k}") == F.col(f"b.{k}")
        return checked(
            a.join(b, on), f"a.{pay}", f"b.{pay}",
            [F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")],
        )

    if cap is None:
        return pairs(keyed)
    aggs = [F.count(id_col).alias("__sz"), F.min(id_col).alias("__canon")]
    if verify:
        aggs.append(F.min_by(pay, F.col(id_col)).alias("__canon_p"))
    tagged = keyed.join(keyed.groupBy(*keys).agg(*aggs), keys)
    out = pairs(tagged.filter(F.col("__sz") <= cap).select(*keyed.columns))
    if mode == "star":
        hot = tagged.filter(
            (F.col("__sz") > cap) & (F.col(id_col) != F.col("__canon"))
        )
        out = out.unionByName(checked(
            hot, "__canon_p", pay,
            [F.col("__canon").alias("id_a"), F.col(id_col).alias("id_b")],
        ))
    return out


def minhash_lsh_candidates(df, id_col="doc_id", text_col="text", num_hashes=32,
                           bands=8, shingle_k=5, max_bucket_size=None,
                           hot_bucket_mode="star") -> DataFrame:
    """Band-bucket self-join of the engine's (id, band, bucket) rows; a
    pair sharing several bands is emitted once."""
    banded = _minhash_bands(df, id_col, text_col, num_hashes, bands, shingle_k)
    return _bucket_self_join(
        banded, ["band", "bucket"], id_col, max_bucket_size, hot_bucket_mode
    ).distinct()


def simhash_near_dups(df, id_col="doc_id", text_col="text", max_hamming=3,
                      blocks=4, max_bucket_size=None,
                      hot_bucket_mode="star") -> DataFrame:
    """Block-key self-join of the engine's (id, simhash, cid, key) rows,
    verified by ``bit_count(xor) <= max_hamming``; a pair sharing several
    keys is emitted once."""
    keyed = _simhash_keys(df, id_col, text_col, max_hamming, blocks)
    verify = ("simhash", "hamming",
              lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("int"),
              lambda h: h <= max_hamming)
    return _bucket_self_join(
        keyed, ["cid", "key"], id_col, max_bucket_size, hot_bucket_mode, verify
    ).distinct()


def embedding_near_dup_pairs(embeddings, min_cos=0.9, bits=4, dims=None,
                             id_col="vec_id", vec_col="embedding",
                             max_bucket_size=None, hot_bucket_mode="star"):
    """LSH-bucket self-join, verified at ``min_cos``."""
    sig = lsh_signature(bits=bits, dims=dims)
    v = _vectors(embeddings, id_col, vec_col, id_col, "v").withColumn(
        "bucket", sig("v")
    )
    verify = ("v", "cos_sim", cos, lambda c: c >= min_cos)
    return _bucket_self_join(
        v, ["bucket"], id_col, max_bucket_size, hot_bucket_mode, verify
    )


def ngram_jaccard_capped_pairs(corpus, cap, min_jaccard=0.0, id_col="doc_id",
                               text_col="text", k=5) -> DataFrame:
    """The capped n-gram path as a shingle-frequency aggregate, a cap join
    and a shingle self-join, verified against the full string shingle
    sets of the whole corpus. A shingle's frequency counts distinct
    non-NULL ids, and one text per id is shingled, so rows that repeat an
    (id, text) pair count once."""
    sh = corpus.dropDuplicates([id_col]).select(
        F.col(id_col),
        F.array_distinct(word_shingles(text_col, k=k, out="sh")).alias("sh"),
    )
    exh = (
        exploded_shingle_hashes(corpus, id_col, text_col, k)
        .filter(F.col(id_col).isNotNull())
        .select(id_col, "gh")
        .distinct()
    )
    freq = exh.groupBy("gh").agg(F.count(F.lit(1)).alias("__f"))
    exc = exh.join(freq.filter(F.col("__f") <= cap), "gh").select(id_col, "gh")
    a, b = exc.alias("a"), exc.alias("b")
    cands = (
        a.join(b, (F.col("a.gh") == F.col("b.gh"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return (
        cands
        .join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1)),
        )
        .select("id_a", "id_b", "jaccard")
        .filter(F.col("jaccard") >= min_jaccard)
    )


def minhash_signatures(df, id_col="doc_id", text_col="text", num_hashes=32,
                       shingle_k=5) -> DataFrame:
    """The expression chain ``array_min(transform(shingles, (s, i) ->
    xxhash64(s, i)))`` per slot. The two-parameter lambda binds ``i`` to
    the element index, so every slot holds the same value — the shipped
    semantics the ``mapInArrow`` kernel reproduces."""
    sh = df.select(
        F.col(id_col), rolling_hash_shingles(text_col, k=shingle_k, out="sh")
    )
    sig = F.array(*[
        F.array_min(F.transform(F.col("sh"), lambda s, i=i: F.xxhash64(s, F.lit(i))))
        for i in range(num_hashes)
    ])
    return sh.select(id_col, sig.alias("minhash"))


def simhash64(df, id_col="doc_id", text_col="text") -> DataFrame:
    """63 interpreted ``aggregate`` vote folds per row, one per bit."""
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    hashes = F.transform(words, lambda w: F.xxhash64(w))

    def bit_sum(i: int):
        return F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    sim = sum(
        (F.when(bit_sum(i) > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
         for i in range(63)),
        F.lit(0).cast("long"),
    )
    return df.select(F.col(id_col), sim.alias("simhash"))
