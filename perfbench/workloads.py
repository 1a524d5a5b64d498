"""The three benchmark workloads.

Each workload has the same shape:

* ``prepare()`` -- generate inputs from the seed and compute the reference
  (never timed);
* ``stage(spark)`` -- work the program must do before it can serve the
  first operation (part of ``setup_s``);
* ``warm(spark)`` -- one complete operation whose output is collected
  (part of ``setup_s``), and ``check(out)`` -- its output check (not);
* ``op(spark)`` -- one timed operation, output to a no-op sink;
* ``finish(spark)`` -- a check after the timed loop, for a workload whose
  state can only be checked at the end;
* ``traced(spark, tracer)`` / ``layer_metrics(log, tracer)`` -- the
  per-layer run: the operation's job in :data:`PASSES` order, untraced and
  traced, then any forced plan prefixes; layer metrics from the spans and
  from the event log.

Sizes are fixed here, not on the command line: a run's numbers are only
comparable with runs of the same sizes.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import time
from contextlib import ExitStack, nullcontext

import pyarrow.parquet as pq

import checks
import gen
from tracing import NULL, EventLog, patched

from mpower_feature_analysis_spark.functions.dedup_text import minhash_lsh_candidates
from mpower_feature_analysis_spark.functions.graph import near_dup_clusters
from mpower_feature_analysis_spark.functions.similarity import (
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
)
from mpower_feature_analysis_spark.operators import (
    asof_join,
    dedup_last_wins,
    windowed_summary_features,
)
from mpower_feature_analysis_spark.plans import incremental
from mpower_feature_analysis_spark.plans.pipeline import extract_turn_features
from mpower_feature_analysis_spark.sources import snapshots
from mpower_feature_analysis_spark.utils import unpersist_all


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if "Exchange " in line and "Reused" not in line)


def _groups(tr, roots, names=None) -> set[str]:
    """Job groups of the spans below ``roots`` (those called one of
    ``names``, with everything below them, when given)."""
    picked = [s for r in roots for s in tr.descendants(r) if names is None or s["name"] in names]
    return {d["group"] for s in picked for d in tr.descendants(s)}


def _mb(tasks, key) -> float:
    return sum(t[key] for t in tasks) / 2**20


def _cpu_frac(tasks) -> float:
    run_ms = sum(t["run_ms"] for t in tasks)
    return sum(t["cpu_ns"] for t in tasks) / 1e6 / run_ms if run_ms else 0.0


# the traced run times the same job untraced and traced in this order (ABBA:
# a drift that is linear in time, such as JIT warm-up, cancels)
PASSES = (False, True, True, False)


class Workload:
    name = ""
    MIN_OPS = 1  # timed operations a run holds even when the window is shorter

    def __init__(self, cache_dir: str, work_dir: str, seed: int):
        self.cache = cache_dir
        self.work = work_dir
        self.seed = seed
        self.rows = 0  # input rows of one operation
        self.untraced_s: list[float] = []  # untraced passes of the traced run
        self.tops: list[dict] = []  # the traced passes' root spans

    def stage(self, spark) -> None:
        pass

    def check(self, out) -> None:
        pass

    def finish(self, spark) -> None:
        pass

    def _passes(self, tr, job) -> None:
        """Run ``job(tracer)`` once per entry of :data:`PASSES`: untraced
        with :data:`NULL` (wall clock only) or traced under a root span."""
        for traced in PASSES:
            if traced:
                with tr.span("trace", "job") as top:
                    job(tr)
                self.tops.append(top)
            else:
                t0 = time.perf_counter()
                job(NULL)
                self.untraced_s.append(time.perf_counter() - t0)

    def _traffic(self, log: EventLog, tr) -> dict:
        """Shuffle and spill per traced pass."""
        tasks = log.tasks_in(_groups(tr, self.tops))
        n = len(self.tops)
        return {"operators.shuffle_mb": _mb(tasks, "shuffle_write") / n,
                "operators.spill_mb": _mb(tasks, "spill") / n}

    def _build_jobs(self, log: EventLog, tr, names) -> float:
        """Spark jobs started while building plans, per traced pass."""
        return len(log.jobs_in(_groups(tr, self.tops, names))) / len(self.tops)


class FlagshipBatch(Workload):
    """Turns + states through dedup, as-of join, window stack and the Arrow
    window kernel, into a no-op sink."""

    name = "flagship_batch"
    N_TURNS = 200_000
    # the package generator builds one frame per conversation: fewer, longer
    # conversations keep its cost per seed near 2 s
    N_CONVS = 1_000
    # operations keep getting faster for the first few after set-up, and a
    # window holding two instead of three of them read 20% slower
    MIN_OPS = 5
    WARM_OPS = 2
    BUILDS = ("extract_turn_features", "windowed_summary_features")

    def prepare(self) -> None:
        d = gen.transcripts(self.cache, self.seed, self.N_TURNS, self.N_CONVS)
        self.turns_dir, self.states_dir = f"{d}/turns", f"{d}/states"
        self.ref = checks.FlagshipReference(self.turns_dir, self.states_dir, seed=self.seed)
        self.rows = self.ref.n_turns

    def _inputs(self, spark):
        return spark.read.parquet(self.turns_dir), spark.read.parquet(self.states_dir)

    def _job(self, tr, turns, states):
        with tr.span("plans", "extract_turn_features"):
            feats = extract_turn_features(turns, states)
        with tr.span("plans", "windowed_summary_features"):
            wins = windowed_summary_features(turns)
        with tr.span("operators", "pipeline.run"):
            noop(feats)
        with tr.span("operators.kernels", "kernels.run"):
            noop(wins)
        return feats, wins

    def warm(self, spark):
        """One collected pass for the check, then passes as timed: the
        first few jobs of a session run slower as the JIT warms."""
        turns, states = self._inputs(spark)
        out = (extract_turn_features(turns, states).toPandas(),
               windowed_summary_features(turns).toPandas())
        for _ in range(self.WARM_OPS):
            self.op(spark)
        return out

    def check(self, out) -> None:
        self.ref.check(*out)

    def op(self, spark) -> dict:
        self._job(NULL, *self._inputs(spark))
        return {}

    def traced(self, spark, tr) -> dict:
        turns, states = self._inputs(spark)
        plans = []
        self._passes(tr, lambda t: plans.append(self._job(t, turns, states)))
        # forced plan prefixes: each adds one layer to the previous one
        with tr.span("sources.io", "scan.turns") as st:
            noop(turns)
        with tr.span("sources.io", "scan.states") as ss:
            noop(states)
        dd = dedup_last_wins(turns, ["conv_id", "turn_idx"], ["ts"], partition_by=["conv_id"])
        with tr.span("operators", "dedup.run") as p1:
            noop(dd)
        with tr.span("operators", "asof.run") as p2:
            noop(asof_join(dd, states, payload=["label"]))
        d = tr.duration
        per = functools.partial(tr.per_root, self.tops)
        return {
            "sources.scan_s": 2 * d(st) + d(ss),
            "operators.dedup_s": d(p1) - d(st),
            "operators.asof_s": d(p2) - d(p1) - d(ss),
            "operators.windows_s": per("pipeline.run") - d(p2),
            "operators.kernels_s": per("kernels.run") - d(st),
            "plans.build_s": sum(per(b) for b in self.BUILDS),
            "operators.exchanges": sum(exchanges(df) for df in plans[-1]),
        }

    def layer_metrics(self, log: EventLog, tr) -> dict:
        return {
            **self._traffic(log, tr),
            "operators.kernels.cpu_frac": _cpu_frac(
                log.tasks_in(_groups(tr, self.tops, {"kernels.run"}), kernel_only=True)),
            "plans.build_jobs": self._build_jobs(log, tr, self.BUILDS),
        }


class IncrementalRefresh(Workload):
    """A range-clustered turns snapshot table with a derived feature table,
    advanced by small localized churn appends, each followed by an
    incremental refresh."""

    name = "incremental_refresh"
    N_TURNS = 60_000
    # an operation takes 4-7 s, about the window's length: without a floor
    # a run holds one or two, and the first few after set-up are the slowest
    MIN_OPS = 3
    WARM_STEPS = 2
    CLUSTER_FILES = 16
    MAX_STEPS = 40

    def prepare(self) -> None:
        d = gen.transcripts(self.cache, self.seed, self.N_TURNS, self.N_TURNS // 50)
        self.turns_src, self.states_dir = f"{d}/turns", f"{d}/states"
        self.churn_dir = gen.churn(self.cache, self.seed, self.turns_src, self.MAX_STEPS)
        step0 = pq.read_metadata(glob.glob(f"{self.churn_dir}/step-000/*.parquet")[0])
        self.rows = step0.num_rows
        self.n_setup = 0

    def stage(self, spark) -> None:
        """Fresh tables: the base snapshot, committed range-clustered on
        conv_id."""
        self.n_setup += 1
        base = os.path.join(self.work, f"tables-{self.n_setup}")
        shutil.rmtree(base, ignore_errors=True)
        self.turns, self.feats = f"{base}/turns", f"{base}/feats"
        self.step = 0
        self.states = spark.read.parquet(self.states_dir)
        snapshots.commit_snapshot(
            spark.read.parquet(self.turns_src)
            .repartitionByRange(self.CLUSTER_FILES, "conv_id")
            .sortWithinPartitions("conv_id", "turn_idx"),
            self.turns,
        )

    def _churn(self, spark):
        if self.step >= self.MAX_STEPS:
            raise RuntimeError("churn stream exhausted")
        df = spark.read.parquet(f"{self.churn_dir}/step-{self.step:03d}")
        self.step += 1
        return df

    def warm(self, spark) -> None:
        """The feature table, built from the base snapshot by full_refresh
        and advanced by churn steps as timed; :meth:`finish` checks it."""
        incremental.full_refresh(spark, self.turns, self.feats, self.states,
                                 cluster_files=self.CLUSTER_FILES)
        for _ in range(self.WARM_STEPS):
            self.op(spark)

    def op(self, spark) -> dict:
        churn = self._churn(spark)
        t0 = time.perf_counter()
        snapshots.commit_snapshot(churn, self.turns)
        t1 = time.perf_counter()
        incremental.incremental_refresh(spark, self.turns, self.feats, self.states)
        return {"commit_s": t1 - t0, "refresh_s": time.perf_counter() - t1}

    def finish(self, spark) -> None:
        """The feature table equals a from-scratch build over the current
        turns snapshot."""
        got = snapshots.read_snapshot(spark, self.feats).toPandas()
        want = extract_turn_features(
            snapshots.read_snapshot(spark, self.turns), self.states).toPandas()
        checks.check_tables_equal(got, want)

    def _manifest(self, table: str, sid: int) -> dict:
        path = os.path.join(table, "metadata", f"v{sid}.json")
        with open(path) as f:
            return {"bytes": os.path.getsize(path), **json.load(f)}

    def _instrumented(self, tr, held: list):
        """Spans inside ``incremental_refresh``, installed on the names it
        calls.  Two of its steps are lazy where they are called, so their
        work is forced inside their own span: the persisted set of changed
        conversations (CDC read, distinct, cache write) at the start of the
        keyed read, and the persisted recompute before the merge.  The
        keyed scan is persisted and forced in the keyed-read span."""

        def keyed_read(orig, spark, table, keys, key_cols, **kw):
            with tr.span("sources.snapshots", "changelog"):
                keys.count()
            with tr.span("sources.snapshots", "keyed_read"):
                df = orig(spark, table, keys, key_cols, **kw).persist()
                df.count()
            held.append(df)
            return df

        def merge(orig, spark, table, source, *a, **kw):
            with tr.span("operators", "recompute"):
                source.count()
            with tr.span("sources.snapshots", "merge"):
                return orig(spark, table, source, *a, **kw)

        stack = ExitStack()
        stack.enter_context(tr.wrap(incremental, "snapshot_info", "sources.snapshots",
                                    "snapshot_info"))
        stack.enter_context(tr.wrap(incremental, "row_changelog", "sources.snapshots",
                                    "changelog"))
        stack.enter_context(patched(incremental, "read_snapshot_for_keys", keyed_read))
        stack.enter_context(tr.wrap(incremental, "extract_turn_features", "plans",
                                    "extract_turn_features"))
        stack.enter_context(patched(incremental, "merge_into", merge))
        return stack

    def traced(self, spark, tr) -> dict:
        refreshes = []

        def job(t):
            held = []
            with self._instrumented(t, held) if t is tr else nullcontext():
                churn = self._churn(spark)
                with t.span("sources.snapshots", "commit"):
                    snapshots.commit_snapshot(churn, self.turns)
                with t.span("plans.incremental", "refresh"):
                    res = incremental.incremental_refresh(spark, self.turns, self.feats,
                                                          self.states)
            for df in held:
                df.unpersist()
            if t is tr:
                refreshes.append(res)

        self._passes(tr, job)
        feats_ids = snapshots.snapshot_ids(self.feats)
        meta, rewritten = [], []
        for r in refreshes:
            meta.append(self._manifest(self.turns, r["to_snapshot"])["bytes"])
            sid = r["features_snapshot"]
            prev = feats_ids[feats_ids.index(sid) - 1]
            before = {f["path"] for f in self._manifest(self.feats, prev)["files"]}
            after = {f["path"] for f in self._manifest(self.feats, sid)["files"]}
            rewritten.append(len(before - after) / len(before))
        per = functools.partial(tr.per_root, self.tops)
        return {
            "sources.snapshots.commit_s": per("commit"),
            "plans.incremental.refresh_s": per("refresh"),
            "sources.snapshots.changelog_s": per("changelog"),
            "sources.snapshots.keyed_read_s": per("keyed_read"),
            "operators.recompute_s": per("recompute"),
            "sources.snapshots.merge_s": per("merge"),
            "plans.build_s": per("extract_turn_features"),
            "sources.snapshots.meta_bytes_per_commit": sum(meta) / len(meta),
            "sources.snapshots.files_rewritten_frac": sum(rewritten) / len(rewritten),
            "sources.snapshots.feature_files": snapshots.snapshot_info(self.feats)["n_files"],
        }

    def layer_metrics(self, log: EventLog, tr) -> dict:
        return {
            **self._traffic(log, tr),
            "operators.kernels.cpu_frac": _cpu_frac(
                log.tasks_in(_groups(tr, self.tops), kernel_only=True)),
            "plans.build_jobs": self._build_jobs(log, tr, {"extract_turn_features"}),
            "plans.incremental.jobs_per_refresh": len(log.jobs_in(
                _groups(tr, self.tops, {"refresh"}))) / len(self.tops),
        }


class CorpusCuration(Workload):
    """Near-duplicate clusters over a doc corpus, LSH top-k and embedding
    near-duplicate pairs over a vector corpus."""

    name = "corpus_curation"
    N_DOCS = 10_000
    N_VECS = 10_000
    N_HOT = 600
    CAP = 256
    K = 5
    DIMS = 64
    MIN_COS = 0.9
    BUILDS = ("minhash_lsh_candidates", "near_dup_clusters", "lsh_bucketed_topk",
              "embedding_near_dup_pairs")

    def prepare(self) -> None:
        d = gen.docs(self.cache, self.seed, self.N_DOCS, n_template=self.N_HOT)
        e = gen.embeddings(self.cache, self.seed, self.N_VECS, n_hot=self.N_HOT, dims=self.DIMS)
        self.docs_dir, self.vecs_dir, self.q_dir = f"{d}/docs", f"{e}/vecs", f"{e}/queries"
        self.ref = checks.CorpusReference(self.docs_dir, self.vecs_dir, self.q_dir, self.K)
        self.rows = self.N_DOCS + self.N_VECS

    def _inputs(self, spark):
        return (spark.read.parquet(self.docs_dir).select("doc_id", "text"),
                spark.read.parquet(self.vecs_dir), spark.read.parquet(self.q_dir))

    def _candidates(self, docs):
        return minhash_lsh_candidates(docs, max_bucket_size=self.CAP)

    def _topk(self, vecs, q):
        return lsh_bucketed_topk(vecs, q, k=self.K, dims=self.DIMS)

    def _near_dups(self, vecs):
        return embedding_near_dup_pairs(vecs, min_cos=self.MIN_COS, dims=self.DIMS,
                                        max_bucket_size=self.CAP)

    def _job(self, tr, docs, vecs, q) -> None:
        with tr.span("functions.graph", "clusters"):
            with tr.span("plans", "minhash_lsh_candidates"):
                cand = self._candidates(docs)
            with tr.span("plans", "near_dup_clusters"):
                clusters = near_dup_clusters(docs, cand)
            noop(clusters)
        with tr.span("functions.similarity", "topk"):
            with tr.span("plans", "lsh_bucketed_topk"):
                topk = self._topk(vecs, q)
            noop(topk)
        with tr.span("functions.similarity", "near_dup"):
            with tr.span("plans", "embedding_near_dup_pairs"):
                pairs = self._near_dups(vecs)
            noop(pairs)
        unpersist_all()

    def warm(self, spark):
        docs, vecs, q = self._inputs(spark)
        out = (near_dup_clusters(docs, self._candidates(docs)).toPandas(),
               self._topk(vecs, q).toPandas(), self._near_dups(vecs).toPandas())
        unpersist_all()
        return out

    def check(self, out) -> None:
        clusters, topk, pairs = out
        self.recall = self.ref.topk_recall(topk)
        self.ref.check(clusters, topk, pairs, self.MIN_COS)

    def op(self, spark) -> dict:
        self._job(NULL, *self._inputs(spark))
        return {}

    def traced(self, spark, tr) -> dict:
        docs, vecs, q = self._inputs(spark)
        self._passes(tr, lambda t: self._job(t, docs, vecs, q))
        # forced prefixes: the candidate pairs alone (collected: a few
        # thousand rows), and each input scan
        with tr.span("functions.dedup_text", "minhash") as mh:
            cand_pdf = self._candidates(docs).toPandas()
        with tr.span("sources.io", "scan") as sc:
            for df in (docs, vecs, q):
                noop(df)
        unpersist_all()
        d = tr.duration
        per = functools.partial(tr.per_root, self.tops)
        return {
            "sources.scan_s": d(sc),
            "functions.dedup_text.minhash_s": d(mh),
            "functions.graph.clusters_s": per("clusters") - d(mh),
            "functions.similarity.topk_s": per("topk"),
            "functions.similarity.near_dup_s": per("near_dup"),
            "plans.build_s": sum(per(b) for b in self.BUILDS),
            "functions.dedup_text.candidate_pairs": len(cand_pdf),
            "functions.dedup_text.pair_precision": self.ref.pair_precision(cand_pdf),
            "functions.similarity.topk_recall": self.recall,
        }

    def layer_metrics(self, log: EventLog, tr) -> dict:
        bucket_tasks = log.tasks_in(_groups(tr, self.tops, {"clusters", "topk", "near_dup"}),
                                    kernel_only=True)
        return {
            **self._traffic(log, tr),
            "operators.kernels.cpu_frac": _cpu_frac(bucket_tasks),
            "functions.max_task_rows": max((t["records_in"] for t in bucket_tasks), default=0),
            "plans.build_jobs": self._build_jobs(log, tr, self.BUILDS),
        }


WORKLOADS = {w.name: w for w in (FlagshipBatch, IncrementalRefresh, CorpusCuration)}
