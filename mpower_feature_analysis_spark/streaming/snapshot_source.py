"""Structured Streaming source over the snapshot-log table format.

The Delta-CDF / Iceberg-incremental-read analog for
:mod:`mpower_feature_analysis_spark.sources.snapshots`, built on PySpark
4's Python Data Source API (``pyspark.sql.datasource``) — a genuine
``spark.readStream`` source, not a polling helper::

    register_snapshot_cdc(spark)
    df = (spark.readStream.format("snapshot_cdc")
          .option("path", table_dir)
          .option("startingSnapshotId", 1)   # optional: replay history
          .load())

Each micro-batch covers the snapshots committed since the stream's last
offset; offsets are snapshot ids (``{"snapshot_id": N}`` = everything
through N consumed), checkpointable and replayable like any streaming
source.  Per consumed snapshot the stream emits the table's columns
(under the CURRENT table schema — older files null-fill evolved columns)
plus two leading metadata columns::

    change               'add' | 'remove'
    _commit_snapshot_id  the snapshot that introduced the change

Semantics — a STATE-TRANSITION stream, exact by construction:

* ``append`` commits emit their added files' rows as ``add`` — exactly
  the row changelog.
* ``overwrite`` / ``overwrite_where`` / ``merge`` commits emit the
  file-level diff: every removed file's rows as ``remove``, every added
  file's rows as ``add``.  Applying removes-then-adds transitions
  snapshot N-1's content to snapshot N's content EXACTLY (multiset
  algebra on immutable files); unlike the batch
  :func:`..sources.snapshots.row_changelog`, rows that a rewrite merely
  carried from an old file to a new one appear as a self-cancelling
  remove+add pair rather than being multiset-cancelled — cross-file
  ``exceptAll`` needs a shuffle the source's per-file partitions don't
  have, and any consumer that folds the stream by key or applies it as a
  transition is unaffected.
* ``compact`` / ``cluster`` maintenance commits are provably
  content-identical (tested invariant: empty ``row_changelog``) and emit
  NOTHING — a compaction never floods downstream consumers.

Scale: offset resolution and partition planning are metadata-only
(manifest JSON, zero Spark jobs); one ``InputPartition`` per changed
file, so a micro-batch's parallelism equals its churn's file count and
executors read parquet directly via pyarrow — the stream never scans the
table, only the files each commit touched.

The format is also a streaming SINK (``df.writeStream.format(
"snapshot_cdc").option("path", dir)``): every micro-batch becomes one
``append`` commit, published atomically through the same manifest CAS as
batch commits, with exactly-once micro-batch replay dedup via a
``stream_batch_id`` snapshot property (see
:class:`SnapshotCommitStreamWriter`).  Source + sink compose into a
streaming CDC mirror: ``readStream`` a table's changes, ``writeStream``
them into another snapshot table, checkpoint-resumable end to end.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from dataclasses import field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StringType, StructField, StructType

from ..sources.snapshots import (
    _MAINTENANCE_OPS,
    SnapshotConflictError,
    _changed_files,
    _commit,
    _current_id,
    _file_entries,
    _load_manifest,
    snapshot_ids,
)


@dataclass
class _FilePartition(InputPartition):
    change: str          # 'add' | 'remove'
    path: str            # absolute parquet path
    snapshot_id: int


class SnapshotCDCStreamReader(DataSourceStreamReader):
    def __init__(self, table_dir: str, start_sid: int | None,
                 schema_json: str | None = None):
        self._dir = table_dir
        # the stream's FIXED planning schema (standard streaming
        # contract): files from pre-evolution commits null-fill missing
        # columns, files from post-stream-start evolution drop extras
        self._schema_json = schema_json or _load_manifest(table_dir, None)["schema"]
        ids = snapshot_ids(table_dir)
        if start_sid is not None:
            self._initial = int(start_sid) - 1
        else:
            # default: tail the table — only commits AFTER stream start
            self._initial = ids[-1] if ids else 0

    def initialOffset(self) -> dict:
        return {"snapshot_id": self._initial}

    def latestOffset(self) -> dict:
        ids = snapshot_ids(self._dir)
        return {"snapshot_id": ids[-1] if ids else self._initial}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["snapshot_id"]), int(end["snapshot_id"])
        # fail EXPLICITLY on expired history (the Delta/Iceberg contract):
        # silently skipping an expired snapshot would lose its changes
        # without any signal to the checkpointed consumer, and a survivor
        # whose parent was expired cannot compute its diff either
        available = set(snapshot_ids(self._dir))
        wanted = [s for s in range(lo + 1, hi + 1)]
        missing = sorted(set(s for s in wanted if s not in available))
        manifests = {s: _load_manifest(self._dir, s)
                     for s in wanted if s in available}
        # a parent must survive only if the commit's diff will actually be
        # computed — maintenance commits (compact/cluster) emit nothing,
        # so an expired parent under one is harmless, not fatal
        missing += sorted(
            m["parent"]
            for m in manifests.values()
            if m["operation"] not in _MAINTENANCE_OPS
            and m["parent"] is not None
            and m["parent"] not in available
        )
        if missing:
            raise ValueError(
                f"snapshots {sorted(set(missing))} of {self._dir} were "
                f"expired past this stream's offset range ({lo}, {hi}]; "
                f"their changes are unrecoverable — restart the stream "
                f"from a fresh checkpoint / startingSnapshotId"
            )
        out: list[InputPartition] = []
        root = os.path.abspath(self._dir)
        for sid in wanted:
            if manifests[sid]["operation"] in _MAINTENANCE_OPS:
                continue
            removed, added = _changed_files(
                self._dir, manifests[sid]["parent"], sid, manifests)
            for change, entries in (("remove", removed), ("add", added)):
                for e in entries:
                    out.append(
                        _FilePartition(
                            change=change,
                            path=os.path.join(root, e["path"]),
                            snapshot_id=sid,
                        )
                    )
        return out

    def read(self, partition: _FilePartition):
        """Executor-side: stream one changed file as Arrow batches, cast to
        the table schema (older files null-fill evolved columns), with the
        change metadata columns prepended."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        spark_schema = StructType.fromJson(json.loads(self._schema_json))
        arrow_schema = to_arrow_schema(spark_schema)
        tbl = pq.read_table(partition.path)
        n = tbl.num_rows
        cols = []
        for field in arrow_schema:
            if field.name in tbl.column_names:
                cols.append(tbl.column(field.name).cast(field.type))
            else:
                cols.append(pa.nulls(n, type=field.type))
        out = pa.table(
            [
                pa.repeat(pa.scalar(partition.change, pa.string()), n),
                pa.repeat(pa.scalar(partition.snapshot_id, pa.int64()), n),
                *cols,
            ],
            names=["change", "_commit_snapshot_id"]
            + [f.name for f in arrow_schema],
        )
        yield from out.to_batches(max_chunksize=65536)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint; nothing to clean


@dataclass
class _WrittenFile(WriterCommitMessage):
    paths: list = field(default_factory=list)


#: snapshot-properties key recording the last streaming batch committed —
#: the exactly-once dedup ledger for micro-batch replays after a failure
BATCH_KEY = "stream_batch_id"
#: logical-stream identity the ledger is scoped to (Delta's txnAppId idiom)
STREAM_KEY = "stream_id"


class SnapshotCommitStreamWriter(DataSourceStreamWriter):
    """Streaming SINK half of the ``snapshot_cdc`` format: every
    micro-batch becomes one ``append`` commit of the snapshot table.

    Exactly-once: Spark replays a micro-batch whose commit outcome is
    unknown after a failure; the sink records the batch id in the
    snapshot's ``properties[BATCH_KEY]`` and ``commit()`` skips any batch
    id at or below the last committed one, so a replayed batch appends
    nothing twice.  The manifest CAS (``sources.snapshots._commit``)
    still guards the id claim, and appends commute, so the rebase loop
    mirrors ``commit_snapshot``'s.  One streaming writer per table (the
    batch-id ledger is a single property; concurrent BATCH writers remain
    safe — they rebase past us and we past them).

    Executor side writes each partition's rows straight to parquet via
    pyarrow under ``data/stream-<uuid>/``; the driver-side ``commit``
    then publishes the manifest referencing them — files of a failed or
    aborted batch stay orphaned and invisible, exactly like a failed
    batch commit.

    Query identity (round-6 advice, medium): batch ids restart from 0 on a
    fresh checkpoint, so a ledger keyed on ``batchId`` alone would silently
    SKIP every batch of a restarted-from-scratch query (or of a second
    query pointed at the same table) — data loss, the opposite failure of
    the duplicate it guards.  The sink therefore keys the ledger on
    ``(stream id, batch id)`` — Delta's ``(txnAppId, txnVersion)`` idiom —
    where the stream id comes from ``.option("streamId", ...)`` (use the
    query name or checkpoint path; one stable value per logical stream).
    A batch only dedups when BOTH match; a differing stream id commits and
    takes over the ledger.  Without the option the legacy single-writer
    behavior remains (empty stream id)."""

    def __init__(self, table_dir: str, schema: StructType,
                 stream_id: str = ""):
        self._dir = table_dir
        self._schema_json = schema.json()
        self._stream_id = stream_id

    def write(self, iterator):
        import itertools
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        schema = StructType.fromJson(json.loads(self._schema_json))
        arrow_schema = to_arrow_schema(schema)
        d = os.path.join(self._dir, "data", f"stream-{uuid.uuid4().hex}")
        path = os.path.join(d, "part-0.parquet")
        writer = None
        try:
            # stream the partition row-group by row-group: buffering the
            # whole partition as Python dicts would hold a multi-GB batch
            # in worker memory at several-x Arrow's footprint
            while True:
                chunk = [
                    r.asDict(recursive=True)
                    for r in itertools.islice(iterator, 65536)
                ]
                if not chunk:
                    break
                if writer is None:
                    os.makedirs(d, exist_ok=True)
                    writer = pq.ParquetWriter(path, arrow_schema)
                writer.write_table(
                    pa.Table.from_pylist(chunk, schema=arrow_schema)
                )
        finally:
            if writer is not None:
                writer.close()
        return _WrittenFile([path] if writer is not None else [])

    def _ledger_path(self) -> str:
        return os.path.join(self._dir, "metadata", "stream_ledger.json")

    def _ledger_last(self) -> tuple[str, int] | None:
        """Newest committed ``(stream id, batch id)``: the sidecar ledger
        (survives snapshot expiry — manifests carrying the property can
        all be expired away) wins over a history walk (covers tables
        written by older sink versions with no sidecar; their entries
        carry the legacy empty stream id)."""
        try:
            with open(self._ledger_path()) as f:
                led = json.load(f)
                return str(led.get(STREAM_KEY, "")), int(led[BATCH_KEY])
        except (FileNotFoundError, ValueError, KeyError):
            pass
        for sid in reversed(snapshot_ids(self._dir)):
            props = _load_manifest(self._dir, sid).get("properties", {})
            if BATCH_KEY in props:
                return str(props.get(STREAM_KEY, "")), int(props[BATCH_KEY])
        return None

    def commit(self, messages, batchId: int) -> None:
        paths = [p for m in messages if m is not None for p in m.paths]
        if not paths:
            return  # empty batch: nothing to publish, replay is harmless
        my_schema = StructType.fromJson(json.loads(self._schema_json))
        for _ in range(10):
            parent = _current_id(self._dir)
            if parent is not None:
                pm = _load_manifest(self._dir, parent)
                last = self._ledger_last()
                # dedup ONLY within the same logical stream: a different
                # stream id means a fresh checkpoint / second query whose
                # batch ids restarted — its batches are new data, not
                # replays (round-6 advice, medium)
                if (last is not None and last[0] == self._stream_id
                        and last[1] >= batchId):
                    return  # replayed batch: already committed, append nothing
                prior, schema_json = pm["files"], pm["schema"]
                # rebase revalidation (mirrors every batch commit path): a
                # concurrent overwrite may have replaced the table with an
                # incompatible schema — committing our files under it
                # would publish data the manifest schema cannot read back
                want = StructType.fromJson(json.loads(schema_json))
                if [(f.name, f.dataType) for f in my_schema.fields] != [
                    (f.name, f.dataType) for f in want.fields
                ]:
                    raise ValueError(
                        f"stream schema {my_schema.simpleString()} no "
                        f"longer matches table schema "
                        f"{want.simpleString()} (concurrent overwrite?)"
                    )
            else:
                prior, schema_json = [], self._schema_json
            entries = prior + _file_entries(paths, self._dir)
            try:
                _commit(
                    self._dir, "append", schema_json, entries, parent,
                    {BATCH_KEY: batchId, STREAM_KEY: self._stream_id},
                )
            except SnapshotConflictError:
                continue  # a concurrent batch writer won the id; rebase
            # publish the sidecar AFTER the snapshot commit: a crash in
            # between replays the batch, finds the manifest property, and
            # dedups — the sidecar only ever lags, never leads
            tmp = self._ledger_path() + f".tmp.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump({BATCH_KEY: batchId, STREAM_KEY: self._stream_id}, f)
            os.replace(tmp, self._ledger_path())
            return
        raise SnapshotConflictError(
            f"streaming sink lost the commit race on {self._dir} 10 times"
        )

    def abort(self, messages, batchId: int) -> None:
        # staged files are orphans no manifest references — invisible to
        # every reader; leave them for expire_snapshots-style vacuuming
        pass


class SnapshotCDCDataSource(DataSource):
    """``spark.readStream.format("snapshot_cdc")`` — see module docstring.

    Options: ``path`` (required, the snapshot table directory),
    ``startingSnapshotId`` (optional; first snapshot id to INCLUDE —
    default tails the table from the current snapshot)."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_cdc"

    def _table_dir(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot_cdc requires .option('path', table_dir)")
        return path

    def schema(self) -> StructType:
        m = _load_manifest(self._table_dir(), None)
        table_schema = StructType.fromJson(json.loads(m["schema"]))
        from pyspark.sql.types import LongType

        return StructType(
            [
                StructField("change", StringType(), False),
                StructField("_commit_snapshot_id", LongType(), False),
                *table_schema.fields,
            ]
        )

    def streamReader(self, schema: StructType) -> SnapshotCDCStreamReader:
        start = self.options.get("startingsnapshotid")
        # strip the two metadata columns the source itself prepends; the
        # remainder is the table schema the stream was planned with
        table_schema = StructType(schema.fields[2:])
        return SnapshotCDCStreamReader(
            self._table_dir(),
            int(start) if start is not None else None,
            schema_json=table_schema.json(),
        )

    def streamWriter(self, schema: StructType, overwrite: bool):
        # sink half: each micro-batch appends one snapshot commit; the
        # written schema must match the table's (or creates it on the
        # first commit of a fresh table)
        if overwrite:
            raise ValueError(
                "snapshot_cdc sink appends commits; outputMode('append') only"
            )
        table_dir = self._table_dir()
        cur = _current_id(table_dir)
        if cur is not None:
            m = _load_manifest(table_dir, cur)
            want = StructType.fromJson(json.loads(m["schema"]))
            if [(f.name, f.dataType) for f in schema.fields] != [
                (f.name, f.dataType) for f in want.fields
            ]:
                raise ValueError(
                    f"stream schema {schema.simpleString()} != table schema "
                    f"{want.simpleString()}"
                )
        return SnapshotCommitStreamWriter(
            table_dir, schema, stream_id=self.options.get("streamid", "")
        )


def register_snapshot_cdc(spark) -> None:
    """Register the source on a session (idempotent)."""
    spark.dataSource.register(SnapshotCDCDataSource)
