"""Snapshot-log table format: Iceberg-style versioned tables over parquet.

The north rule reads "over Iceberg tables"; the Iceberg runtime jar is not
in this sandbox, so this module implements the three Iceberg properties the
engine actually leans on, from scratch, over plain parquet data files:

* **snapshot isolation** — a reader resolves ONE manifest (an immutable
  JSON file listing immutable data files) and is unaffected by any commit
  that happens after; writers never mutate a data file in place.
* **time travel** — ``read_snapshot(spark, dir, as_of=N)`` plans the scan
  from manifest N's file list; every historical snapshot stays readable
  until explicitly expired.
* **copy-on-write overwrite** — ``overwrite_where`` and ``merge_into``
  rewrite ONLY the data files that contain matching rows (found with one
  metadata-cheap ``input_file_name()`` aggregation, the analog of
  Iceberg's manifest-level file pruning), through one core
  (``_copy_on_write``) whose single write job stores the inserted rows
  together with the kept rows; untouched files are carried into the new
  snapshot by reference, zero bytes copied.

Layout under ``table_dir``::

    data/s00001/part-*.parquet      one immutable directory per commit
    metadata/v1.json, v2.json ...   one immutable manifest per snapshot
                                    (atomically claimed via os.link — the
                                    commit point; highest id = current)
    metadata/current                advisory pointer (debug/fast-path only)

Manifests record per-file row counts AND per-column min/max/null-count
stats read from the parquet FOOTER (pyarrow metadata, no data scanned —
the same statistics Iceberg manifests carry), the committed schema (so an
empty snapshot still reads with the right types), and the parent snapshot
id (the commit log).  A manifest is one compact JSON text (sorted keys,
no indentation), which the C encoder writes in a fraction of the
pure-Python indented form's time and a third fewer bytes; readers parse
either form, so tables committed with indented manifests still read,
diff and refresh.  The stats power **predicate file skipping**:
``read_snapshot(..., where=...)`` / :func:`plan_scan_files` drop files
whose min/max range cannot satisfy the predicate before the scan is
planned (zero Spark jobs), and :func:`merge_into` /
:func:`overwrite_where` pre-prune their candidate-file scans the same way.
Skipping is strictly conservative: the predicate is always re-applied as a
Spark filter, so a missing or unparseable stat costs bytes, never rows.

Concurrency contract — optimistic, Iceberg-style: the commit point is an
atomic ``os.link`` claim of the manifest's final name (``_commit``), so
exactly ONE writer wins each snapshot id.  ``commit_snapshot``
append/overwrite losers REBASE automatically (data files are already
written and referenced by path; the retry re-plans the manifest against
the new parent, re-validating schema evolution).  The file-scoped
operations (``overwrite_where`` / ``merge_into`` / ``compact_snapshot`` /
``cluster_snapshot``) planned their copy-on-write scope against a
specific parent and raise :class:`SnapshotConflictError` instead of
rebasing — re-attaching a stale scope would silently drop the concurrent
commit (lost update); the caller re-runs against the new current.
Readers are lock-free: a manifest that exists is complete by
construction, so any number of concurrent readers always resolve a
consistent snapshot.  (The reference's model is one R session owning a
Synapse table version, utils/helper_utils.R:79-85 — single-writer; this
layer is strictly stronger.)

Scale notes (100 TB): planning is O(files) driver-side JSON, like Iceberg
manifest lists; reads hand Spark an explicit file list, so partition
pruning, predicate pushdown and column pruning all still reach the parquet
scan (asserted in tests/test_snapshots.py); ``row_changelog`` diffs ONLY
the files that changed between two snapshots — retained files contribute
identical row multisets to both sides and are excluded from the
``exceptAll`` before any data is read, so CDC cost is proportional to the
changed data, never the table size.  A one-sided range (appends only, or
their reverse) reads only the changed files with no shuffle at all; only
a two-sided range (upserts, copy-on-write deletes) pays one ``exceptAll``
over the changed files.  The keyed primitives (:func:`merge_into`,
:func:`read_snapshot_for_keys`) route on the size of their distinct key
set, of which one job collects at most ``KEY_LITERAL_MAX + 1`` tuples
to the driver (so driver memory is bounded by that constant, never by
the key set).  A churn-sized set (at most ``KEY_LITERAL_MAX`` keys) derives the
manifest key envelope in Python and filters with a literal ``IN`` list:
no join, no shuffle.  Catalyst turns a list above 10 values into
``InSet``; parquet pushdown keeps the exact ``In`` up to 10 values and
falls back to a min/max range filter above that, so row-group skipping
still applies and the Spark filter stays exact.  A larger set stays in
Spark: a 1-row min/max aggregation gives the envelope and rows match by a
left-semi / left-anti join on the key columns, whose driver cost does
not grow with the key count (building and planning a literal list costs
driver time per key, which is why the literal route is capped).  A key
collect or hit-file scan whose input fits one task
(:func:`..utils.fits_one_task`) de-duplicates in that task: one stage,
no shuffle.
"""

from __future__ import annotations

import json
import logging
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..utils import fits_one_task

#: decision log: one DEBUG record per keyed read or copy-on-write commit
#: (merge, overwrite_where), built only from values the driver already
#: holds (no Spark job is added to log it)
_LOG = logging.getLogger("mpower_feature_analysis_spark.snapshots")

#: largest distinct key set the keyed primitives match with a literal
#: ``IN`` list; a larger one is matched by a join against its key frame.
#: Each literal costs driver time to build and plan, so past a few hundred
#: keys the join is cheaper (see :class:`_KeySet`)
KEY_LITERAL_MAX = 256

__all__ = [
    "commit_snapshot",
    "read_snapshot",
    "overwrite_where",
    "merge_into",
    "compact_snapshot",
    "snapshot_ids",
    "snapshot_info",
    "file_changelog",
    "row_changelog",
    "expire_snapshots",
    "vacuum_orphans",
    "plan_scan_files",
    "cluster_snapshot",
    "read_snapshot_for_keys",
    "resolve_snapshot_at",
    "snapshot_history",
    "SnapshotConflictError",
]


def _meta_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "metadata")


def _manifest_path(table_dir: str, snapshot_id: int) -> str:
    return os.path.join(_meta_dir(table_dir), f"v{snapshot_id}.json")


class SnapshotConflictError(RuntimeError):
    """A concurrent writer committed the snapshot id this commit claimed.

    Raised to the CALLER by the file-scoped operations
    (:func:`overwrite_where`, :func:`merge_into`, :func:`compact_snapshot`,
    :func:`cluster_snapshot`) — their copy-on-write file scope was planned
    against a parent that no longer is the current snapshot, so blindly
    re-attaching it would silently drop the concurrent commit's changes (a
    lost update); re-run the whole operation against the new current
    snapshot.  Plain :func:`commit_snapshot` appends/overwrites rebase and
    retry internally and only surface this after ``max_retries`` losses."""


def _current_id(table_dir: str) -> int | None:
    """Current = highest committed manifest.  Manifests become visible via
    an atomic ``os.link`` claim of their final name (see :func:`_commit`),
    so every ``v{N}.json`` that exists is complete — a directory scan is
    the authoritative read.  The ``metadata/current`` pointer file is kept
    as an advisory fast-path/debug artifact only."""
    ids = snapshot_ids(table_dir)
    return ids[-1] if ids else None


def _swap_pointer(table_dir: str, snapshot_id: int) -> None:
    """Advisory pointer update, monotonic best-effort.  Correctness never
    depends on it: the manifest-claim link in :func:`_commit` is the real
    commit point and ``_current_id`` reads the manifest directory."""
    ptr = os.path.join(_meta_dir(table_dir), "current")
    try:
        with open(ptr) as f:
            if int(f.read().strip()) >= snapshot_id:
                return
    except (FileNotFoundError, ValueError):
        pass
    tmp = ptr + f".tmp.{snapshot_id}.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(str(snapshot_id))
    os.replace(tmp, ptr)


def _load_manifest(table_dir: str, snapshot_id: int | None) -> dict:
    if snapshot_id is None:
        snapshot_id = _current_id(table_dir)
        if snapshot_id is None:
            raise FileNotFoundError(f"no snapshot committed under {table_dir}")
    path = _manifest_path(table_dir, snapshot_id)
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"snapshot {snapshot_id} not found (expired or never committed)"
        )
    with open(path) as f:
        return json.load(f)


def _norm_path(p: str) -> str:
    """``input_file_name()`` URIs and manifest paths to one form.
    ``input_file_name()`` returns a percent-ENCODED URI — without the
    unquote, a table path containing a space would never intersect the
    manifest's plain paths and a merge/overwrite would silently rewrite
    nothing."""
    if p.startswith("file:"):
        from urllib.parse import unquote

        p = unquote(p[5:])
        while p.startswith("//"):
            p = p[1:]
    return os.path.abspath(p)


def _list_parquet(commit_dir: str) -> list[str]:
    return sorted(
        os.path.join(commit_dir, e)
        for e in os.listdir(commit_dir)
        if e.endswith(".parquet")
    )


def _stat_value(v):
    """Parquet-footer statistic → JSON-able manifest value, or ``None`` if
    the type has no safe total order we can serialize (binary, decimal).
    Timestamps serialize as epoch MICROseconds (int — compares exactly);
    dates and strings as their ISO / raw text (both orders are preserved:
    ISO dates compare lexicographically, and UTF-8 byte order — parquet's
    string stat order — equals code-point order, which is Python ``str``
    order)."""
    import datetime

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            # zone-adjusted (isAdjustedToUTC) storage: a session-timezone
            # predicate literal needs offset arithmetic to compare — out of
            # scope for the pruner, so emit no stat (file is always kept).
            # The engine's own tables are NTZ (utils.ts_ms contract).
            return None
        return (
            "ts",
            (v - datetime.datetime(1970, 1, 1))
            // datetime.timedelta(microseconds=1),
        )
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, int):
        return ("num", v)
    if isinstance(v, float):
        return ("num", v)
    if isinstance(v, str):
        return ("str", v)
    return None


def _footer_entry(path: str) -> tuple[int, dict]:
    """Row count + per-column min/max/null-count from the parquet FOOTER —
    no data pages read (the same trick functions/similarity.py:75 uses for
    'auto' index sizing).  Iceberg manifests carry exactly these per-file
    stats; they are what makes predicate file-skipping a pure metadata
    operation.  A column whose stats are absent in ANY row group (or whose
    type has no safe serialized order) gets no entry — readers treat
    stat-less columns as always-may-match, so missing stats can never
    cause a wrong prune."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    stats: dict[str, dict] = {}
    dead: set[str] = set()
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            col = rg.column(c)
            name = col.path_in_schema
            if "." in name or name in dead:      # nested leaves: skip
                continue
            st = col.statistics
            e = stats.setdefault(name, {"nulls": 0})
            if st is not None and st.has_null_count and e["nulls"] is not None:
                e["nulls"] += st.null_count
            else:
                e["nulls"] = None
            if st is None or not st.has_min_max:
                # legitimate only for an ALL-NULL row group (no non-null
                # value exists to bound); a group with non-null values but
                # no stats makes any file-level min/max unsafe → drop col
                all_null = (
                    st is not None
                    and st.has_null_count
                    and st.null_count == rg.num_rows
                )
                if not all_null:
                    dead.add(name)
                    del stats[name]
                continue
            lo, hi = _stat_value(st.min), _stat_value(st.max)
            if lo is None or hi is None or lo[0] != hi[0]:
                dead.add(name)
                del stats[name]
                continue
            e["type"] = lo[0]
            e["min"] = lo[1] if "min" not in e else min(e["min"], lo[1])
            e["max"] = hi[1] if "max" not in e else max(e["max"], hi[1])
    return md.num_rows, stats


def _file_entries(paths: list[str], table_dir: str) -> list[dict]:
    root = os.path.abspath(table_dir)
    out = []
    for p in paths:
        rows, stats = _footer_entry(p)
        out.append(
            {"path": os.path.relpath(p, root), "rows": rows, "stats": stats}
        )
    return out


def _abs_files(table_dir: str, manifest: dict) -> list[str]:
    root = os.path.abspath(table_dir)
    return [os.path.join(root, e["path"]) for e in manifest["files"]]


def _write_commit(
    df: DataFrame, table_dir: str, snapshot_id: int, sub: str = ""
) -> list[str]:
    """Write ``df`` into this commit's immutable data directory and return
    the new file paths.  A commit that fails AFTER this write but before
    the pointer swap leaves an orphan directory no manifest references —
    invisible to every reader (the Iceberg failure mode); the retry picks
    a fresh suffix rather than erroring on the leftover."""
    base = os.path.join(table_dir, "data", f"s{snapshot_id:05d}" + sub)
    d, i = base, 0
    while True:
        try:
            # atomic claim: two concurrent writers racing for the same
            # commit-dir name cannot both create it (a bare exists() probe
            # would let both pass and one write fail)
            os.makedirs(d)
            break
        except FileExistsError:
            i += 1
            d = f"{base}-r{i}"
    # append, NOT overwrite: overwrite mode deletes-and-recreates the
    # path, which would destroy the makedirs claim above and reopen the
    # very race it exists to close; append into the freshly created empty
    # dir writes the same files without touching the claim
    df.write.mode("append").parquet(d)
    return _list_parquet(d)


def _commit(
    table_dir: str,
    operation: str,
    schema_json: str,
    files: list[dict],
    parent: int | None,
    properties: dict | None = None,
) -> int:
    os.makedirs(_meta_dir(table_dir), exist_ok=True)
    snapshot_id = (parent or 0) + 1
    import time

    manifest = {
        "snapshot_id": snapshot_id,
        "parent": parent,
        "operation": operation,
        "schema": schema_json,
        "files": files,
        "total_rows": sum(e["rows"] for e in files),
        # wall-clock commit time (epoch ms) — powers FOR TIMESTAMP AS OF
        # time travel (read_snapshot(as_of_time=...)) and snapshot_history
        "committed_at_ms": int(time.time() * 1000),
        # snapshot summary properties (Iceberg's snapshot `summary` map):
        # small JSON-able facts a pipeline wants to pin to a commit, e.g.
        # the source-table snapshot id a derived table was computed from
        # (plans/incremental.py keys its CDC refresh on exactly that)
        "properties": dict(properties or {}),
    }
    path = _manifest_path(table_dir, snapshot_id)
    # uuid, not pid: two threads of ONE driver process (a streaming sink's
    # commit racing a batch commit) must never share a tmp path — the
    # loser would silently publish the winner's manifest under its own id
    import uuid

    tmp = path + f".tmp.{uuid.uuid4().hex}"
    # compact separators and one dumps call: json.dump with ``indent``
    # runs the pure-Python encoder, ~9 ms a commit on a 16-file table;
    # readers parse either form, so older indented manifests still load
    text = json.dumps(manifest, sort_keys=True, separators=(",", ":"))
    with open(tmp, "w") as f:
        f.write(text)
    try:
        # optimistic-concurrency commit point (Iceberg's catalog CAS): the
        # hard link atomically claims the final name and FAILS if another
        # writer already committed this id — the loser's data files stay
        # orphaned (invisible: no manifest references them) and the caller
        # rebases or re-runs
        os.link(tmp, path)
    except FileExistsError:
        raise SnapshotConflictError(
            f"snapshot {snapshot_id} of {table_dir} was committed by a "
            f"concurrent writer"
        )
    finally:
        os.remove(tmp)
    _swap_pointer(table_dir, snapshot_id)
    return snapshot_id


def _plan_commit(
    df: DataFrame, table_dir: str, parent: int | None, operation: str
) -> tuple[list[dict], str]:
    """(parent files to carry, committed schema JSON) for an append /
    overwrite on top of ``parent`` — re-evaluated per CAS attempt, since a
    rebase must re-validate against the NEW parent's schema and carry the
    NEW parent's files."""
    prior: list[dict] = []
    schema_json = df.schema.json()
    if parent is not None and operation == "append":
        pm = _load_manifest(table_dir, parent)
        # the snapshot scan reads all commits' files under ONE schema
        # (the manifest's), so an append must either match the parent
        # schema by (name, type) or EVOLVE it by appending fields: the
        # parquet reader null-fills columns absent from older files, so
        # pre-evolution rows read back with NULL in the added columns
        # (added fields are therefore stored nullable — Iceberg's
        # added-columns-are-optional rule) while time travel to an older
        # snapshot keeps the older schema; no file is rewritten
        old_f = json.loads(pm["schema"])["fields"]
        new_f = json.loads(df.schema.json())["fields"]

        def _nt(fs):
            return [(f["name"], f["type"]) for f in fs]

        if len(new_f) < len(old_f) or _nt(new_f)[: len(old_f)] != _nt(old_f):
            raise ValueError(
                "append schema mismatch vs parent snapshot (evolution may "
                "only APPEND fields; existing names/types must match)"
            )
        schema_json = json.dumps(
            {
                "type": "struct",
                "fields": old_f
                + [{**f, "nullable": True} for f in new_f[len(old_f):]],
            }
        )
        prior = pm["files"]
    return prior, schema_json


def commit_snapshot(
    df: DataFrame,
    table_dir: str,
    operation: str = "append",
    properties: dict | None = None,
    max_retries: int = 10,
) -> int:
    """Commit ``df`` as a new snapshot and return its id.

    ``operation='append'`` carries the parent snapshot's files forward by
    reference and adds the new ones; ``'overwrite'`` starts the file list
    from scratch (full-table replace — the snapshot-log version of
    ``write.mode('overwrite')``, except every older snapshot stays
    readable).  First commit on an empty dir creates the table.

    Optimistic concurrency: when a concurrent writer wins the snapshot id
    (manifest-claim CAS in ``_commit``), an append/overwrite REBASES —
    the data files are already written and referenced by path, so the
    retry just re-plans the manifest against the new parent (re-running
    schema-evolution validation) and claims the next id.  Appends and
    full overwrites commute with any concurrent commit; the file-scoped
    operations do not and raise :class:`SnapshotConflictError` to their
    caller instead (see the class docstring)."""
    if operation not in ("append", "overwrite"):
        raise ValueError(f"unknown operation {operation!r}")
    new_entries: list[dict] | None = None
    for _ in range(max_retries):
        parent = _current_id(table_dir)
        prior, schema_json = _plan_commit(df, table_dir, parent, operation)
        if new_entries is None:
            # write the data exactly once; rebase attempts reuse the files
            new = _write_commit(df, table_dir, (parent or 0) + 1)
            new_entries = _file_entries(new, table_dir)
        try:
            return _commit(
                table_dir,
                operation,
                schema_json,
                prior + new_entries,
                parent,
                properties,
            )
        except SnapshotConflictError:
            continue
    raise SnapshotConflictError(
        f"lost the commit race on {table_dir} {max_retries} times"
    )


_PRUNE_OPS = ("<=", ">=", "=", "<", ">")

_CONJUNCT_RE = None  # compiled lazily


def _split_top_level_and(where: str) -> list[str] | None:
    """Split a predicate on top-level ``AND``, or return ``None`` when the
    predicate's structure makes conjunct extraction UNSAFE for pruning.

    Safety rule: a conjunct may be dropped from a file only if it is
    ANDed at the very top of the expression.  ``OR`` / ``NOT`` anywhere
    (outside string literals) changes which sub-expressions are
    mandatory, and parentheses introduce nesting this lightweight parser
    does not model — so any of them disables pruning for the WHOLE
    predicate (the residual Spark filter still applies it; we only lose
    the skip, never rows).  Single-quoted string literals are opaque:
    ``text = 'a AND b'`` never splits, ``''`` is the SQL quote escape.

    Spark SQL additionally accepts DOUBLE-quoted string literals and
    backslash-escaped quotes (``s = "x AND y"``, ``s = 'a\\' AND b'``) —
    quoting forms this scanner does not model.  Modeling them wrongly
    would manufacture phantom conjuncts out of literal text and skip
    files whose rows the residual filter never sees (round-6 advice,
    high).  Either character anywhere in the predicate therefore
    disables pruning outright — strictly conservative, never wrong."""
    if '"' in where or "\\" in where:
        return None
    parts, buf = [], []
    i, n = 0, len(where)
    in_quote = False
    low = where.lower()
    while i < n:
        c = where[i]
        if in_quote:
            buf.append(c)
            if c == "'":
                if i + 1 < n and where[i + 1] == "'":
                    buf.append("'")
                    i += 2
                    continue
                in_quote = False
            i += 1
            continue
        if c == "'":
            in_quote = True
            buf.append(c)
            i += 1
            continue
        if c in "()":
            return None
        # word-boundary scan for OR / NOT / AND outside quotes
        if low.startswith(("or", "not", "and"), i):
            word = "and" if low.startswith("and", i) else (
                "not" if low.startswith("not", i) else "or")
            end = i + len(word)
            before_ok = i == 0 or not (low[i - 1].isalnum() or low[i - 1] == "_")
            after_ok = end >= n or not (low[end].isalnum() or low[end] == "_")
            if before_ok and after_ok:
                if word in ("or", "not"):
                    return None
                parts.append("".join(buf))
                buf = []
                i = end
                continue
        buf.append(c)
        i += 1
    if in_quote:
        return None  # unterminated literal: don't guess
    parts.append("".join(buf))
    return parts


def _parse_conjuncts(where: str) -> list[tuple[str, str, object]]:
    """Extract the min/max-pruneable conjuncts of a SQL predicate:
    top-level ``AND``-ed comparisons of the form ``col OP literal`` with
    OP in =, <, <=, >, >= and literal a number, a single-quoted string,
    or a ``DATE``/``TIMESTAMP``-prefixed quoted literal.  Anything the
    parser does not recognize contributes NO pruning (the file is kept),
    and any structure it cannot prove to be a top-level conjunction
    (``OR``/``NOT``/parentheses — see :func:`_split_top_level_and`)
    disables pruning entirely — the full predicate is always re-applied
    as a residual Spark filter, so parsing is strictly an optimization,
    exactly like Iceberg's residual expression evaluation."""
    global _CONJUNCT_RE
    import re

    if _CONJUNCT_RE is None:
        lit = r"(?:(?:DATE|TIMESTAMP)\s*)?'((?:[^']|'')*)'|(-?\d+(?:\.\d+)?)"
        _CONJUNCT_RE = re.compile(
            r"^\s*([A-Za-z_][A-Za-z_0-9]*)\s*"
            r"(<=|>=|==|=|<|>)\s*(?:" + lit + r")\s*$"
        )
    parts = _split_top_level_and(where)
    if parts is None:
        return []
    out = []
    for part in parts:
        mt = _CONJUNCT_RE.match(part)
        if not mt:
            continue
        col, op, s_lit, n_lit = mt.groups()
        op = "=" if op == "==" else op
        val: object
        if n_lit is not None:
            val = float(n_lit) if "." in n_lit else int(n_lit)
        else:
            val = s_lit.replace("''", "'")
        out.append((col, op, val))
    return out


def _coerce_literal(val, typ: str):
    """Literal from the predicate → the manifest stat's comparison domain.
    Returns ``None`` when the literal cannot be interpreted in that domain
    (→ no pruning from this conjunct)."""
    import datetime

    try:
        if typ == "num":
            return float(val) if not isinstance(val, (int, float)) else val
        if typ == "str":
            return val if isinstance(val, str) else None
        if typ == "date":
            return (
                datetime.date.fromisoformat(val).isoformat()
                if isinstance(val, str)
                else None
            )
        if typ == "ts":
            if not isinstance(val, str):
                return None
            dt = datetime.datetime.fromisoformat(val)
            if dt.tzinfo is not None:
                # zone-qualified literal vs naive (NTZ) stats: the offset
                # arithmetic belongs to the engine, not the pruner — skip
                return None
            return (
                dt - datetime.datetime(1970, 1, 1)
            ) // datetime.timedelta(microseconds=1)
    except (ValueError, TypeError):
        return None
    return None


def _file_may_match(entry: dict, conjuncts) -> bool:
    """Interval check of one manifest file entry against the parsed
    conjuncts: False ⇒ NO row in the file can satisfy the predicate (safe
    skip).  Missing stats / unparseable literals keep the file."""
    stats = entry.get("stats") or {}
    for col, op, lit in conjuncts:
        st = stats.get(col)
        if st is None:
            continue
        if "min" not in st:
            # all-null column (see _footer_entry): col OP literal is NULL
            # for every row — never TRUE — so the conjunct, and therefore
            # the AND, cannot be satisfied by any row of this file
            if entry.get("rows", 0) > 0 and st.get("nulls") == entry["rows"]:
                return False
            continue
        v = _coerce_literal(lit, st.get("type", ""))
        if v is None:
            continue
        lo, hi = st["min"], st["max"]
        if (
            (op == "=" and (v < lo or v > hi))
            or (op == "<" and lo >= v)
            or (op == "<=" and lo > v)
            or (op == ">" and hi <= v)
            or (op == ">=" and hi < v)
        ):
            return False
    return True


def plan_scan_files(
    table_dir: str, where: str, as_of: int | None = None
) -> tuple[list[str], list[str]]:
    """Metadata-only scan planning: (files to read, files skipped) for a
    predicate, decided purely from manifest min/max/null stats — zero
    Spark jobs, zero data bytes, O(files) driver work exactly like
    Iceberg's manifest evaluation.  At 100 TB a ``ts >= yesterday``
    predicate over an append-mostly table plans a scan of just the recent
    files."""
    m = _load_manifest(table_dir, as_of)
    conjuncts = _parse_conjuncts(where)
    root = os.path.abspath(table_dir)
    keep, skip = [], []
    for e in m["files"]:
        (keep if _file_may_match(e, conjuncts) else skip).append(
            os.path.join(root, e["path"])
        )
    return keep, skip


def resolve_snapshot_at(table_dir: str, ts_ms: int) -> int:
    """``FOR TIMESTAMP AS OF``: the newest surviving snapshot committed at
    or before ``ts_ms`` (epoch milliseconds).  Metadata-only; raises if
    every surviving snapshot is newer (history before the time was
    expired, or the time predates the table)."""
    best = None
    for sid in snapshot_ids(table_dir):
        m = _load_manifest(table_dir, sid)
        at = m.get("committed_at_ms")
        if at is not None and at <= ts_ms:
            best = sid
    if best is None:
        raise FileNotFoundError(
            f"no snapshot of {table_dir} committed at or before {ts_ms} "
            f"survives (expired, or timestamp predates the table)"
        )
    return best


def snapshot_history(spark: SparkSession, table_dir: str) -> DataFrame:
    """The commit log as a DataFrame (``DESCRIBE HISTORY`` analog):
    one row per surviving snapshot — id, parent, operation, commit time,
    file/row counts, and the summary properties as a JSON string.
    Metadata-only; O(snapshots) driver work."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType as ST,
    )

    rows = []
    for sid in snapshot_ids(table_dir):
        m = _load_manifest(table_dir, sid)
        rows.append(
            (
                m["snapshot_id"],
                m["parent"],
                m["operation"],
                m.get("committed_at_ms"),
                len(m["files"]),
                m["total_rows"],
                json.dumps(m.get("properties", {}), sort_keys=True),
            )
        )
    schema = ST(
        [
            StructField("snapshot_id", LongType(), False),
            StructField("parent", LongType(), True),
            StructField("operation", StringType(), False),
            StructField("committed_at_ms", LongType(), True),
            StructField("n_files", LongType(), False),
            StructField("total_rows", LongType(), False),
            StructField("properties", StringType(), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    as_of: int | None = None,
    where: str | None = None,
    as_of_time_ms: int | None = None,
) -> DataFrame:
    """Scan one snapshot (default: current).  The explicit file list is a
    plain parquet file-source relation, so pushdown/pruning behave exactly
    as a directory scan; an empty snapshot reads as an empty frame with
    the committed schema.

    ``where`` additionally FILE-SKIPS from manifest column stats before
    the scan is even planned (:func:`plan_scan_files`), then applies the
    same predicate as a normal Spark filter on the surviving files — the
    filter is the source of truth, the skip is pure I/O avoidance, so an
    over-conservative stat can cost bytes but never rows.

    ``as_of_time_ms`` is ``FOR TIMESTAMP AS OF``: resolves the newest
    snapshot committed at or before the given epoch-ms time
    (:func:`resolve_snapshot_at`); mutually exclusive with ``as_of``."""
    if as_of_time_ms is not None:
        if as_of is not None:
            raise ValueError("pass as_of or as_of_time_ms, not both")
        as_of = resolve_snapshot_at(table_dir, as_of_time_ms)
    m = _load_manifest(table_dir, as_of)
    schema = StructType.fromJson(json.loads(m["schema"]))
    if where is None:
        files = _abs_files(table_dir, m)
    else:
        # pin the already-resolved id: re-resolving 'current' inside
        # plan_scan_files could race a concurrent commit and mix snapshot
        # N's schema with N+1's files (round-6 advice, low)
        files, _ = plan_scan_files(table_dir, where, m["snapshot_id"])
    if not files:
        out = spark.createDataFrame([], schema)
    else:
        out = spark.read.schema(schema).parquet(*files)
    return out.filter(where) if where is not None else out


def overwrite_where(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    replacement: DataFrame | None = None,
) -> int:
    """Copy-on-write ``DELETE WHERE condition`` + optional insert of
    ``replacement`` rows, as one atomic snapshot.  Only data files that
    actually contain a matching row are rewritten (without their matching
    rows); all other files move to the new snapshot by reference.  The
    manifest stats pre-prune the candidate files, and one write job
    stores ``replacement`` together with the kept rows of the rewritten
    files (:func:`_copy_on_write`).  A row where ``condition`` is NULL is
    kept (SQL DELETE semantics).  Returns the new snapshot id."""
    m = _load_manifest(table_dir, None)
    if replacement is not None:
        _check_schema(replacement, m, "replacement")
    return _copy_on_write(
        spark, table_dir, m, _WhereScope(condition), replacement,
        "overwrite_where", "overwrite_where",
    )


class _WhereScope:
    """The delete scope of ``DELETE WHERE condition``, in the form
    :func:`_copy_on_write` reads (see :class:`_KeySet` for the keyed one)."""

    def __init__(self, condition: str):
        self.condition = condition
        self.conjuncts = _parse_conjuncts(condition)

    def may_match(self, entry: dict) -> bool:
        return _file_may_match(entry, self.conjuncts)

    def keep(self, df: DataFrame) -> DataFrame:
        return df.filter(self.condition)

    def drop(self, df: DataFrame) -> DataFrame:
        # a bare ``~condition`` would also drop the rows where it is NULL
        return df.filter(~F.coalesce(F.expr(self.condition), F.lit(False)))

    def describe(self) -> dict:
        return {"where": self.condition}


def _check_schema(df: DataFrame, m: dict, what: str) -> None:
    """``df`` must have the table's (name, type) pairs, in order: a name-only
    check would let a mistyped frame commit files the manifest schema
    can't read back."""
    schema = StructType.fromJson(json.loads(m["schema"]))
    if [(f.name, f.dataType) for f in df.schema.fields] != [
        (f.name, f.dataType) for f in schema.fields
    ]:
        raise ValueError(
            f"{what} schema {df.schema.simpleString()} mismatch vs table "
            f"{schema.simpleString()}"
        )


def _hit_files(
    spark: SparkSession, table_dir: str, m: dict, scope
) -> tuple[list[str], list[str]]:
    """(candidate files, files holding a row ``scope`` matches) of manifest
    ``m``: candidates come from manifest stats (``scope.may_match``), then
    ONE ``input_file_name()`` scan of the candidates finds the hit files.
    Candidates that fit one task (:func:`..utils.fits_one_task`, by file
    length) are scanned and de-duplicated in one task: one stage, no
    shuffle."""
    root = os.path.abspath(table_dir)
    cand = [
        os.path.join(root, e["path"]) for e in m["files"]
        if scope is not None and scope.may_match(e)
    ]
    if not cand:
        return cand, []
    schema = StructType.fromJson(json.loads(m["schema"]))
    # tag the file BEFORE any join: input_file_name() is per-scan and
    # cannot resolve once a second file source joins the plan
    scan = spark.read.schema(schema).parquet(*cand).withColumn(
        "__file", F.input_file_name()
    )
    files = scope.keep(scan).select("__file")
    if fits_one_task(nbytes=sum(os.path.getsize(f) for f in cand)):
        files = files.coalesce(1)
    hit = {_norm_path(r[0]) for r in files.distinct().collect()}
    return cand, [f for f in cand if _norm_path(f) in hit]


def _copy_on_write(
    spark: SparkSession,
    table_dir: str,
    m: dict,
    scope,
    inserts: DataFrame | None,
    op: str,
    operation: str,
    properties: dict | None = None,
    written: list[dict] | None = None,
    hits: tuple[list[str], list[str]] | None = None,
) -> int:
    """The copy-on-write commit every file-scoped write shares: delete the
    rows ``scope`` matches (a :class:`_WhereScope` or :class:`_KeySet`;
    ``None`` deletes nothing), insert ``inserts``, commit on top of
    manifest ``m`` as ``operation``, logging the decision as ``op``.

    :func:`_hit_files` finds the files holding a deletable row (``hits``
    when the caller already ran it on ``m`` and ``scope``), and ONE write
    job stores ``inserts`` together with the kept rows of those files
    (``inserts`` must have the table's columns in order); kept rows that
    fit one task are written by one.  Every other file carries into the
    new snapshot by reference.  ``written`` are entries of data files the
    caller already wrote for this commit.  A concurrent commit since ``m``
    raises :class:`SnapshotConflictError` (see the module docstring)."""
    cand, rewrite = hits if hits is not None else _hit_files(
        spark, table_dir, m, scope
    )
    root = os.path.abspath(table_dir)
    gone = set(rewrite)
    entries = [
        e for e in m["files"] if os.path.join(root, e["path"]) not in gone
    ]
    out = inserts
    if rewrite:
        schema = StructType.fromJson(json.loads(m["schema"]))
        kept = scope.drop(spark.read.schema(schema).parquet(*rewrite))
        if fits_one_task(nbytes=sum(os.path.getsize(f) for f in rewrite)):
            kept = kept.coalesce(1)
        out = kept if out is None else out.union(kept)
    if out is not None:
        entries += _file_entries(
            _write_commit(out, table_dir, m["snapshot_id"] + 1, sub="-cow"),
            table_dir,
        )
    _log_decision(
        op, table_dir, candidate_files=len(cand),
        files_pruned=len(m["files"]) - len(cand), files_rewritten=len(rewrite),
        **(scope.describe() if scope is not None else {}),
    )
    return _commit(
        table_dir, operation, m["schema"], entries + (written or []),
        m["snapshot_id"], properties,
    )


def _entry_in_key_envelope(entry: dict, key_cols: list[str], env: dict) -> bool:
    """Can this manifest file contain a row whose ``key_cols`` tuple could
    equi-match some source key?  ``env`` holds the source keys' min/max per
    column (``__lo_k``/``__hi_k``, see :func:`_key_envelope`).  Per-column
    interval intersection is a NECESSARY condition for a tuple match, so a
    False here is a safe skip; missing stats or incomparable domains keep
    the file."""
    stats = entry.get("stats") or {}
    for k in key_cols:
        lo, hi = env.get(f"__lo_{k}"), env.get(f"__hi_{k}")
        if lo is None:
            # empty key set (every key tuple had a NULL) → nothing matches
            return False
        st = stats.get(k)
        if st is None:
            continue
        if "min" not in st:
            # file's k is all-NULL → none of its rows can equi-match
            if entry.get("rows", 0) > 0 and st.get("nulls") == entry["rows"]:
                return False
            continue
        slo, shi = _stat_value(lo), _stat_value(hi)
        if slo is None or shi is None or slo[0] != st.get("type"):
            continue
        if shi[1] < st["min"] or slo[1] > st["max"]:
            return False
    return True


class _KeySet:
    """The distinct key tuples of ``frames`` (no NULL component: such a
    tuple never equi-matches, so dropping it is exact), with the manifest
    key envelope and the row filters the keyed primitives apply.

    ONE job collects at most ``KEY_LITERAL_MAX + 1`` tuples, so driver
    memory is bounded by that constant; key columns that fit one task
    (:func:`..utils.fits_one_task`) are de-duplicated in one, so that job
    is one stage with no shuffle.  A set that fits is the literal
    route: the envelope comes from the tuples in Python and rows match a
    typed literal ``IN`` list (a ``struct`` of the columns for several),
    which reaches the parquet scan's pushed filters — no join, no shuffle.
    A larger set is the join route: a 1-row min/max aggregation gives the
    envelope and rows match by a left-semi / left-anti join against the key
    frame, which Catalyst/AQE plans (a small frame broadcasts).  The
    envelope test is a NECESSARY condition for a match on either route.
    The set is also a delete scope of :func:`_copy_on_write`
    (``may_match`` / ``keep`` / ``drop``)."""

    def __init__(
        self, frames: list[DataFrame], key_cols: list[str],
        persist: bool = False,
    ):
        kf = frames[0].select(*key_cols)
        for f in frames[1:]:
            kf = kf.unionByName(f.select(*key_cols))
        kf = kf.dropna()
        kf = (kf.coalesce(1) if fits_one_task(kf) else kf).distinct()
        self.cols = list(key_cols)
        dtypes = [f.dataType for f in kf.schema.fields]
        # a TimestampType key crosses to the driver as epoch microseconds:
        # a Python datetime is local wall-clock time, which cannot tell
        # the two instants of a DST fall-back hour apart
        rows = kf.select(*[
            F.unix_micros(k).alias(k) if isinstance(d, TimestampType) else k
            for k, d in zip(key_cols, dtypes)
        ]).limit(KEY_LITERAL_MAX + 1).collect()
        self.literal = len(rows) <= KEY_LITERAL_MAX
        if self.literal:
            tuples = [tuple(r) for r in rows]
            self.size = len(tuples)
            self.frame = None
            self.env = _key_envelope(tuples, key_cols)
            self.match = _key_match(tuples, key_cols, dtypes)
        else:
            self.size = None  # more than KEY_LITERAL_MAX; not counted
            # ``persist``: the caller consumes the frame more than once
            # and calls unpersist() when done
            self.frame = kf.persist() if persist else kf
            aggs = []
            for k in key_cols:
                aggs += [F.min(k).alias(f"__lo_{k}"), F.max(k).alias(f"__hi_{k}")]
            try:
                self.env = self.frame.agg(*aggs).collect()[0].asDict()
            except BaseException:
                self.unpersist()
                raise
            self.match = None

    def may_match(self, entry: dict) -> bool:
        """May manifest file ``entry`` hold a row whose key is in the set?"""
        return _entry_in_key_envelope(entry, self.cols, self.env)

    def describe(self) -> dict:
        return {"keys": self.size, "literal": self.literal}

    def keep(self, df: DataFrame) -> DataFrame:
        """Rows of ``df`` whose key tuple is in the set."""
        if self.literal:
            return df.filter(self.match)
        return df.join(self.frame, self.cols, "left_semi")

    def drop(self, df: DataFrame) -> DataFrame:
        """Rows of ``df`` whose key tuple is not in the set; a row with a
        NULL key component is always kept."""
        if self.literal:
            return df.filter(~F.coalesce(self.match, F.lit(False)))
        return df.join(self.frame, self.cols, "left_anti")

    def unpersist(self) -> None:
        if self.frame is not None:
            self.frame.unpersist()


def _key_envelope(tuples: list[tuple], key_cols: list[str]) -> dict:
    """Per-column min/max of the key tuples, in the ``__lo_k``/``__hi_k``
    form :func:`_entry_in_key_envelope` reads; ``None`` bounds when the
    set is empty (no file can match).  NaN has no place in a min/max
    order, so a column holding one gets NaN bounds, which every range
    comparison treats as may-match (the file is kept).  A TimestampType
    column's bounds are epoch microseconds, which never share a stats type
    with a footer timestamp, so that column never prunes (its footer
    stats are zone-adjusted and absent from the manifest anyway)."""
    env = {}
    for i, k in enumerate(key_cols):
        vals = [t[i] for t in tuples]
        if any(v != v for v in vals):
            lo = hi = float("nan")
        else:
            lo, hi = (min(vals), max(vals)) if vals else (None, None)
        env[f"__lo_{k}"], env[f"__hi_{k}"] = lo, hi
    return env


#: key types whose plain Python-value literal already has the column's
#: type, or a narrower one the ``IN`` widens (an ``int`` literal against a
#: ``bigint`` key): the scanned column is never cast, so pushdown holds
_PLAIN_LITERAL_TYPES = (
    BooleanType, IntegerType, LongType, DoubleType, StringType, DateType,
)


def _key_literal(dtype):
    """Literal builder for one key column's values, chosen once per column
    (a per-value ``cast`` re-parses the type on every call).  Timestamps
    rebuild exactly: ``timestamp_ntz`` from its wall-clock text,
    ``timestamp`` from epoch microseconds (see :class:`_KeySet`); both
    constant-fold, so pushdown still sees literals."""
    if isinstance(dtype, TimestampNTZType):
        return lambda v: F.to_timestamp_ntz(F.lit(v.isoformat(sep=" ")))
    if isinstance(dtype, TimestampType):
        return lambda v: F.timestamp_micros(F.lit(v))
    if isinstance(dtype, _PLAIN_LITERAL_TYPES):
        return F.lit
    name = dtype.simpleString()
    return lambda v: F.lit(v).cast(name)


def _key_match(tuples: list[tuple], key_cols: list[str], dtypes) -> Column:
    """``key_cols`` tuple IN the key set: a plain ``isin`` for one column,
    a ``struct`` of the columns for several.  A row with a NULL key
    evaluates NULL (one column) or FALSE (struct) — never TRUE."""
    lits = [_key_literal(d) for d in dtypes]
    if len(key_cols) == 1:
        return F.col(key_cols[0]).isin([lits[0](t[0]) for t in tuples])
    return F.struct(*key_cols).isin([
        F.struct(*[lit(v).alias(k) for v, lit, k in zip(t, lits, key_cols)])
        for t in tuples
    ])


def _log_decision(op: str, table_dir: str, **fields) -> None:
    if _LOG.isEnabledFor(logging.DEBUG):
        rec = {"op": op, "table": table_dir, **fields}
        _LOG.debug("%s", json.dumps(rec, sort_keys=True), extra={"decision": rec})


def merge_into(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key_cols: list[str],
    properties: dict | None = None,
    delete_keys: DataFrame | None = None,
) -> int:
    """Keyed copy-on-write upsert: one atomic snapshot that DELETEs every
    target row whose ``key_cols`` tuple appears in ``source`` and INSERTs
    all ``source`` rows.

    For a source with unique keys this is exactly ``MERGE INTO ... WHEN
    MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``; with
    several source rows per key it is the replace-by-key form (swap a
    whole conversation's feature rows in one commit).

    ``source`` is evaluated exactly once: its keys are not known up front,
    so its rows are written first (one job) and the key set is read back
    from the files just written (plus ``delete_keys``); one job collects
    up to :data:`KEY_LITERAL_MAX` distinct key tuples to the driver.  The
    rest is the copy-on-write core shared with :func:`overwrite_where`
    (:func:`_copy_on_write`), with nothing left to insert: the manifest
    key envelope prunes the candidate files, ONE ``input_file_name()``
    aggregation over the candidates finds the files that contain a
    matching key, and one write job stores their kept rows; every other
    file carries into the new snapshot by reference.  NULL keys never
    equi-match: a NULL-key target row is always kept, a NULL-key source
    row is always inserted.  (``plans/incremental.py`` knows its
    recompute's keys before the recompute runs, so it skips the
    write-first step and inserts the recompute in the kept rows' write.)

    ``delete_keys`` widens the DELETE scope beyond the source's own keys:
    rows matching those key tuples are removed even when the source
    carries no replacement (``WHEN MATCHED [BY SOURCE] THEN DELETE`` — how
    ``plans/incremental.py`` drops the feature rows of a conversation that
    was deleted from the turns table). Must have exactly the ``key_cols``
    columns.

    Scale: a key set of at most :data:`KEY_LITERAL_MAX` tuples (churn)
    takes the literal route — the envelope is derived in Python and the
    hit scan and kept-rows rewrite filter with a literal ``IN`` list
    (``~coalesce(match, false)`` for the kept rows), pushed into the
    parquet scan: no join and no shuffle touches the table.  A larger
    set takes the join route: the key frame is persisted for the merge,
    a 1-row min/max aggregation gives the envelope and the hit scan /
    kept rows are a left-semi / left-anti join on ``key_cols`` (Catalyst
    and AQE pick the build side).  On either route ``delete_keys`` is
    evaluated by the key-set collect and, on the join route, once more
    to fill the persisted frame.  A merge commit adds two data
    directories (``-add``: the source, ``-cow``: the kept rows).
    Rewrite volume is O(files containing matched keys), never O(table).
    Returns the new snapshot id.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if delete_keys is not None and sorted(delete_keys.columns) != sorted(key_cols):
        raise ValueError(
            f"delete_keys columns {delete_keys.columns} != key_cols {key_cols}"
        )
    m = _load_manifest(table_dir, None)
    _check_schema(source, m, "source")
    schema = StructType.fromJson(json.loads(m["schema"]))
    missing = [k for k in key_cols if k not in schema.fieldNames()]
    if missing:
        raise ValueError(f"key columns not in table schema: {missing}")
    added = _write_commit(source, table_dir, m["snapshot_id"] + 1, sub="-add")
    frames = [spark.read.schema(schema).parquet(*added)] if added else []
    if delete_keys is not None:
        frames.append(delete_keys)
    ks = (
        _KeySet(frames, key_cols, persist=True)
        if m["files"] and frames else None
    )
    try:
        return _copy_on_write(
            spark, table_dir, m, ks, None, "merge_into", "merge", properties,
            _file_entries(added, table_dir),
        )
    finally:
        if ks is not None:
            ks.unpersist()


def _merge_key_set(
    spark: SparkSession,
    table_dir: str,
    m: dict,
    source: DataFrame,
    ks: _KeySet,
    hits: tuple[list[str], list[str]],
    properties: dict | None = None,
) -> int:
    """Replace-by-key merge whose delete scope is the collected key set
    ``ks``: one atomic snapshot on top of manifest ``m`` that deletes every
    row whose key is in ``ks`` and inserts ``source``, written together
    with the kept rows in one job.  ``hits`` is :func:`_hit_files` of
    ``m`` and ``ks``, which the caller runs while it builds ``source``.
    Equal to :func:`merge_into` with ``delete_keys`` = ``ks`` only when
    every non-NULL key of ``source`` is in ``ks`` — a source filtered by
    ``ks.keep``, as ``plans/incremental.py``'s recompute is.
    :func:`merge_into` does not know its source's keys up front, so it
    writes the source first and reads them back."""
    _check_schema(source, m, "source")
    return _copy_on_write(
        spark, table_dir, m, ks, source, "merge_key_set", "merge", properties,
        hits=hits,
    )


def compact_snapshot(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    small_file_bytes: int | None = None,
) -> int:
    """Bin-pack small data files into ~``target_file_bytes`` files as a new
    snapshot with IDENTICAL logical content (Iceberg's ``rewriteDataFiles``).

    Every file smaller than ``small_file_bytes`` (default: the target) is
    read back and re-written as ``ceil(total_small_bytes / target)`` files
    via ``coalesce`` — partition merging only, NO shuffle, no row moves
    across executors beyond concatenation. Files already at or above the
    threshold carry into the new snapshot by reference. A no-op (fewer
    than two small files) returns the current id without committing.

    The invariant tests pin: ``row_changelog(pre, post)`` is EMPTY — the
    rewritten files cancel in its maintenance-commit walk, before any
    read — and time travel to the pre-compaction snapshot still reads the
    original small files. At 100 TB this is the maintenance job that keeps
    scan task counts sane after many small streaming/CDC commits.
    """
    m = _load_manifest(table_dir, None)
    parent = m["snapshot_id"]
    threshold = small_file_bytes or target_file_bytes
    schema = StructType.fromJson(json.loads(m["schema"]))
    root = os.path.abspath(table_dir)
    small_abs, small_rel = [], set()
    for e in m["files"]:
        p = os.path.join(root, e["path"])
        if os.path.getsize(p) < threshold:
            small_abs.append(p)
            small_rel.add(e["path"])
    if len(small_abs) < 2:
        return parent
    total = sum(os.path.getsize(p) for p in small_abs)
    n_out = max(1, -(-total // target_file_bytes))
    sid = parent + 1
    packed = spark.read.schema(schema).parquet(*small_abs).coalesce(int(n_out))
    entries = [e for e in m["files"] if e["path"] not in small_rel]
    entries += _file_entries(
        _write_commit(packed, table_dir, sid, sub="-compact"), table_dir
    )
    # maintenance commit: carry the parent's properties (see cluster_snapshot)
    return _commit(
        table_dir, "compact", m["schema"], entries, parent,
        m.get("properties", {}),
    )


def read_snapshot_for_keys(
    spark: SparkSession,
    table_dir: str,
    keys: DataFrame,
    key_cols: list[str],
    as_of: int | None = None,
) -> DataFrame:
    """Scan one snapshot restricted to rows whose ``key_cols`` tuple
    appears in ``keys`` — with the file list pre-pruned from manifest
    stats (the same key-envelope evaluation :func:`merge_into` uses)
    before the exact key filter runs on the survivors.

    One job collects up to :data:`KEY_LITERAL_MAX` distinct non-NULL key
    tuples of ``keys`` to the driver.  A set that fits (churn) derives
    the envelope in Python and the scan filters with a literal ``IN``
    list (a ``struct`` of the columns for a multi-column key): the plan
    has no join and no exchange, and the ``IN`` (``InSet`` above 10
    values) reaches the parquet scan's pushed filters (as a min/max range
    above 10 values).  A larger set adds a 1-row min/max aggregation for
    the envelope and the scan is a left-semi join against ``keys``'
    distinct key frame, which is evaluated again when the result is read
    unless its owner persisted it.  The envelope check is a NECESSARY
    condition for a tuple match, so pruning never drops a matching row;
    the key filter supplies exactness.  On a table written clustered on
    the key (:func:`cluster_snapshot` / a ``repartitionByRange`` writer),
    a churn-sized key set prunes the scan to the churn's neighborhood:
    O(affected data) instead of O(table) at 100 TB."""
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    m = _load_manifest(table_dir, as_of)
    schema = StructType.fromJson(json.loads(m["schema"]))
    missing = [k for k in key_cols if k not in schema.fieldNames()]
    if missing:
        raise ValueError(f"key columns not in table schema: {missing}")
    ks = _KeySet([keys], key_cols)
    cand = [e for e in m["files"] if ks.may_match(e)]
    _log_decision(
        "read_snapshot_for_keys", table_dir, candidate_files=len(cand),
        files_pruned=len(m["files"]) - len(cand), files_rewritten=0,
        **ks.describe(),
    )
    if not cand:
        return spark.createDataFrame([], schema)
    root = os.path.abspath(table_dir)
    return ks.keep(
        spark.read.schema(schema)
        .parquet(*[os.path.join(root, e["path"]) for e in cand])
    )


def cluster_snapshot(
    spark: SparkSession,
    table_dir: str,
    by: list[str],
    n_files: int | None = None,
) -> int:
    """Rewrite the current snapshot range-clustered on ``by`` (Delta's
    ``OPTIMIZE ... ZORDER BY`` / Iceberg's sort-order rewrite, linearized):
    ``repartitionByRange`` on the cluster columns + an in-file sort, so
    each data file covers a narrow, near-disjoint slice of the key space —
    which is exactly what makes the manifest min/max stats selective and
    :func:`plan_scan_files` / :func:`merge_into`'s candidate pruning
    effective.  Logical content is IDENTICAL (``row_changelog`` across the
    rewrite is empty — same invariant as :func:`compact_snapshot`); time
    travel to the pre-cluster snapshot still reads the old layout.

    ``n_files`` defaults to the current file count (a pure re-layout).
    At 100 TB this is the periodic maintenance pass after many
    append/merge commits have interleaved key ranges across files; range
    partitioning costs one shuffle of the table, done once, amortized by
    every pruned scan after.
    """
    if not by:
        raise ValueError("cluster columns must be non-empty")
    m = _load_manifest(table_dir, None)
    parent = m["snapshot_id"]
    schema = StructType.fromJson(json.loads(m["schema"]))
    missing = [k for k in by if k not in schema.fieldNames()]
    if missing:
        raise ValueError(f"cluster columns not in table schema: {missing}")
    files = _abs_files(table_dir, m)
    if not files:
        return parent
    n_out = int(n_files or len(files))
    sid = parent + 1
    clustered = (
        spark.read.schema(schema)
        .parquet(*files)
        .repartitionByRange(max(1, n_out), *by)
        .sortWithinPartitions(*by)
    )
    entries = _file_entries(
        _write_commit(clustered, table_dir, sid, sub="-cluster"), table_dir
    )
    # maintenance commit: logical content is unchanged, so the parent's
    # snapshot properties (e.g. plans/incremental.py's source_snapshot_id
    # pin) MUST survive — dropping them would break CDC consumers that
    # key off the current snapshot's summary
    return _commit(
        table_dir, "cluster", m["schema"], entries, parent,
        {**m.get("properties", {}), "clustered_by": list(by)},
    )


def snapshot_ids(table_dir: str) -> list[int]:
    """Committed snapshot ids, oldest first (expired ones excluded)."""
    md = _meta_dir(table_dir)
    if not os.path.isdir(md):
        return []
    return sorted(
        int(e[1:-5])
        for e in os.listdir(md)
        if e.startswith("v") and e.endswith(".json")
    )


def snapshot_info(table_dir: str, snapshot_id: int | None = None) -> dict:
    """Manifest metadata (operation, parent, file count, total rows)."""
    m = _load_manifest(table_dir, snapshot_id)
    return {
        "snapshot_id": m["snapshot_id"],
        "parent": m["parent"],
        "operation": m["operation"],
        "n_files": len(m["files"]),
        "total_rows": m["total_rows"],
        "properties": m.get("properties", {}),
    }


def _changed_files(
    table_dir: str, from_id: int | None, to_id: int,
    manifests: dict | None = None,
) -> tuple[list[dict], list[dict]]:
    """(removed, added) manifest entries of snapshot ``to_id`` vs
    ``from_id`` — pure manifest JSON, no data touched. ``from_id=None``
    (the parent of a root commit) diffs against the empty table.
    ``manifests`` is an optional id→manifest cache, filled as manifests
    are parsed, so a caller diffing many commits parses each once."""
    manifests = {} if manifests is None else manifests

    def files(sid: int) -> dict:
        if sid not in manifests:
            manifests[sid] = _load_manifest(table_dir, sid)
        return {e["path"]: e for e in manifests[sid]["files"]}

    ap = {} if from_id is None else files(from_id)
    bp = files(to_id)
    removed = [ap[p] for p in sorted(set(ap) - set(bp))]
    added = [bp[p] for p in sorted(set(bp) - set(ap))]
    return removed, added


def file_changelog(table_dir: str, from_id: int, to_id: int) -> list[dict]:
    """Metadata-only CDC: per data file added/removed between two
    snapshots, with footer row counts.  Zero Spark jobs."""
    removed, added = _changed_files(table_dir, from_id, to_id)
    return [{"change": "remove", **e} for e in removed] + [
        {"change": "add", **e} for e in added
    ]


#: operations whose commits rewrite file layout but are row-content-identical
#: (the streaming CDC reader skips them too)
_MAINTENANCE_OPS = frozenset({"compact", "cluster"})


def _cdc_files(
    table_dir: str, from_id: int, to_id: int, manifests: dict
) -> tuple[list[dict], list[dict]]:
    """(removed, added) manifest entries whose rows :func:`row_changelog`
    diffs: the files changed between the two snapshots, less the churn of
    maintenance commits in between (see there).  Pure manifest JSON;
    ``manifests`` is the id→manifest cache of :func:`_changed_files`."""
    removed, added = _changed_files(table_dir, from_id, to_id, manifests)
    if to_id <= from_id:
        return removed, added
    rem_paths = {e["path"] for e in removed}
    add_paths = {e["path"] for e in added}
    for sid in range(from_id + 1, to_id + 1):
        try:
            if sid not in manifests:
                manifests[sid] = _load_manifest(table_dir, sid)
        except FileNotFoundError:
            continue  # expired intermediate: nothing provable, keep churn
        mm = manifests[sid]
        if mm["operation"] not in _MAINTENANCE_OPS or mm.get("parent") is None:
            continue
        try:
            rm_m, ad_m = _changed_files(
                table_dir, mm["parent"], sid, manifests)
        except FileNotFoundError:
            continue
        rp = {e["path"] for e in rm_m}
        ap = {e["path"] for e in ad_m}
        if rp <= rem_paths and ap <= add_paths:
            rem_paths -= rp
            add_paths -= ap
    return (
        [e for e in removed if e["path"] in rem_paths],
        [e for e in added if e["path"] in add_paths],
    )


def _stats_envelope(entries: list[dict], col: str) -> dict | None:
    """The ``col`` envelope of the rows of manifest ``entries``, from their
    min/max stats, in the ``__lo_k``/``__hi_k`` form
    :func:`_entry_in_key_envelope` reads (``None`` bounds: no entry holds a
    non-NULL ``col`` value).  ``None`` when some entry's ``col`` values
    are unbounded: no stats, or a NaN bound."""
    lo = hi = None
    for e in entries:
        st = (e.get("stats") or {}).get(col)
        if st is not None and "min" not in st and st.get("nulls") == e["rows"]:
            continue  # all NULL
        if (
            st is None or "min" not in st
            or st["min"] != st["min"] or st["max"] != st["max"]
        ):
            return None
        lo = st["min"] if lo is None else min(lo, st["min"])
        hi = st["max"] if hi is None else max(hi, st["max"])
    return {f"__lo_{col}": lo, f"__hi_{col}": hi}


def _read_key_range(
    spark: SparkSession, table_dir: str, m: dict, changed: list[dict],
    col: str,
) -> DataFrame:
    """Scan of manifest ``m``'s files whose ``col`` range meets the ``col``
    range of the ``changed`` manifest entries, from manifest stats alone
    (no job): every row of ``m`` whose ``col`` value occurs in a
    ``changed`` file lies in the scan.  A changed file with no ``col``
    bound leaves the scan unpruned."""
    env = _stats_envelope(changed, col)
    files = m["files"] if env is None else [
        e for e in m["files"] if _entry_in_key_envelope(e, [col], env)
    ]
    schema = StructType.fromJson(json.loads(m["schema"]))
    if not files:
        return spark.createDataFrame([], schema)
    root = os.path.abspath(table_dir)
    return spark.read.schema(schema).parquet(
        *[os.path.join(root, e["path"]) for e in files]
    )


def row_changelog(
    spark: SparkSession, table_dir: str, from_id: int, to_id: int
) -> DataFrame:
    """Row-level CDC between two snapshots: the table's columns plus a
    ``change`` column ('add' rows appear in ``to`` only, 'remove' rows in
    ``from`` only — multiset semantics, as ``exceptAll``).

    Files present in BOTH manifests contribute identical row multisets to
    both sides and cancel, so they are excluded before any data is read —
    the diff scans only the changed files, which is what makes CDC viable
    on a 100 TB table with a 0.1% daily churn.  When the changed files sit
    on ONE side only (an append-only range, its reverse, or a range whose
    maintenance churn cancels below), that side's rows are the diff
    exactly, duplicates included: they come back tagged, a plain scan
    with no shuffle.  Only a two-sided range (upserts, copy-on-write
    deletes) runs the ``exceptAll`` in each direction.

    Maintenance commits (compact/cluster) rewrite every file path without
    changing a row; a naive path diff across one would read BOTH full
    file sets only to compute an empty row diff — a surprise O(table)
    scan for a no-op commit (round-6 advice, low).  The walk below
    cancels a maintenance commit's churn from the diff when its inputs
    all sit on the removed side and its outputs all on the added side
    (content-identical by the operation's contract, so the row multisets
    are unchanged); churn later partially rewritten by REAL commits fails
    that subset test and is conservatively kept.

    Both sides read under the NEWER snapshot's schema (schemas only grow
    via append-column evolution): older files null-fill added columns, so
    the changelog carries the evolved columns instead of silently
    projecting them away."""
    manifests: dict = {}
    removed, added = _cdc_files(table_dir, from_id, to_id, manifests)
    m = manifests[max(from_id, to_id)]
    schema = StructType.fromJson(json.loads(m["schema"]))
    root = os.path.abspath(table_dir)

    def side(entries: list[dict]) -> DataFrame:
        paths = [os.path.join(root, e["path"]) for e in entries]
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*paths)

    cols = schema.fieldNames()
    # X −ₘ ∅ = X and ∅ −ₘ X = ∅: a one-sided diff is its tagged scan
    if not removed:
        return side(added).select(F.lit("add").alias("change"), *cols)
    if not added:
        return side(removed).select(F.lit("remove").alias("change"), *cols)
    old, new = side(removed), side(added)
    return (
        old.exceptAll(new)
        .select(F.lit("remove").alias("change"), *cols)
        .unionByName(
            new.exceptAll(old).select(F.lit("add").alias("change"), *cols)
        )
    )


def vacuum_orphans(table_dir: str, older_than_s: float = 3600.0) -> list[str]:
    """Delete data files NO manifest references (any snapshot): leftovers
    of failed/aborted commits and streaming batches, whose invisibility is
    the crash-safety contract but whose bytes still cost storage.

    ``older_than_s`` is the safety grace (mtime-based): an in-flight
    writer stages its files BEFORE its manifest exists, so a zero grace
    could delete a commit that is about to publish — keep it comfortably
    above the longest expected commit write.  Returns the deleted paths.
    Orphan scan is O(files on disk) driver-side metadata, no Spark jobs.
    """
    import time

    root = os.path.abspath(table_dir)
    live = {
        e["path"]
        for sid in snapshot_ids(table_dir)
        for e in _load_manifest(table_dir, sid)["files"]
    }
    live_dirs = {os.path.dirname(p) for p in live}
    cutoff = time.time() - older_than_s
    removed = []
    data_root = os.path.join(root, "data")
    if not os.path.isdir(data_root):
        return []
    for dirpath, _dirs, files in os.walk(data_root):
        dir_rel = os.path.relpath(dirpath, root)
        for name in files:
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, root)
            if rel in live:
                continue
            # non-parquet markers (_SUCCESS, .crc) in a dir that still
            # holds live files belong to that commit — leave them
            if not name.endswith(".parquet") and dir_rel in live_dirs:
                continue
            try:
                if os.path.getmtime(full) <= cutoff:
                    os.remove(full)
                    removed.append(rel)
            except FileNotFoundError:
                pass  # concurrent vacuum/expire got it first
    for d in os.listdir(data_root):
        full = os.path.join(data_root, d)
        # the empty-dir sweep honors the SAME grace as file deletion: an
        # in-flight _write_commit has atomically claimed its (still empty)
        # directory before any file lands in it — rmdir'ing that claim
        # would let a second writer share the name and clobber the first
        try:
            if (
                os.path.isdir(full)
                and not os.listdir(full)
                and os.path.getmtime(full) <= cutoff
            ):
                os.rmdir(full)
        except (FileNotFoundError, OSError):
            pass  # concurrent writer repopulated or removed it — fine
    return sorted(removed)


def expire_snapshots(table_dir: str, keep_last: int = 1) -> list[int]:
    """Drop all but the newest ``keep_last`` manifests and DELETE data
    files no surviving snapshot references (Iceberg's
    ``expireSnapshots`` + orphan-file vacuum).  Returns the expired ids.
    Time travel to an expired id raises thereafter."""
    ids = snapshot_ids(table_dir)
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    expired = ids[:-keep_last]
    if not expired:
        return []
    survivors = ids[-keep_last:]
    live = {
        e["path"]
        for sid in survivors
        for e in _load_manifest(table_dir, sid)["files"]
    }
    root = os.path.abspath(table_dir)
    for sid in expired:
        for e in _load_manifest(table_dir, sid)["files"]:
            if e["path"] not in live:
                p = os.path.join(root, e["path"])
                if os.path.exists(p):
                    os.remove(p)
        os.remove(_manifest_path(table_dir, sid))
    # sweep now-empty commit directories (cosmetic; readers never list
    # dirs).  Graced and _temporary-aware for the same reason as
    # vacuum_orphans' sweep: an in-flight writer's claimed dir holds no
    # top-level *.parquet yet (only Spark's _temporary staging) and must
    # not be rmtree'd from under it
    import time as _time

    cutoff = _time.time() - 3600.0
    data_root = os.path.join(root, "data")
    if os.path.isdir(data_root):
        for d in os.listdir(data_root):
            full = os.path.join(data_root, d)
            try:
                if (
                    os.path.isdir(full)
                    and not any(
                        f.endswith(".parquet") or f == "_temporary"
                        for f in os.listdir(full)
                    )
                    and os.path.getmtime(full) <= cutoff
                ):
                    shutil.rmtree(full)
            except (FileNotFoundError, OSError):
                pass  # concurrent writer repopulated or removed it
    return expired
