"""Snapshot-log table format (sources/snapshots.py): snapshot isolation,
time travel, copy-on-write overwrite, CDC, expiry — the Iceberg properties
the north rule leans on, over plain parquet."""

from __future__ import annotations

import io
import os
import re
from collections import Counter
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from mpower_feature_analysis_spark.sources.snapshots import (
    commit_snapshot,
    compact_snapshot,
    expire_snapshots,
    file_changelog,
    overwrite_where,
    read_snapshot,
    row_changelog,
    snapshot_ids,
    snapshot_info,
)

SCHEMA = "id bigint, grp string, val double"


def _df(spark, lo: int, hi: int, grp: str = "a", files: int = 1):
    rows = [(i, grp if i % 2 == 0 else None, float(i) / 4.0)
            for i in range(lo, hi)]
    return spark.createDataFrame(rows, schema=SCHEMA).coalesce(files)


def _ids(df) -> list[int]:
    return sorted(r.id for r in df.select("id").collect())


def test_commit_append_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = commit_snapshot(_df(spark, 0, 10), t)
    s2 = commit_snapshot(_df(spark, 10, 15), t, operation="append")
    assert (s1, s2) == (1, 2)
    assert snapshot_ids(t) == [1, 2]
    assert _ids(read_snapshot(spark, t)) == list(range(15))
    assert _ids(read_snapshot(spark, t, as_of=1)) == list(range(10))
    info = snapshot_info(t)
    assert info["snapshot_id"] == 2 and info["parent"] == 1
    assert info["total_rows"] == 15  # footer-derived, no scan
    # full-table overwrite starts the file list fresh; history stays
    commit_snapshot(_df(spark, 100, 103), t, operation="overwrite")
    assert _ids(read_snapshot(spark, t)) == [100, 101, 102]
    assert _ids(read_snapshot(spark, t, as_of=2)) == list(range(15))


def test_append_schema_mismatch_raises(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 5), t)
    bad = spark.createDataFrame([(1, 2.0)], schema="id bigint, val double")
    with pytest.raises(ValueError, match="schema mismatch"):
        commit_snapshot(bad, t, operation="append")


def test_overwrite_where_copy_on_write(spark, tmp_path):
    """Only files containing a matching row are rewritten; the rest carry
    into the new snapshot BY REFERENCE (same path, zero bytes copied)."""
    import json

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)          # file A: ids 0-9
    commit_snapshot(_df(spark, 10, 20), t, "append")  # file B: ids 10-19

    def files(sid):
        with open(os.path.join(t, "metadata", f"v{sid}.json")) as f:
            return {e["path"] for e in json.load(f)["files"]}

    before = files(2)
    repl = spark.createDataFrame([(99, "z", 0.0)], schema=SCHEMA)
    sid = overwrite_where(spark, t, "id >= 10 AND id < 12", repl)
    assert sid == 3
    after = files(3)
    # file A (ids 0-9) has no matching row -> identical path retained
    a_files = {p for p in before if p.startswith("data/s00001")}
    assert a_files and a_files <= after
    # file B was rewritten -> its old path is gone
    assert not any(p.startswith("data/s00002") for p in after)
    assert _ids(read_snapshot(spark, t)) == list(range(10)) + list(
        range(12, 20)
    ) + [99]
    # time travel unaffected
    assert _ids(read_snapshot(spark, t, as_of=2)) == list(range(20))


def test_overwrite_where_null_predicate_keeps_rows(spark, tmp_path):
    """Rows where the DELETE predicate evaluates NULL are kept, matching
    SQL DELETE semantics (grp is NULL on odd ids)."""
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 8), t)
    overwrite_where(spark, t, "grp = 'a'")  # NULL for odd ids -> keep
    assert _ids(read_snapshot(spark, t)) == [1, 3, 5, 7]


def test_overwrite_where_delete_all_reads_typed_empty(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 4), t)
    overwrite_where(spark, t, "id >= 0")
    cur = read_snapshot(spark, t)
    assert cur.count() == 0
    assert [f.name for f in cur.schema.fields] == ["id", "grp", "val"]
    # and appending onto the empty snapshot works
    commit_snapshot(_df(spark, 50, 52), t, "append")
    assert _ids(read_snapshot(spark, t)) == [50, 51]


def test_snapshot_isolation_under_concurrent_commit(spark, tmp_path):
    """A reader that resolved snapshot 1 sees snapshot 1 forever: commits
    never mutate data files, only add manifests and swap the pointer."""
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 6), t)
    reader = read_snapshot(spark, t, as_of=1)  # plan pinned to v1 files
    overwrite_where(spark, t, "id % 2 = 0")
    commit_snapshot(_df(spark, 1000, 1001, files=1), t, "append")
    assert _ids(reader) == list(range(6))


def test_changelogs(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)
    repl = spark.createDataFrame(
        [(i, "new", -1.0) for i in (3, 4)], schema=SCHEMA
    )
    overwrite_where(spark, t, "id IN (3, 4)", repl)

    # metadata-only: file B rewritten + add file, file-level rows add up
    log = file_changelog(t, 1, 2)
    assert {e["change"] for e in log} == {"add", "remove"}
    removed_rows = sum(e["rows"] for e in log if e["change"] == "remove")
    added_rows = sum(e["rows"] for e in log if e["change"] == "add")
    assert removed_rows == 10 and added_rows == 10  # rewrite(8) + add(2)

    # row-level CDC from changed files only == full-snapshot exceptAll diff
    cdc = row_changelog(spark, t, 1, 2)
    got = {(r.change, r.id, r.grp, r.val) for r in cdc.collect()}
    s1, s2 = read_snapshot(spark, t, 1), read_snapshot(spark, t, 2)
    want = {
        ("remove", r.id, r.grp, r.val) for r in s1.exceptAll(s2).collect()
    } | {("add", r.id, r.grp, r.val) for r in s2.exceptAll(s1).collect()}
    assert got == want
    assert {(c, i) for c, i, *_ in got} == {
        ("remove", 3), ("remove", 4), ("add", 3), ("add", 4)
    }


def _cdc_multiset(spark, t, a, b) -> tuple[Counter, Counter]:
    """(row_changelog, full-snapshot exceptAll reference) as row multisets."""
    got = Counter(
        (r.change, r.id, r.grp, r.val)
        for r in row_changelog(spark, t, a, b).collect()
    )
    sa, sb = read_snapshot(spark, t, a), read_snapshot(spark, t, b)
    want = Counter(
        ("remove", r.id, r.grp, r.val) for r in sa.exceptAll(sb).collect()
    ) + Counter(("add", r.id, r.grp, r.val) for r in sb.exceptAll(sa).collect())
    return got, want


def test_one_sided_changelogs_equal_exceptall(spark, tmp_path):
    """Ranges whose changed files sit on one side only (appends, their
    reverse, an append after a compaction) skip the exceptAll; the rows
    must still equal the full-snapshot exceptAll diff as multisets."""
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10, files=2), t)                 # v1
    # v2: a row repeated inside the new file, and a copy of a v1 row
    rep = spark.createDataFrame(
        [(20, "a", 5.0), (20, "a", 5.0), (3, None, 0.75)], schema=SCHEMA
    ).coalesce(1)
    commit_snapshot(rep, t, "append")
    commit_snapshot(_df(spark, 30, 33), t, "append")               # v3
    assert compact_snapshot(spark, t) == 4                         # v4
    commit_snapshot(_df(spark, 40, 42), t, "append")               # v5

    got, want = _cdc_multiset(spark, t, 1, 2)
    assert got == want
    assert got[("add", 20, "a", 5.0)] == 2  # in-file duplicate survives
    assert got[("add", 3, None, 0.75)] == 1
    for a, b in ((1, 3), (3, 1), (3, 5)):
        got, want = _cdc_multiset(spark, t, a, b)
        assert got == want, (a, b)
        assert got
    assert {c for c, *_ in _cdc_multiset(spark, t, 3, 1)[0]} == {"remove"}
    # v3 -> v5: the compaction's churn cancels, only v5's append remains
    assert set(_cdc_multiset(spark, t, 3, 5)[0]) == {
        ("add", 40, "a", 10.0), ("add", 41, None, 10.25)
    }


def test_empty_range_changelog(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)
    commit_snapshot(_df(spark, 10, 12), t, "append")
    cdc = row_changelog(spark, t, 2, 2)
    assert cdc.count() == 0
    assert cdc.columns == ["change", "id", "grp", "val"]
    assert cdc.columns == row_changelog(spark, t, 1, 2).columns


def test_expire_snapshots(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)           # v1: file A
    commit_snapshot(_df(spark, 10, 12), t, "append")  # v2: A + B
    overwrite_where(spark, t, "id = 11")            # v3: A + B' (B rewritten)
    assert expire_snapshots(t, keep_last=1) == [1, 2]
    assert snapshot_ids(t) == [3]
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, t, as_of=1)
    # file A is still referenced by v3 and must survive the vacuum
    assert _ids(read_snapshot(spark, t)) == list(range(11))
    with pytest.raises(ValueError):
        expire_snapshots(t, keep_last=0)


def test_snapshot_scan_keeps_pushdown(spark, tmp_path):
    """The explicit-file-list scan is a plain parquet relation: filters
    still reach the source and columns still prune."""
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 100, files=2), t)
    df = read_snapshot(spark, t).filter(F.col("id") > 5).select("id")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "GreaterThan(id,5)" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m.group(1) == "id:bigint"


def test_schema_evolution_add_nullable_column(spark, tmp_path):
    """Append-with-added-nullable-column evolves the table schema without
    rewriting old files: pre-evolution rows read NULL in the new column;
    time travel to the pre-evolution snapshot keeps the old schema."""
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 4), t)
    evolved = spark.createDataFrame(
        [(10, "a", 1.0, "noted")], schema=SCHEMA + ", note string"
    )
    commit_snapshot(evolved, t, "append")
    cur = read_snapshot(spark, t)
    assert [f.name for f in cur.schema.fields] == ["id", "grp", "val", "note"]
    notes = {r.id: r.note for r in cur.collect()}
    assert notes[10] == "noted" and all(notes[i] is None for i in range(4))
    old = read_snapshot(spark, t, as_of=1)
    assert [f.name for f in old.schema.fields] == ["id", "grp", "val"]
    # dropping / reordering / non-nullable-adding appends still raise
    with pytest.raises(ValueError, match="schema mismatch"):
        commit_snapshot(
            spark.createDataFrame([(1, 2.0)], "id bigint, val double"),
            t, "append",
        )


def test_row_changelog_across_schema_evolution(spark, tmp_path):
    """CDC spanning an add-column evolution carries the new column: the
    evolved 'add' rows keep their values, pre-evolution rows null-fill."""
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 4), t)
    evolved = spark.createDataFrame(
        [(10, "a", 1.0, "noted")], schema=SCHEMA + ", note string"
    )
    commit_snapshot(evolved, t, "append")
    cdc = row_changelog(spark, t, 1, 2)
    rows = {(r.change, r.id, r.note) for r in cdc.collect()}
    assert rows == {("add", 10, "noted")}
    # reverse direction: the evolved row reads as a removal
    back = {(r.change, r.id, r.note) for r in
            row_changelog(spark, t, 2, 1).collect()}
    assert back == {("remove", 10, "noted")}


# ---------------------------------------------------------------------------
# Model-based property: a random commit/overwrite/append history replayed
# against an in-memory multiset model — every snapshot must read back as
# exactly the model's state at that commit, forever (SURVEY.md §5
# randomized-inputs requirement applied to the table format).
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@st.composite
def snapshot_history(draw):
    """A table history: initial batch + up to 3 ops."""
    nxt = [0]

    def batch():
        n = draw(st.integers(1, 5))
        rows = []
        for _ in range(n):
            rows.append((nxt[0], draw(st.sampled_from(["a", "b", None])),
                         float(draw(st.integers(-4, 4)))))
            nxt[0] += 1
        return rows

    ops = [("create", batch(), None)]
    for _ in range(draw(st.integers(1, 3))):
        kind = draw(st.sampled_from(["append", "delete", "replace"]))
        if kind == "append":
            ops.append(("append", batch(), None))
        else:
            k = draw(st.integers(2, 4))
            m = draw(st.integers(0, 3))
            pred = f"id % {k} = {m % k}"
            repl = batch() if kind == "replace" else None
            ops.append(("overwrite", repl, (k, m % k, pred)))
    return ops


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(snapshot_history())
def test_snapshot_history_matches_model(spark, tmp_path_factory, ops):
    t = str(tmp_path_factory.mktemp("prop") / "tbl")
    model: list[list[tuple]] = []  # model[i] = rows of snapshot i+1
    cur: list[tuple] = []
    for kind, rows, pred in ops:
        if kind == "create":
            commit_snapshot(_df_rows(spark, rows), t)
            cur = list(rows)
        elif kind == "append":
            commit_snapshot(_df_rows(spark, rows), t, "append")
            cur = cur + rows
        else:
            k, m, sql = pred
            overwrite_where(
                spark, t, sql,
                _df_rows(spark, rows) if rows is not None else None,
            )
            cur = [r for r in cur if r[0] % k != m] + (rows or [])
        model.append(sorted(cur))
    # every snapshot, not just the head, must match its model state
    for sid, want in enumerate(model, start=1):
        got = sorted(
            (r.id, r.grp, r.val)
            for r in read_snapshot(spark, t, as_of=sid).collect()
        )
        assert got == want, f"snapshot {sid}"


def _df_rows(spark, rows):
    return spark.createDataFrame(rows, schema=SCHEMA).coalesce(1)


# ---------------------------------------------------------------------------
# round 6: merge_into / compact_snapshot / snapshot properties
# ---------------------------------------------------------------------------

def _files_of(t, sid):
    import json

    with open(os.path.join(t, "metadata", f"v{sid}.json")) as f:
        return {e["path"] for e in json.load(f)["files"]}


def test_merge_into_upsert(spark, tmp_path):
    """Unique-key source == MERGE upsert: matched keys updated, new keys
    inserted, untouched keys (and NULL-key rows) kept."""
    from mpower_feature_analysis_spark.sources.snapshots import merge_into

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)
    src = spark.createDataFrame(
        [(2, "upd", 99.0), (5, "upd", 99.0), (100, "new", 1.0)], schema=SCHEMA
    )
    sid = merge_into(spark, t, src, ["id"])
    assert sid == 2 and snapshot_info(t)["operation"] == "merge"
    cur = read_snapshot(spark, t)
    assert _ids(cur) == [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 100]
    upd = {r.id: r.val for r in cur.filter("val = 99.0").collect()}
    assert set(upd) == {2, 5}
    # time travel: pre-merge snapshot unchanged
    assert _ids(read_snapshot(spark, t, as_of=1)) == list(range(10))


def test_merge_into_copy_on_write_scope(spark, tmp_path):
    """Only files containing a matched key are rewritten; the rest carry
    by reference (path-identical across manifests)."""
    from mpower_feature_analysis_spark.sources.snapshots import merge_into

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)            # file A
    commit_snapshot(_df(spark, 10, 20), t, "append")  # file B
    src = spark.createDataFrame([(3, "z", 0.0)], schema=SCHEMA)  # hits A only
    merge_into(spark, t, src, ["id"])
    before, after = _files_of(t, 2), _files_of(t, 3)
    carried = before & after
    assert len(carried) == 1  # file B survives by reference
    assert _ids(read_snapshot(spark, t)) == list(range(20))


def test_merge_into_replace_by_key(spark, tmp_path):
    """Multi-row-per-key source = replace-by-key: ALL target rows of a
    matched key are dropped, all source rows inserted (the conversation-
    swap form plans/incremental.py uses)."""
    from mpower_feature_analysis_spark.sources.snapshots import merge_into

    t = str(tmp_path / "tbl")
    rows = [(1, "a", 0.0), (1, "a", 1.0), (2, "b", 0.0)]
    commit_snapshot(spark.createDataFrame(rows, schema=SCHEMA), t)
    src = spark.createDataFrame(
        [(1, "r", 7.0), (1, "r", 8.0), (1, "r", 9.0)], schema=SCHEMA
    )
    merge_into(spark, t, src, ["id"])
    cur = read_snapshot(spark, t).collect()
    assert sorted((r.id, r.val) for r in cur) == [
        (1, 7.0), (1, 8.0), (1, 9.0), (2, 0.0)
    ]


def test_merge_into_validation(spark, tmp_path):
    from mpower_feature_analysis_spark.sources.snapshots import merge_into

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 3), t)
    bad = spark.createDataFrame([(1, 2.0)], schema="id bigint, val double")
    with pytest.raises(ValueError, match="mismatch vs"):
        merge_into(spark, t, bad, ["id"])
    src = spark.createDataFrame([(1, "a", 0.0)], schema=SCHEMA)
    with pytest.raises(ValueError, match="key columns"):
        merge_into(spark, t, src, ["nope"])
    with pytest.raises(ValueError, match="non-empty"):
        merge_into(spark, t, src, [])


def test_compact_snapshot_identity(spark, tmp_path):
    """Compaction shrinks the file count, keeps logical content IDENTICAL
    (row_changelog across the compaction is EMPTY), and leaves the
    pre-compaction snapshot time-travelable."""
    from mpower_feature_analysis_spark.sources.snapshots import compact_snapshot

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 40).repartition(6), t)
    commit_snapshot(_df(spark, 40, 80).repartition(6), t, "append")
    pre = snapshot_info(t)
    assert pre["n_files"] >= 8
    sid = compact_snapshot(spark, t)
    post = snapshot_info(t)
    assert sid == 3 and post["operation"] == "compact"
    assert post["n_files"] < pre["n_files"]
    assert post["total_rows"] == pre["total_rows"]
    assert row_changelog(spark, t, 2, 3).count() == 0
    assert _ids(read_snapshot(spark, t)) == list(range(80))
    assert _ids(read_snapshot(spark, t, as_of=2)) == list(range(80))
    # second compaction over one packed file is a no-op: same snapshot id
    assert compact_snapshot(spark, t) == 3


def test_compact_keeps_large_files_by_reference(spark, tmp_path):
    from mpower_feature_analysis_spark.sources.snapshots import compact_snapshot

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 50), t)                    # one "large" file
    commit_snapshot(_df(spark, 50, 52).repartition(2), t, "append")
    commit_snapshot(_df(spark, 52, 54).repartition(2), t, "append")
    big = _files_of(t, 1)
    # threshold chosen so the first file counts as large, the splits small
    sizes = {
        p: os.path.getsize(os.path.join(t, p)) for p in _files_of(t, 3)
    }
    cut = max(sizes[p] for p in big)  # large file is >= cut, splits below
    compact_snapshot(spark, t, target_file_bytes=cut, small_file_bytes=cut)
    after = _files_of(t, 4)
    assert big <= after  # large file carried by reference
    assert len(after) < len(sizes)
    assert _ids(read_snapshot(spark, t)) == list(range(54))


def test_snapshot_properties_round_trip(spark, tmp_path):
    from mpower_feature_analysis_spark.sources.snapshots import merge_into

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 5), t, properties={"source_snapshot_id": 7})
    assert snapshot_info(t)["properties"] == {"source_snapshot_id": 7}
    src = spark.createDataFrame([(0, "a", 0.0)], schema=SCHEMA)
    merge_into(spark, t, src, ["id"], properties={"source_snapshot_id": 9})
    assert snapshot_info(t)["properties"] == {"source_snapshot_id": 9}
    # older snapshot keeps its own properties (manifests immutable)
    assert snapshot_info(t, 1)["properties"] == {"source_snapshot_id": 7}


# ---------------------------------------------------------------------------
# Manifest column stats + predicate file skipping (Iceberg manifest
# evaluation): stats come from parquet footers at commit time (no data
# read), pruning is metadata-only, and the predicate is ALWAYS re-applied
# as a Spark filter so a skipped stat can cost bytes, never rows.
# ---------------------------------------------------------------------------


def _manifest(t, sid):
    import json

    with open(os.path.join(t, "metadata", f"v{sid}.json")) as f:
        return json.load(f)


def test_manifest_records_column_stats(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)  # grp: 'a' on even ids, NULL odd
    [entry] = _manifest(t, 1)["files"]
    st = entry["stats"]
    assert st["id"] == {"type": "num", "min": 0, "max": 9, "nulls": 0}
    assert st["grp"] == {"type": "str", "min": "a", "max": "a", "nulls": 5}
    assert st["val"]["min"] == 0.0 and st["val"]["max"] == 9 / 4.0


def test_plan_scan_files_prunes_disjoint_ranges(spark, tmp_path):
    from mpower_feature_analysis_spark.sources.snapshots import plan_scan_files

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)            # file A: ids 0-9
    commit_snapshot(_df(spark, 10, 20), t, "append")  # file B: ids 10-19
    keep, skip = plan_scan_files(t, "id >= 10")
    assert len(keep) == 1 and len(skip) == 1
    assert "s00002" in keep[0] and "s00001" in skip[0]
    # conjunction narrows further; equality outside every range prunes all
    keep2, _ = plan_scan_files(t, "id >= 10 AND id < 5")
    assert keep2 == []
    keep3, _ = plan_scan_files(t, "id = 42")
    assert keep3 == []


def test_read_snapshot_where_skips_files_and_matches_filter(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)
    commit_snapshot(_df(spark, 10, 20), t, "append")
    pruned = read_snapshot(spark, t, where="id >= 10 AND val <= 4.0")
    full = read_snapshot(spark, t).filter("id >= 10 AND val <= 4.0")
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.collect())
    )
    # the scan itself plans only the surviving file
    assert all("s00002" in f for f in pruned.inputFiles())


def test_where_unparseable_predicate_keeps_all_files(spark, tmp_path):
    from mpower_feature_analysis_spark.sources.snapshots import plan_scan_files

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)
    commit_snapshot(_df(spark, 10, 20), t, "append")
    # OR / arithmetic / IN are not pruneable forms: no file may be skipped
    for cond in ("id % 2 = 0", "id = 1 OR id = 15", "id IN (1, 15)"):
        keep, skip = plan_scan_files(t, cond)
        assert skip == [], cond
        got = read_snapshot(spark, t, where=cond)
        want = read_snapshot(spark, t).filter(cond)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), cond
    # a string literal CONTAINING ' and ' is parseable (quotes are opaque
    # to the AND split): it may prune, and must still match the filter
    cond = "grp = 'a and b'"
    got = read_snapshot(spark, t, where=cond)
    want = read_snapshot(spark, t).filter(cond)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_where_string_equality_prunes(spark, tmp_path):
    from mpower_feature_analysis_spark.sources.snapshots import plan_scan_files

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10, grp="a"), t)
    commit_snapshot(_df(spark, 10, 20, grp="z"), t, "append")
    keep, skip = plan_scan_files(t, "grp = 'z'")
    assert len(keep) == 1 and "s00002" in keep[0]
    rows = read_snapshot(spark, t, where="grp = 'z'").collect()
    assert {r.grp for r in rows} == {"z"} and len(rows) == 5


def test_where_all_null_column_prunes_file(spark, tmp_path):
    from mpower_feature_analysis_spark.sources.snapshots import plan_scan_files

    t = str(tmp_path / "tbl")
    allnull = spark.createDataFrame(
        [(i, None, float(i)) for i in range(5)], schema=SCHEMA
    ).coalesce(1)
    commit_snapshot(allnull, t)
    commit_snapshot(_df(spark, 10, 20, grp="b"), t, "append")
    # grp = 'b' can never be TRUE in the all-NULL file -> skipped
    keep, skip = plan_scan_files(t, "grp = 'b'")
    assert len(keep) == 1 and "s00002" in keep[0]
    got = read_snapshot(spark, t, where="grp = 'b'")
    assert sorted(r.id for r in got.collect()) == [10, 12, 14, 16, 18]


def test_where_timestamp_ntz_pruning(spark, tmp_path):
    from mpower_feature_analysis_spark.sources.snapshots import plan_scan_files

    t = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id"),
        F.to_timestamp_ntz(
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 3600)
        ).alias("ts"),
    ).coalesce(1)
    commit_snapshot(mk(0, 24), t)             # day 1
    commit_snapshot(mk(24, 48), t, "append")  # day 2
    cut = "2023-11-15 22:13:20"               # 1_700_000_000 + 24h
    keep, skip = plan_scan_files(t, f"ts >= '{cut}'")
    assert len(keep) == 1 and "s00002" in keep[0]
    got = read_snapshot(spark, t, where=f"ts >= '{cut}'")
    want = read_snapshot(spark, t).filter(f"ts >= '{cut}'")
    assert sorted(r.id for r in got.collect()) == sorted(
        r.id for r in want.collect()
    )


def test_stats_absent_after_schema_evolution_never_misprune(spark, tmp_path):
    """Files committed BEFORE a column existed have no stats for it; a
    predicate on that column must keep them (their rows read as NULL and
    the residual filter decides)."""
    from mpower_feature_analysis_spark.sources.snapshots import plan_scan_files

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 5), t)
    evolved = spark.createDataFrame(
        [(10, "b", 1.0, "new")], schema=SCHEMA + ", extra string"
    ).coalesce(1)
    commit_snapshot(evolved, t, "append")
    keep, skip = plan_scan_files(t, "extra = 'new'")
    assert len(keep) == 2 and skip == []  # pre-evolution file kept
    got = read_snapshot(spark, t, where="extra = 'new'")
    assert [r.id for r in got.collect()] == [10]


def test_merge_into_key_envelope_prunes_candidate_scan(spark, tmp_path):
    from mpower_feature_analysis_spark.sources.snapshots import (
        _entry_in_key_envelope, merge_into)

    # unit: disjoint range -> False; overlapping / missing stats -> True;
    # all-NULL source keys or all-NULL file column -> False
    e = {"path": "p", "rows": 10,
         "stats": {"id": {"type": "num", "min": 0, "max": 9, "nulls": 0}}}
    assert not _entry_in_key_envelope(e, ["id"], {"__lo_id": 20, "__hi_id": 30})
    assert _entry_in_key_envelope(e, ["id"], {"__lo_id": 5, "__hi_id": 30})
    assert _entry_in_key_envelope({"path": "p", "rows": 3, "stats": {}},
                                  ["id"], {"__lo_id": 20, "__hi_id": 30})
    assert not _entry_in_key_envelope(e, ["id"],
                                      {"__lo_id": None, "__hi_id": None})
    nul = {"path": "p", "rows": 4, "stats": {"id": {"nulls": 4}}}
    assert not _entry_in_key_envelope(nul, ["id"],
                                      {"__lo_id": 1, "__hi_id": 2})

    # end-to-end: a merge whose keys live entirely in file B's range
    # carries file A by reference (path unchanged across the commit)
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)
    commit_snapshot(_df(spark, 10, 20), t, "append")
    paths_before = {e["path"] for e in _manifest(t, 2)["files"]}
    a_path = next(p for p in paths_before if "s00001" in p)
    src = spark.createDataFrame([(15, "m", -1.0)], schema=SCHEMA)
    merge_into(spark, t, src, ["id"])
    paths_after = {e["path"] for e in _manifest(t, 3)["files"]}
    assert a_path in paths_after
    got = sorted((r.id, r.grp, r.val) for r in read_snapshot(spark, t).collect())
    assert (15, "m", -1.0) in got and len(got) == 20


def test_cluster_snapshot_makes_pruning_effective(spark, tmp_path):
    """Range-clustering rewrite: identical content (empty changelog), but
    file stats become selective — a predicate that could skip NOTHING on
    the interleaved layout skips files afterwards."""
    from mpower_feature_analysis_spark.sources.snapshots import (
        cluster_snapshot, plan_scan_files)

    t = str(tmp_path / "tbl")
    full = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 0.5).alias("val"))
    # two appends, round-robin shuffled so every file spans the WHOLE key
    # range: stats are useless on this layout
    commit_snapshot(full.filter("id % 2 = 0").repartition(2), t)
    commit_snapshot(full.filter("id % 2 = 1").repartition(2), t, "append")
    keep0, skip0 = plan_scan_files(t, "id < 25")
    assert skip0 == []  # interleaved layout: nothing skippable

    sid = cluster_snapshot(spark, t, by=["id"], n_files=4)
    assert sid == 3
    assert snapshot_info(t)["operation"] == "cluster"
    assert snapshot_info(t)["properties"] == {"clustered_by": ["id"]}
    keep1, skip1 = plan_scan_files(t, "id < 25")
    assert skip1, "clustered layout must allow file skipping"
    # content identical: changelog across the rewrite is EMPTY
    assert row_changelog(spark, t, 2, 3).count() == 0
    got = read_snapshot(spark, t, where="id < 25")
    assert sorted(r.id for r in got.collect()) == list(range(25))
    # time travel still reads the pre-cluster layout
    assert read_snapshot(spark, t, as_of=2).count() == 100


def test_cluster_snapshot_validation(spark, tmp_path):
    from mpower_feature_analysis_spark.sources.snapshots import cluster_snapshot

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 5), t)
    with pytest.raises(ValueError, match="non-empty"):
        cluster_snapshot(spark, t, by=[])
    with pytest.raises(ValueError, match="not in table schema"):
        cluster_snapshot(spark, t, by=["nope"])


def test_read_snapshot_for_keys_prunes_and_is_exact(spark, tmp_path):
    from mpower_feature_analysis_spark.sources.snapshots import (
        cluster_snapshot, read_snapshot_for_keys)

    t = str(tmp_path / "tbl")
    full = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 0.5).alias("val"))
    commit_snapshot(full.repartition(4), t)
    cluster_snapshot(spark, t, by=["id"], n_files=4)

    keys = spark.createDataFrame([(7,), (8,), (9,)], "id bigint")
    got = read_snapshot_for_keys(spark, t, keys, ["id"])
    assert sorted(r.id for r in got.collect()) == [7, 8, 9]
    # clustered layout: the narrow key envelope plans a strict file subset
    all_files = set(read_snapshot(spark, t).inputFiles())
    assert set(got.inputFiles()) < all_files

    # keys outside every file's range: zero files planned, typed empty
    none = read_snapshot_for_keys(
        spark, t, spark.createDataFrame([(500,)], "id bigint"), ["id"])
    assert none.count() == 0
    assert [f.name for f in none.schema.fields] == ["id", "grp", "val"]

    with pytest.raises(ValueError, match="non-empty"):
        read_snapshot_for_keys(spark, t, keys, [])
    with pytest.raises(ValueError, match="not in table schema"):
        read_snapshot_for_keys(spark, t, keys.withColumnRenamed("id", "x"), ["x"])


def test_maintenance_commits_carry_properties(spark, tmp_path):
    """compact/cluster change layout, not content: the parent snapshot's
    properties (e.g. the incremental-refresh source_snapshot_id pin) must
    survive the maintenance commit."""
    from mpower_feature_analysis_spark.sources.snapshots import (
        cluster_snapshot, compact_snapshot)

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 40).repartition(4), t,
                    properties={"source_snapshot_id": 3})
    compact_snapshot(spark, t)
    assert snapshot_info(t)["properties"] == {"source_snapshot_id": 3}
    cluster_snapshot(spark, t, by=["id"], n_files=2)
    assert snapshot_info(t)["properties"] == {
        "source_snapshot_id": 3, "clustered_by": ["id"]}


# ---------------------------------------------------------------------------
# Optimistic concurrency (Iceberg-style CAS commits): the manifest-claim
# os.link is the commit point; append/overwrite rebase, file-scoped ops
# raise SnapshotConflictError to their caller.
# ---------------------------------------------------------------------------


def test_commit_cas_second_writer_conflicts(spark, tmp_path):
    from mpower_feature_analysis_spark.sources import snapshots as S

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 5), t)
    m = S._load_manifest(t, 1)
    # two writers race for snapshot 2 with the same parent: exactly one
    # manifest claim can win
    S._commit(t, "append", m["schema"], m["files"], 1)
    with pytest.raises(S.SnapshotConflictError, match="concurrent"):
        S._commit(t, "append", m["schema"], m["files"], 1)


def test_append_rebases_after_concurrent_commit(spark, tmp_path, monkeypatch):
    """A concurrent append lands INSIDE our commit's race window (between
    parent resolution and the manifest claim): ours must rebase onto the
    new parent and keep BOTH appends."""
    from mpower_feature_analysis_spark.sources import snapshots as S

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 5), t)

    orig = S._write_commit
    raced = []

    def sneaky(df, table_dir, sid, sub=""):
        paths = orig(df, table_dir, sid, sub)
        if not raced:
            raced.append(True)
            monkeypatch.setattr(S, "_write_commit", orig)
            commit_snapshot(_df(spark, 100, 103), t, "append")  # the winner
        return paths

    monkeypatch.setattr(S, "_write_commit", sneaky)
    sid = commit_snapshot(_df(spark, 10, 12), t, "append")
    assert sid == 3  # rebased past the concurrent snapshot 2
    info = snapshot_info(t)
    assert info["parent"] == 2
    assert _ids(read_snapshot(spark, t)) == (
        list(range(5)) + [10, 11] + [100, 101, 102]
    )


def test_file_scoped_op_conflict_raises(spark, tmp_path, monkeypatch):
    """merge_into planned its copy-on-write scope against a parent that a
    concurrent commit replaced: rebasing would lose that commit, so it
    must surface SnapshotConflictError instead."""
    from mpower_feature_analysis_spark.sources import snapshots as S
    from mpower_feature_analysis_spark.sources.snapshots import merge_into

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 5), t)

    orig = S._write_commit
    raced = []

    def sneaky(df, table_dir, sid, sub=""):
        paths = orig(df, table_dir, sid, sub)
        if not raced:
            raced.append(True)
            monkeypatch.setattr(S, "_write_commit", orig)
            commit_snapshot(_df(spark, 100, 101), t, "append")
        return paths

    monkeypatch.setattr(S, "_write_commit", sneaky)
    src = spark.createDataFrame([(0, "z", -1.0)], schema=SCHEMA)
    with pytest.raises(S.SnapshotConflictError):
        merge_into(spark, t, src, ["id"])
    # the concurrent append won and the table is uncorrupted; the loser's
    # orphan files are invisible (no manifest references them)
    assert _ids(read_snapshot(spark, t)) == list(range(5)) + [100]
    # re-running the operation against the new current succeeds
    merge_into(spark, t, src, ["id"])
    got = {(r.id, r.val) for r in read_snapshot(spark, t).collect()}
    assert (0, -1.0) in got and len(got) == 6


def test_concurrent_thread_appends_all_survive(spark, tmp_path):
    import threading

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 2), t)
    errs = []
    # build the frames on the MAIN thread (createDataFrame churns Spark's
    # artifact state and is not the contract under test); only the commit
    # paths — writes, manifest CAS, rebase — run concurrently
    frames = {lo: _df(spark, lo, lo + 2) for lo in (10, 20, 30)}

    def work(lo):
        try:
            commit_snapshot(frames[lo], t, "append")
        except Exception as e:  # pragma: no cover - diagnostic
            errs.append(e)

    threads = [threading.Thread(target=work, args=(lo,)) for lo in (10, 20, 30)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    assert snapshot_ids(t) == [1, 2, 3, 4]  # linear history, no clobber
    assert _ids(read_snapshot(spark, t)) == [0, 1, 10, 11, 20, 21, 30, 31]


def test_reader_survives_missing_advisory_pointer(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 3), t)
    commit_snapshot(_df(spark, 3, 5), t, "append")
    os.remove(os.path.join(t, "metadata", "current"))
    assert _ids(read_snapshot(spark, t)) == list(range(5))
    commit_snapshot(_df(spark, 5, 6), t, "append")  # and commits still work
    assert _ids(read_snapshot(spark, t)) == list(range(6))


def test_vacuum_orphans(spark, tmp_path):
    """Files no manifest references (aborted commits / streaming batches)
    are deleted past the grace age; live files and their _SUCCESS markers
    survive; the table reads unchanged."""
    from mpower_feature_analysis_spark.sources.snapshots import vacuum_orphans

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 5), t)
    # orphan 1: an aborted streaming batch's staged file
    d1 = os.path.join(t, "data", "stream-dead")
    os.makedirs(d1)
    open(os.path.join(d1, "part-0.parquet"), "wb").write(b"junk")
    # orphan 2: a failed commit's directory (written, never published)
    d2 = os.path.join(t, "data", "s00099")
    os.makedirs(d2)
    open(os.path.join(d2, "part-0.parquet"), "wb").write(b"junk")

    # inside the grace window: nothing happens
    assert vacuum_orphans(t, older_than_s=3600) == []
    removed = vacuum_orphans(t, older_than_s=0)
    assert sorted(removed) == [
        "data/s00099/part-0.parquet",
        "data/stream-dead/part-0.parquet",
    ]
    assert not os.path.exists(d1) and not os.path.exists(d2)
    assert _ids(read_snapshot(spark, t)) == list(range(5))
    # idempotent; live commit dir (incl. any markers) untouched
    assert vacuum_orphans(t, older_than_s=0) == []
    assert _ids(read_snapshot(spark, t)) == list(range(5))


def test_pruning_parser_is_conservative(spark, tmp_path):
    """Round-6 review finding: OR/NOT/paren structure or ' AND ' inside a
    string literal must disable pruning ENTIRELY — extracting a conjunct
    from a non-top-level position could skip files that hold matching
    rows (and in overwrite_where, commit a lost update)."""
    from mpower_feature_analysis_spark.sources.snapshots import (
        _parse_conjuncts, plan_scan_files)

    assert _parse_conjuncts("a = 1 OR b = 2 AND c = 3") == []
    assert _parse_conjuncts("NOT (a = 1 AND b = 2)") == []
    assert _parse_conjuncts("(a = 1 AND b = 2) OR c = 3") == []
    assert _parse_conjuncts("grp = 'x AND id = 99 AND y'") == [
        ("grp", "=", "x AND id = 99 AND y")]
    assert _parse_conjuncts("grp = 'it''s'") == [("grp", "=", "it's")]
    assert _parse_conjuncts("android = 1") == [("android", "=", 1)]
    assert _parse_conjuncts("a = 'unterminated") == []

    # end-to-end: the pre-fix parser extracted (val = 99) from this OR
    # predicate and would prune file A (val range 0..2.25), dropping its
    # id=1 row from a committed DELETE's survivors
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)            # val 0.0..2.25
    commit_snapshot(_df(spark, 10, 20), t, "append")  # val 2.5..4.75
    cond = "id = 1 OR grp = 'a' AND val = 99"
    keep, skip = plan_scan_files(t, cond)
    assert skip == []
    got = read_snapshot(spark, t, where=cond)
    want = read_snapshot(spark, t).filter(cond)
    assert sorted(r.id for r in got.collect()) == sorted(
        r.id for r in want.collect())
    overwrite_where(spark, t, cond)
    assert 1 not in _ids(read_snapshot(spark, t))


def test_vacuum_keeps_freshly_claimed_commit_dir(spark, tmp_path):
    """The empty-dir sweep honors the grace window: an in-flight writer's
    atomically claimed (still empty) commit dir must survive a vacuum."""
    from mpower_feature_analysis_spark.sources.snapshots import vacuum_orphans

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 3), t)
    claimed = os.path.join(t, "data", "s00002")
    os.makedirs(claimed)  # _write_commit's claim, no files yet
    assert vacuum_orphans(t, older_than_s=3600) == []
    assert os.path.isdir(claimed)


def test_merge_into_rejects_mistyped_source(spark, tmp_path):
    from mpower_feature_analysis_spark.sources.snapshots import merge_into

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 5), t)
    bad = spark.createDataFrame(
        [(1, "a", 2)], schema="id bigint, grp string, val bigint"  # val: int
    )
    with pytest.raises(ValueError, match="mismatch vs"):
        merge_into(spark, t, bad, ["id"])
    bad2 = spark.createDataFrame([(1, "a", 1.0)],
                                 schema="id bigint, grp string, val double")
    with pytest.raises(ValueError, match="mismatch vs"):
        overwrite_where(spark, t, "id = 1",
                        bad2.withColumn("val", bad2.val.cast("long")))


def test_norm_path_decodes_uri_escapes(spark, tmp_path):
    """input_file_name() returns percent-encoded URIs: a table path with a
    space must still intersect the manifest's plain paths, or merge /
    overwrite silently rewrite nothing."""
    from mpower_feature_analysis_spark.sources.snapshots import (
        _norm_path, merge_into)

    assert _norm_path("file:///a/my%20tables/x.parquet") == \
        "/a/my tables/x.parquet"

    t = str(tmp_path / "my tables" / "tbl")
    commit_snapshot(_df(spark, 0, 6), t)
    src = spark.createDataFrame([(2, "z", -2.0)], schema=SCHEMA)
    merge_into(spark, t, src, ["id"])
    got = {(r.id, r.val) for r in read_snapshot(spark, t).collect()}
    assert (2, -2.0) in got and len(got) == 6  # replaced, not duplicated
    overwrite_where(spark, t, "id = 5")
    assert 5 not in _ids(read_snapshot(spark, t))


def test_expire_sweep_spares_inflight_commit_dir(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 4), t)
    commit_snapshot(_df(spark, 4, 6), t, "append")
    claimed = os.path.join(t, "data", "s00003")
    os.makedirs(os.path.join(claimed, "_temporary"))  # in-flight write
    expire_snapshots(t, keep_last=1)
    assert os.path.isdir(claimed)


def test_timestamp_time_travel_and_history(spark, tmp_path):
    """FOR TIMESTAMP AS OF: commit times recorded per manifest resolve the
    newest snapshot at-or-before a wall-clock time; snapshot_history is
    the DESCRIBE HISTORY analog."""
    import json as _json

    from mpower_feature_analysis_spark.sources.snapshots import (
        resolve_snapshot_at, snapshot_history)

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 3), t, properties={"source_snapshot_id": 9})
    commit_snapshot(_df(spark, 3, 5), t, "append")

    hist = snapshot_history(spark, t).orderBy("snapshot_id").collect()
    assert [(r.snapshot_id, r.parent, r.operation) for r in hist] == [
        (1, None, "append"), (2, 1, "append")]
    t1, t2 = hist[0].committed_at_ms, hist[1].committed_at_ms
    assert t1 is not None and t2 is not None and t1 <= t2
    assert _json.loads(hist[0].properties) == {"source_snapshot_id": 9}
    assert hist[1].total_rows == 5

    # resolve: before t1 -> error; at t1 -> 1 (unless same-ms commits);
    # far future -> current
    with pytest.raises(FileNotFoundError, match="predates"):
        resolve_snapshot_at(t, t1 - 1)
    assert resolve_snapshot_at(t, t2) == 2
    assert resolve_snapshot_at(t, t2 + 10_000) == 2
    got = read_snapshot(spark, t, as_of_time_ms=t2 + 10_000)
    assert _ids(got) == list(range(5))
    if t2 > t1:  # same-ms commits are possible on a fast box
        assert resolve_snapshot_at(t, t2 - 1) == 1
        assert _ids(read_snapshot(spark, t, as_of_time_ms=t2 - 1)) == [0, 1, 2]
    with pytest.raises(ValueError, match="not both"):
        read_snapshot(spark, t, as_of=1, as_of_time_ms=t1)


# ---------------------------------------------------------------------------
# keyed primitives against the left-semi / left-anti join reference, on both
# routes: the literal IN list (key set within KEY_LITERAL_MAX) and the join
# (KEY_LITERAL_MAX forced to 0, so every non-empty key set exceeds it)
# ---------------------------------------------------------------------------

@pytest.fixture(params=["literal", "join"])
def route(request, monkeypatch):
    from mpower_feature_analysis_spark.sources import snapshots

    if request.param == "join":
        monkeypatch.setattr(snapshots, "KEY_LITERAL_MAX", 0)
    return request.param


def _bag(df, cols):
    return Counter(tuple(r) for r in df.select(*cols).collect())


def _check_keyed_read(spark, t, keys, key_cols):
    """read_snapshot_for_keys == the snapshot left-semi-joined to the keys."""
    from mpower_feature_analysis_spark.sources.snapshots import (
        read_snapshot_for_keys)

    full = read_snapshot(spark, t)
    want = full.join(keys.select(*key_cols).distinct(), key_cols, "left_semi")
    got = read_snapshot_for_keys(spark, t, keys, key_cols)
    assert got.columns == full.columns
    assert _bag(got, full.columns) == _bag(want, full.columns)
    return got


def _check_merge(spark, t, source, key_cols, delete_keys=None):
    """merge_into == (previous snapshot left-anti-joined to the source and
    delete keys) plus every source row."""
    from mpower_feature_analysis_spark.sources.snapshots import merge_into

    before = read_snapshot(spark, t)
    cols = before.columns
    scope = source.select(*key_cols)
    if delete_keys is not None:
        scope = scope.unionByName(delete_keys.select(*key_cols))
    want = _bag(before.join(scope.distinct(), key_cols, "left_anti"), cols)
    want += _bag(source, cols)  # reference read before the merge commits
    merge_into(spark, t, source, key_cols, delete_keys=delete_keys)
    assert _bag(read_snapshot(spark, t), cols) == want


PAIR_SCHEMA = "k1 int, k2 string, v double"


def _pair_table(spark, t):
    rows = [(k1, k2, float(i)) for i, (k1, k2) in enumerate(
        [(1, "a"), (1, "a"), (1, None), (None, "a"), (2, "b"), (3, "c")])]
    commit_snapshot(spark.createDataFrame(rows[:4], PAIR_SCHEMA).coalesce(1), t)
    commit_snapshot(
        spark.createDataFrame(rows[4:], PAIR_SCHEMA).coalesce(1), t, "append")


def test_keyed_two_column_key_with_null_component(spark, tmp_path, route):
    t = str(tmp_path / "tbl")
    _pair_table(spark, t)
    keys = spark.createDataFrame(
        [(1, "a"), (1, None), (None, "a"), (3, "c"), (9, "z")],
        "k1 int, k2 string")
    got = _check_keyed_read(spark, t, keys, ["k1", "k2"])
    assert got.count() == 3  # (1, a) twice and (3, c); no NULL component
    src = spark.createDataFrame(
        [(1, "a", 10.0), (1, None, 11.0), (None, "a", 12.0)], PAIR_SCHEMA)
    _check_merge(spark, t, src, ["k1", "k2"])
    # a NULL-component target row is never matched, so it is never dropped
    assert read_snapshot(spark, t).filter("k1 IS NULL").count() == 2


def test_keyed_timestamp_ntz_key(spark, tmp_path, route):
    """Wall-clock keys match under a session zone other than the process
    zone, across a DST gap (02:00 on 2024-03-10 does not exist in
    America/Los_Angeles)."""
    import datetime

    t = str(tmp_path / "tbl")
    base = datetime.datetime(2024, 3, 10, 1, 59, 59, 999_998)
    ts = [base + datetime.timedelta(microseconds=i) for i in range(6)]
    schema = "ts timestamp_ntz, v bigint"
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        commit_snapshot(spark.createDataFrame(
            [(x, i) for i, x in enumerate(ts[:3])], schema).coalesce(1), t)
        commit_snapshot(spark.createDataFrame(
            [(x, i) for i, x in enumerate(ts[3:], 3)], schema).coalesce(1), t,
            "append")
        keys = spark.createDataFrame(
            [(ts[1],), (ts[4],), (None,)], "ts timestamp_ntz")
        got = _check_keyed_read(spark, t, keys, ["ts"])
        assert sorted(r.v for r in got.collect()) == [1, 4]
        src = spark.createDataFrame([(ts[4], 40), (ts[5], 50)], schema)
        _check_merge(spark, t, src, ["ts"])
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_keyed_timestamp_key_across_dst_fold(spark, tmp_path, route):
    """TimestampType keys are instants: in a process and session zone that
    repeats 01:00-02:00 on 2024-11-03 (America/Los_Angeles), a key in the
    second 01:30 matches that instant only, never the first 01:30 (a key
    round-tripped through a local Python datetime would land there)."""
    import time

    t = str(tmp_path / "tbl")
    first = 1_730_622_600_000_000  # 2024-11-03 01:30 PDT = 08:30 UTC
    micros = [first - 3_600_000_000, first, first + 3_600_000_000]
    rows = spark.createDataFrame(
        [(us, i) for i, us in enumerate(micros)], "us bigint, v bigint")
    tbl = rows.select(F.timestamp_micros("us").alias("ts"), "v")
    old_tz, old_session = os.environ.get("TZ"), spark.conf.get(
        "spark.sql.session.timeZone")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        commit_snapshot(tbl.coalesce(1), t)
        second = tbl.filter("v = 2").select("ts")  # 01:30 PST = 09:30 UTC
        got = _check_keyed_read(spark, t, second, ["ts"])
        assert [r.v for r in got.collect()] == [2]
        src = tbl.filter("v = 2").select("ts", F.lit(20).cast("bigint").alias("v"))
        _check_merge(spark, t, src, ["ts"])
        assert sorted(r.v for r in read_snapshot(spark, t).collect()) == [0, 1, 20]
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", old_session)


def test_keyed_empty_key_set(spark, tmp_path, route):
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)
    empty = spark.createDataFrame([], "id bigint")
    got = _check_keyed_read(spark, t, empty, ["id"])
    assert got.count() == 0
    # all-NULL keys are an empty key set too
    nulls = spark.createDataFrame([(None,)], "id bigint")
    assert _check_keyed_read(spark, t, nulls, ["id"]).count() == 0
    before = _files_of(t, 1)
    _check_merge(spark, t, spark.createDataFrame([], SCHEMA), ["id"],
                 delete_keys=empty)
    assert before <= _files_of(t, 2)  # every file carried by reference


def test_keyed_keys_outside_every_envelope(spark, tmp_path, route):
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)
    commit_snapshot(_df(spark, 10, 20), t, "append")
    # envelope disjoint from every file: nothing is planned
    keys = spark.createDataFrame([(500,), (600,)], "id bigint")
    assert _check_keyed_read(spark, t, keys, ["id"]).inputFiles() == []
    # envelope spans the files, but no key lies in any of them
    wide = spark.createDataFrame([(-5,), (500,)], "id bigint")
    assert _check_keyed_read(spark, t, wide, ["id"]).count() == 0
    src = spark.createDataFrame([(500, "x", 1.0)], SCHEMA)
    _check_merge(spark, t, src, ["id"], delete_keys=keys)
    assert _files_of(t, 2) <= _files_of(t, 3)  # nothing rewritten


def test_keyed_merge_source_key_absent_from_delete_keys(spark, tmp_path, route):
    """The delete scope is the union of the source keys and delete_keys:
    a replaced key that delete_keys does not name is still swapped.  A
    NULL-key row in a rewritten file is kept, a NULL-key source row
    inserted."""
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)
    null_row = spark.createDataFrame([(None, "n", 0.5)], SCHEMA)
    commit_snapshot(_df(spark, 10, 20).unionByName(null_row).coalesce(1), t,
                    "append")
    src = spark.createDataFrame(
        [(4, "r", -4.0), (4, "r", -5.0), (30, "n", 0.0), (None, "s", 9.0)],
        SCHEMA)
    dead = spark.createDataFrame([(12,), (15,)], "id bigint")
    _check_merge(spark, t, src, ["id"], delete_keys=dead)
    cur = read_snapshot(spark, t)
    assert cur.filter("id = 4").count() == 2
    assert cur.filter("id IS NULL").count() == 2


def test_keyed_decision_log(spark, tmp_path, caplog):
    """One DEBUG record per keyed read or merge, with the key and file
    counts the driver planned from."""
    import logging

    from mpower_feature_analysis_spark.sources.snapshots import (
        merge_into, read_snapshot_for_keys)

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)
    commit_snapshot(_df(spark, 10, 20), t, "append")
    caplog.set_level(logging.DEBUG, logger="mpower_feature_analysis_spark.snapshots")
    keys = spark.createDataFrame([(3,), (4,), (None,)], "id bigint")
    read_snapshot_for_keys(spark, t, keys, ["id"])
    merge_into(spark, t, spark.createDataFrame([(15, "m", 0.0)], SCHEMA), ["id"])
    recs = [r.decision for r in caplog.records
            if r.name == "mpower_feature_analysis_spark.snapshots"]
    assert [r["op"] for r in recs] == ["read_snapshot_for_keys", "merge_into"]
    assert {k: recs[0][k] for k in ("keys", "candidate_files", "files_pruned",
                                    "files_rewritten")} == {
        "keys": 2, "candidate_files": 1, "files_pruned": 1, "files_rewritten": 0}
    assert {k: recs[1][k] for k in ("keys", "candidate_files", "files_pruned",
                                    "files_rewritten")} == {
        "keys": 1, "candidate_files": 1, "files_pruned": 1, "files_rewritten": 1}
    assert recs[0]["literal"] and recs[1]["literal"]


def test_keyed_route_switches_above_literal_max(spark, tmp_path, caplog,
                                                monkeypatch):
    """A key set above KEY_LITERAL_MAX is matched by a join (and logged as
    such, with its size unknown); one within it by the literal IN list."""
    import logging

    from mpower_feature_analysis_spark.sources import snapshots

    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, 0, 10), t)
    caplog.set_level(logging.DEBUG, logger="mpower_feature_analysis_spark.snapshots")
    monkeypatch.setattr(snapshots, "KEY_LITERAL_MAX", 2)
    small = spark.createDataFrame([(3,), (4,)], "id bigint")
    big = spark.createDataFrame([(3,), (4,), (5,)], "id bigint")
    assert "Join" not in _plan_text(_check_keyed_read(spark, t, small, ["id"]))
    assert "Join" in _plan_text(_check_keyed_read(spark, t, big, ["id"]))
    recs = [r.decision for r in caplog.records
            if r.name == "mpower_feature_analysis_spark.snapshots"]
    assert [(r["keys"], r["literal"]) for r in recs] == [(2, True), (None, False)]


def _plan_text(df):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()
