"""Incremental RDBMS→S3 migration (operators/incremental_migration):
keyset-cursor passes against embedded Derby.

Contracts under test:
- the watermark filter reaches the RDBMS (PushedFilters on the JDBC scan)
  and a pass stages ONLY rows past the last committed cursor;
- objects + pointer rows land per pass; the ledger commits LAST;
- a key re-emitted at a later cursor ("update" in the append-only CDC
  shape) shadows its old pointer in read_current without rewriting the
  earlier run's files;
- a crash before the ledger commit (simulated by deleting the last
  ledger entry) makes the next pass redo the same increment and
  converge to the identical state — at-least-once + idempotent effects;
- an empty increment is a committed no-op (no ledger growth).
"""

from __future__ import annotations

import datetime
import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.blob_pipeline import (
    MAX_OBJECT_BYTES,
)
from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.incremental_migration import (
    compact_pointer_runs,
    current_watermark,
    migrate_increment,
    read_as_of,
    read_current,
)
from migrate_blob_data_from_rdbms_to_amazon_s3_spark.sources.jdbc import JdbcSource
from migrate_blob_data_from_rdbms_to_amazon_s3_spark.sources.object_store import (
    make_store,
)

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


@pytest.fixture()
def derby_cdc(spark, tmp_path):
    """Embedded Derby with an append-only CDC-shaped source table:
    (seq BIGINT monotone cursor, order_id, description, order_blob)."""
    url = f"jdbc:derby:{tmp_path}/cdcdb;create=true"

    def write(rows, mode="append"):
        spark.createDataFrame(
            rows, "seq long, order_id string, description string, order_blob binary"
        ).write.format("jdbc").options(
            url=url, dbtable="orders_cdc", driver=DERBY_DRIVER
        ).mode(mode).save()

    write(
        [(i, f"id-{i:03d}", f"desc {i}", bytes([i % 251] * (50 + i))) for i in range(1, 11)],
        mode="overwrite",
    )
    return url, write


def _src(url):
    return JdbcSource(url=url, table="orders_cdc", driver=DERBY_DRIVER)


def _paths(tmp_path):
    return (
        f"file://{tmp_path}/objstore",
        str(tmp_path / "target"),
        str(tmp_path / "state"),
    )


def test_incremental_passes_and_keep_latest(spark, derby_cdc, tmp_path):
    url, write = derby_cdc
    store_url, target, state = _paths(tmp_path)
    source = _src(url).load(spark)

    # pass 1: full backfill (no watermark yet)
    e1 = migrate_increment(
        spark, source, store_url=store_url, target_path=target,
        state_path=state, cursor_col="seq",
    )
    # the pointer run's schema as written (a read makes every field nullable)
    run_schema = T.StructType.fromJson(json.loads(e1.pop("schema")))
    on_disk = spark.read.parquet(f"{target}/pointers/run=0").schema
    assert [(f.name, f.dataType) for f in run_schema] == [
        (f.name, f.dataType) for f in on_disk]
    assert e1 == {"run_id": 0, "watermark": 10, "n_rows": 10,
                  "n_objects_written": 10, "n_objects_rejected": 0,
                  "n_objects_deleted": 0, "committed": True}
    assert current_watermark(state) == (10, 1)
    assert make_store(store_url).head("orders/id-003/image.png")

    # source grows: 5 inserts + 1 re-emit of id-005 at a later cursor
    write([(i, f"id-{i:03d}", f"desc {i}", bytes([i % 251] * 60)) for i in range(11, 16)])
    write([(16, "id-005", "desc 5 UPDATED", b"\x05" * 99)])

    # pass 2 must stage ONLY the 6 new rows, and the filter must be
    # pushed into Derby
    filtered = source.filter(F.col("seq") > F.lit(10))
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "seq" in plan.split("PushedFilters", 1)[1][:200]
    e2 = migrate_increment(
        spark, source, store_url=store_url, target_path=target,
        state_path=state, cursor_col="seq",
    )
    assert e2["n_rows"] == 6 and e2["watermark"] == 16 and e2["run_id"] == 1

    # keep-latest view: 15 distinct keys; the re-emitted key shows the
    # updated description from run 1, everything else its backfill row
    cur = read_current(spark, target)
    rows = {r["order_id"]: (r["description"], r["cursor"], r["run_id"])
            for r in cur.collect()}
    assert len(rows) == 15
    assert rows["id-005"] == ("desc 5 UPDATED", 16, 1)
    assert rows["id-004"] == ("desc 4", 4, 0)
    # the updated object was overwritten in place (keyed by PK)
    assert make_store(store_url).get("orders/id-005/image.png") == b"\x05" * 99

    # pass 3: nothing new -> uncommitted no-op, ledger unchanged
    e3 = migrate_increment(
        spark, source, store_url=store_url, target_path=target,
        state_path=state, cursor_col="seq",
    )
    assert e3 == {"run_id": 2, "watermark": 16, "n_rows": 0, "committed": False}
    assert current_watermark(state) == (16, 2)


def test_crash_before_ledger_commit_is_idempotent(spark, derby_cdc, tmp_path):
    url, write = derby_cdc
    store_url, target, state = _paths(tmp_path)
    source = _src(url).load(spark)
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")
    write([(i, f"id-{i:03d}", f"desc {i}", bytes([7] * 64)) for i in range(11, 14)])
    e2 = migrate_increment(spark, source, store_url=store_url, target_path=target,
                           state_path=state, cursor_col="seq")
    before = {tuple(r) for r in read_current(spark, target).collect()}

    # simulate a crash BETWEEN the data writes and the ledger commit:
    # delete run 1's ledger entry (its staging/pointer/object effects stay)
    os.unlink(os.path.join(state, f"run-{e2['run_id']:08d}.json"))
    assert current_watermark(state) == (10, 1)

    # the retry re-reads the same increment, overwrites the same run
    # dirs and object keys, and converges to the identical state
    e2b = migrate_increment(spark, source, store_url=store_url, target_path=target,
                            state_path=state, cursor_col="seq")
    assert e2b == e2
    after = {tuple(r) for r in read_current(spark, target).collect()}
    assert after == before
    assert current_watermark(state) == (13, 2)


def test_tombstones_cascade_s3_first(spark, tmp_path):
    """op_col='D' rows delete the object FIRST, then land a pointer
    tombstone; read_current hides the key; a replay of the same pass
    (crash simulation) converges — the tolerant delete finds the object
    already gone."""
    import os as _os

    from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.incremental_migration import (
        compact_pointer_runs,
    )

    url = f"jdbc:derby:{tmp_path}/tombdb;create=true"

    def write(rows, mode="append"):
        spark.createDataFrame(
            rows,
            "seq long, order_id string, description string, "
            "order_blob binary, op string",
        ).write.format("jdbc").options(
            url=url, dbtable="orders_cdc_ops", driver=DERBY_DRIVER
        ).mode(mode).save()

    write([(i, f"id-{i:03d}", f"desc {i}", bytes([i]) * 20, "I")
           for i in range(1, 6)], mode="overwrite")
    store_url, target, state = _paths(tmp_path)
    source = JdbcSource(url=url, table="orders_cdc_ops",
                        driver=DERBY_DRIVER).load(spark)
    kw = dict(store_url=store_url, target_path=target, state_path=state,
              cursor_col="seq", op_col="op")
    e1 = migrate_increment(spark, source, **kw)
    assert e1["n_objects_written"] == 5 and e1["n_objects_deleted"] == 0
    store = make_store(store_url)
    assert store.head("orders/id-002/image.png")

    # tombstone id-002, update id-003
    write([(6, "id-002", None, None, "D"),
           (7, "id-003", "desc 3 v2", b"v2" * 5, "U")])
    e2 = migrate_increment(spark, source, **kw)
    assert e2["n_rows"] == 2
    assert e2["n_objects_written"] == 1 and e2["n_objects_deleted"] == 1
    assert not store.head("orders/id-002/image.png")  # object gone FIRST
    cur = {r["order_id"]: r["description"]
           for r in read_current(spark, target).collect()}
    assert "id-002" not in cur and cur["id-003"] == "desc 3 v2"
    assert len(cur) == 4

    # crash-replay of pass 2: delete its ledger entry and rerun
    _os.unlink(_os.path.join(state, f"run-{e2['run_id']:08d}.json"))
    e2b = migrate_increment(spark, source, **kw)
    assert e2b["n_objects_deleted"] == 0  # already gone: tolerant, converged
    assert {r["order_id"] for r in read_current(spark, target).collect()} == set(cur)

    # compaction sweeps the tombstone history entirely
    entry = compact_pointer_runs(spark, target, state)
    assert entry["n_rows"] == 4
    assert {r["order_id"] for r in read_current(spark, target).collect()} == set(cur)


def test_compaction_preserves_view_and_drops_history(spark, derby_cdc, tmp_path):
    import os as _os

    from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.incremental_migration import (
        compact_pointer_runs,
    )

    url, write = derby_cdc
    store_url, target, state = _paths(tmp_path)
    source = _src(url).load(spark)
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")
    write([(11, "id-005", "desc 5 UPDATED", b"u" * 8),
           (12, "id-012", "desc 12", b"n" * 8)])
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")
    before = {tuple(r) for r in read_current(spark, target).collect()}
    assert len(_os.listdir(f"{target}/pointers")) == 2

    entry = compact_pointer_runs(spark, target, state)
    assert entry["committed"] and entry["n_rows"] == 11
    # one run dir left; the view is unchanged, lineage columns included
    runs = [d for d in _os.listdir(f"{target}/pointers") if d.startswith("run=")]
    assert runs == [f"run={entry['run_id']}"]
    after = {tuple(r) for r in read_current(spark, target).collect()}
    assert after == before
    # the watermark did not move, and the next pass still works
    wm, next_run = current_watermark(state)
    assert wm == 12 and next_run == entry["run_id"] + 1
    write([(13, "id-013", "desc 13", b"x" * 8)])
    e = migrate_increment(spark, source, store_url=store_url, target_path=target,
                          state_path=state, cursor_col="seq")
    assert e["n_rows"] == 1
    assert {r["order_id"] for r in read_current(spark, target).collect()} >= {"id-013"}


def test_compaction_survives_dirty_run_dir_collision(spark, derby_cdc, tmp_path):
    """A crashed pass leaves an UNCOMMITTED ``run=N`` dir where N is
    exactly the ledger's next run id. Compaction must not write its
    output there and then sweep it as 'old history' (that deleted the
    freshly compacted data while the ledger entry committed success):
    the output id is bumped past every dir on disk, only COMMITTED runs
    are consolidated, and the crashed pass's retry still converges."""
    import os as _os

    from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.incremental_migration import (
        compact_pointer_runs,
    )

    url, write = derby_cdc
    store_url, target, state = _paths(tmp_path)
    source = _src(url).load(spark)
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")
    write([(11, "id-011", "desc 11", b"a" * 8)])
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")
    committed_before = {
        tuple(r)
        for r in read_current(spark, target, state_path=state).collect()
    }

    # crashed pass: run 2's data landed, its ledger entry did not
    write([(12, "id-012", "desc 12", b"b" * 8)])
    e3 = migrate_increment(spark, source, store_url=store_url,
                           target_path=target, state_path=state,
                           cursor_col="seq")
    _os.unlink(_os.path.join(state, f"run-{e3['run_id']:08d}.json"))
    assert _os.path.isdir(f"{target}/pointers/run={e3['run_id']}")
    assert current_watermark(state) == (11, e3["run_id"])  # collision armed

    entry = compact_pointer_runs(spark, target, state)
    assert entry["committed"] and entry["n_rows"] == 11
    # the output id skipped the dirty dir's id — and the output survived
    assert entry["run_id"] == e3["run_id"] + 1
    runs = sorted(d for d in _os.listdir(f"{target}/pointers")
                  if d.startswith("run="))
    assert runs == [f"run={entry['run_id']}"]
    # the dirty increment was NOT promoted into the committed view
    after = {tuple(r)
             for r in read_current(spark, target, state_path=state).collect()}
    assert after == committed_before
    # the crashed pass retries from the unchanged watermark and converges
    e3b = migrate_increment(spark, source, store_url=store_url,
                            target_path=target, state_path=state,
                            cursor_col="seq")
    assert e3b["n_rows"] == 1 and e3b["committed"]
    keys = {r["order_id"]
            for r in read_current(spark, target, state_path=state).collect()}
    assert "id-012" in keys and len(keys) == 12


def test_compaction_commits_before_deleting_history(spark, derby_cdc,
                                                    tmp_path, monkeypatch):
    """Crash BETWEEN the compaction commit and the history sweep: the
    ledger already has the entry, the old dirs remain as byte-identical
    duplicates, the view is unchanged, and the next compaction sweeps
    the leftovers. (The reverse ordering — delete first — would leave
    the only copy of the consolidated history uncommitted.)"""
    import os as _os
    import shutil as _shutil

    from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.incremental_migration import (
        compact_pointer_runs,
    )

    url, write = derby_cdc
    store_url, target, state = _paths(tmp_path)
    source = _src(url).load(spark)
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")
    write([(11, "id-005", "desc 5 v2", b"u" * 8)])
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")
    before = {tuple(r)
              for r in read_current(spark, target, state_path=state).collect()}

    def boom(*a, **k):
        raise RuntimeError("simulated crash during history sweep")

    monkeypatch.setattr(_shutil, "rmtree", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_pointer_runs(spark, target, state)
    monkeypatch.undo()

    # the commit preceded the sweep: entry durable, duplicates benign
    entries = [json.load(open(_os.path.join(state, n)))
               for n in sorted(_os.listdir(state)) if n.startswith("run-")]
    assert any(e.get("compaction") and e["committed"] for e in entries)
    assert len([d for d in _os.listdir(f"{target}/pointers")
                if d.startswith("run=")]) == 3  # compacted + 2 leftovers
    mid = {tuple(r)
           for r in read_current(spark, target, state_path=state).collect()}
    assert mid == before
    # the next sweep removes the leftovers and preserves the view
    entry2 = compact_pointer_runs(spark, target, state)
    assert entry2["committed"] and entry2["n_rows"] == len(before)
    runs = [d for d in _os.listdir(f"{target}/pointers") if d.startswith("run=")]
    assert runs == [f"run={entry2['run_id']}"]
    assert {tuple(r) for r in
            read_current(spark, target, state_path=state).collect()} == before


def test_vacuum_sweeps_crash_leftovers_without_rewrite(spark, derby_cdc,
                                                       tmp_path, monkeypatch):
    """The cheap sweep: after a crash between the compaction commit and
    its history sweep, vacuum removes the shadowed duplicates by file
    ops alone — no Spark job, no data rewrite — and the view is
    unchanged. A dead uncommitted dir (crashed pass) goes too; the
    compaction run and committed post-compaction increments stay."""
    import os as _os
    import shutil as _shutil

    from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.incremental_migration import (
        compact_pointer_runs,
        vacuum_pointer_runs,
    )

    url, write = derby_cdc
    store_url, target, state = _paths(tmp_path)
    source = _src(url).load(spark)
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")
    write([(11, "id-005", "desc 5 v2", b"u" * 8)])
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")
    before = {tuple(r)
              for r in read_current(spark, target, state_path=state).collect()}

    def boom(*a, **k):
        raise RuntimeError("simulated crash during history sweep")

    monkeypatch.setattr(_shutil, "rmtree", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_pointer_runs(spark, target, state)
    monkeypatch.undo()

    # a post-compaction committed increment must survive the vacuum
    write([(12, "id-006", "desc 6", b"w" * 8)])
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")
    after_inc = {tuple(r)
                 for r in read_current(spark, target, state_path=state).collect()}
    # and a dead uncommitted dir (crashed pass leftover) must go
    _os.makedirs(f"{target}/pointers/run=99")

    stats = vacuum_pointer_runs(target, state)
    assert stats["removed_shadowed"] == 2     # the two pre-compaction runs
    assert stats["removed_uncommitted"] == 1  # run=99
    assert stats["kept"] == 2                 # compaction + new increment
    assert {tuple(r) for r in
            read_current(spark, target, state_path=state).collect()} == after_inc

    # idempotent: a second vacuum is a no-op
    again = vacuum_pointer_runs(target, state)
    assert again == {"removed_shadowed": 0, "removed_uncommitted": 0, "kept": 2}


def test_vacuum_without_compaction_keeps_committed_history(spark, derby_cdc,
                                                           tmp_path):
    """No committed compaction anchor: every committed run IS the live
    history and must stay; only dead uncommitted dirs are removable."""
    import os as _os

    from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.incremental_migration import (
        vacuum_pointer_runs,
    )

    url, write = derby_cdc
    store_url, target, state = _paths(tmp_path)
    source = _src(url).load(spark)
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")
    write([(11, "id-005", "desc 5 v2", b"u" * 8)])
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")
    before = {tuple(r)
              for r in read_current(spark, target, state_path=state).collect()}
    _os.makedirs(f"{target}/pointers/run=42")

    stats = vacuum_pointer_runs(target, state)
    assert stats == {"removed_shadowed": 0, "removed_uncommitted": 1, "kept": 2}
    assert {tuple(r) for r in
            read_current(spark, target, state_path=state).collect()} == before


def test_current_watermark_skips_none_entries(tmp_path):
    """A compaction entry can commit ``watermark: None`` (nothing
    migrated yet). Later real watermarks must not TypeError against it —
    that wedged every subsequent pass permanently."""
    import json as _json
    import os as _os

    state = str(tmp_path / "state")
    _os.makedirs(state)

    def put(run_id, watermark, **extra):
        with open(_os.path.join(state, f"run-{run_id:08d}.json"), "w") as fh:
            _json.dump({"run_id": run_id, "watermark": watermark,
                        "committed": True, **extra}, fh)

    put(0, None, compaction=True)
    assert current_watermark(state) == (None, 1)  # only-None: still None
    put(1, 42)
    put(2, None, compaction=True)
    assert current_watermark(state) == (42, 3)  # max skips the Nones


def test_read_current_committed_vs_uncommitted(spark, derby_cdc, tmp_path):
    """With ``state_path`` the view is READ COMMITTED: a run dir with no
    ledger entry (crashed pass) is invisible. Without it the documented
    read-uncommitted view scans every dir on disk."""
    url, write = derby_cdc
    store_url, target, state = _paths(tmp_path)
    source = _src(url).load(spark)
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")

    # fabricate a dirty run dir: pointer-shaped rows, no ledger entry
    spark.createDataFrame(
        [("id-dirty", "uncommitted", 999, 7, False)],
        "order_id string, description string, cursor long, "
        "run_id int, is_deleted boolean",
    ).write.parquet(f"{target}/pointers/run=7")

    committed = {r["order_id"] for r in
                 read_current(spark, target, state_path=state).collect()}
    assert "id-dirty" not in committed and len(committed) == 10
    uncommitted = {r["order_id"] for r in read_current(spark, target).collect()}
    assert "id-dirty" in uncommitted


def test_compaction_noop_when_nothing_committed(spark, tmp_path):
    """Pointer dirs from crashed passes only (empty ledger): compaction
    must not consolidate or delete anything — the increments belong to
    retries that will rewrite them."""
    import os as _os

    from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.incremental_migration import (
        compact_pointer_runs,
    )

    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    spark.createDataFrame(
        [("id-x", "crashed", 1, 0, False)],
        "order_id string, description string, cursor long, "
        "run_id int, is_deleted boolean",
    ).write.parquet(f"{target}/pointers/run=0")

    entry = compact_pointer_runs(spark, target, state)
    assert entry["committed"] is False and entry["n_rows"] == 0
    assert _os.path.isdir(f"{target}/pointers/run=0")  # untouched


def test_watermark_filter_prunes_source_scan(spark, derby_cdc, tmp_path):
    """The staged increment is exactly the rows past the watermark — the
    RDBMS never ships old rows (row-count proof on top of the plan
    assertion above)."""
    url, write = derby_cdc
    store_url, target, state = _paths(tmp_path)
    source = _src(url).load(spark)
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")
    write([(99, "id-099", "late", b"z" * 10)])
    e = migrate_increment(spark, source, store_url=store_url, target_path=target,
                          state_path=state, cursor_col="seq")
    assert e["n_rows"] == 1
    staged = spark.read.parquet(f"{target}/staging/run=1")
    assert [r["seq"] for r in staged.collect()] == [99]


def test_read_as_of_time_travel(spark, derby_cdc, tmp_path):
    """Version reads over the ledger: as-of run 0 reproduces the
    post-backfill view after later passes shadow it; bad versions raise
    typed errors; compaction moves the travel horizon forward and the
    compacted run stays a valid (lineage-preserving) travel point."""
    from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.incremental_migration import (
        CompactionHorizonError,
        compact_pointer_runs,
        read_as_of,
    )

    url, write = derby_cdc
    store_url, target, state = _paths(tmp_path)
    source = _src(url).load(spark)

    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")
    v0 = {r["order_id"]: (r["description"], r["cursor"])
          for r in read_current(spark, target, state_path=state).collect()}

    write([(16, "id-005", "desc 5 UPDATED", b"\x05" * 99)])
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")

    # current view moved; as-of run 0 still returns the backfill state
    cur = {r["order_id"]: (r["description"], r["cursor"])
           for r in read_current(spark, target, state_path=state).collect()}
    asof0 = {r["order_id"]: (r["description"], r["cursor"])
             for r in read_as_of(spark, target, 0, state_path=state).collect()}
    assert cur["id-005"] == ("desc 5 UPDATED", 16)
    assert asof0 == v0 and asof0["id-005"] == ("desc 5", 5)
    # as-of the latest run == read_current
    asof1 = {r["order_id"]: (r["description"], r["cursor"])
             for r in read_as_of(spark, target, 1, state_path=state).collect()}
    assert asof1 == cur

    # not-a-version and ledger-less reads are caller bugs, not empty views
    with pytest.raises(ValueError):
        read_as_of(spark, target, 7, state_path=state)
    with pytest.raises(ValueError):
        read_as_of(spark, target, 0)

    # compaction sweeps history: run 0/1 become unreconstructible, the
    # compacted run is the new horizon and equals the live view
    ce = compact_pointer_runs(spark, target, state)
    with pytest.raises(CompactionHorizonError):
        read_as_of(spark, target, 0, state_path=state)
    asofc = {r["order_id"]: (r["description"], r["cursor"])
             for r in read_as_of(spark, target, ce["run_id"],
                                 state_path=state).collect()}
    assert asofc == cur


def test_ledger_counts_rejected_oversize_blobs(spark, derby_cdc, tmp_path):
    """A blob over the 10 MB cap is rejected at externalization, and the
    pass's ledger entry says so next to the written count."""
    url, write = derby_cdc
    store_url, target, state = _paths(tmp_path)
    source = _src(url).load(spark)
    migrate_increment(spark, source, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="seq")
    write([(11, "id-011", "fits", b"\x0b" * 64),
           (12, "id-012", "over the cap", b"\x0c" * (MAX_OBJECT_BYTES + 1))])
    e = migrate_increment(spark, source, store_url=store_url, target_path=target,
                          state_path=state, cursor_col="seq")
    assert (e["n_rows"], e["n_objects_written"], e["n_objects_rejected"]) == (2, 1, 1)
    with open(os.path.join(state, "run-00000001.json")) as fh:
        assert json.load(fh)["n_objects_rejected"] == 1
    assert not make_store(store_url).head("orders/id-012/image.png")


def _derby_ts(spark, tmp_path):
    """Embedded Derby source keyed by a TIMESTAMP cursor (``updated_at``)."""
    url = f"jdbc:derby:{tmp_path}/tsdb;create=true"

    def write(rows, mode="append"):
        spark.createDataFrame(
            rows,
            "updated_at timestamp, order_id string, description string, "
            "order_blob binary",
        ).write.format("jdbc").options(
            url=url, dbtable="orders_ts", driver=DERBY_DRIVER
        ).mode(mode).save()

    source = JdbcSource(url=url, table="orders_ts", driver=DERBY_DRIVER)
    return source, write


def _ts(second, micro=0):
    return datetime.datetime(2024, 3, 1, 12, 0, second, micro)


def _session_iso(local):
    """The watermark string of a driver-local datetime: its wall clock in
    the session time zone (UTC), microseconds always shown."""
    return local.astimezone(datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")


@pytest.fixture(params=["UTC", "America/New_York"])
def driver_tz(request, monkeypatch):
    """Run the driver's Python side in ``param`` while the Spark session
    stays on UTC: collected datetimes then differ from the session's
    wall clock."""
    monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


def test_timestamp_cursor_watermark_round_trips(spark, tmp_path, driver_tz):
    """A timestamp cursor commits its watermark as an ISO string in the
    session time zone whatever the driver's zone, and the next pass
    stages only rows strictly past it (a late row stamped before the
    watermark stays behind)."""
    source, write = _derby_ts(spark, tmp_path)
    write([(_ts(s, 250000 * (s == 3)), f"id-{s}", f"desc {s}", bytes([s]) * 8)
           for s in (1, 2, 3)], mode="overwrite")
    store_url, target, state = _paths(tmp_path)
    kw = dict(store_url=store_url, target_path=target, state_path=state,
              cursor_col="updated_at")
    df = source.load(spark)

    e1 = migrate_increment(spark, df, **kw)
    assert e1["n_rows"] == 3
    assert e1["watermark"] == _session_iso(_ts(3, 250000))
    with open(os.path.join(state, "run-00000000.json")) as fh:
        wm = json.load(fh)["watermark"]
    assert wm == {"UTC": "2024-03-01T12:00:03.250000",
                  "America/New_York": "2024-03-01T17:00:03.250000"}[driver_tz]

    write([(_ts(3), "id-late", "before the watermark", b"l"),
           (_ts(3, 250001), "id-4", "desc 4", b"4"),
           (_ts(9), "id-2", "desc 2 v2", b"2" * 3)])
    e2 = migrate_increment(spark, df, **kw)
    assert (e2["n_rows"], e2["watermark"]) == (2, _session_iso(_ts(9)))
    staged = spark.read.parquet(f"{target}/staging/run=1")
    assert sorted(r["order_id"] for r in staged.collect()) == ["id-2", "id-4"]
    cur = {r["order_id"]: r["description"] for r in read_current(spark, target).collect()}
    assert cur == {"id-1": "desc 1", "id-2": "desc 2 v2", "id-3": "desc 3",
                   "id-4": "desc 4"}


def test_empty_increment_commits_nothing_and_touches_no_store(spark, tmp_path):
    """An empty increment returns the uncommitted no-op marker, leaves the
    ledger byte-identical, and returns before any object I/O: the pass
    runs with a store URL that every object request would reject."""
    source, write = _derby_ts(spark, tmp_path)
    write([(_ts(1), "id-1", "desc 1", b"1")], mode="overwrite")
    store_url, target, state = _paths(tmp_path)
    df = source.load(spark)
    migrate_increment(spark, df, store_url=store_url, target_path=target,
                      state_path=state, cursor_col="updated_at")

    def ledger():
        return {n: open(os.path.join(state, n)).read() for n in os.listdir(state)}

    before = ledger()
    e = migrate_increment(spark, df, store_url="unsupported://no-store",
                          target_path=target, state_path=state,
                          cursor_col="updated_at")
    assert e == {"run_id": 1, "watermark": _session_iso(_ts(1)), "n_rows": 0,
                 "committed": False}
    assert ledger() == before
    assert current_watermark(state) == (_session_iso(_ts(1)), 1)


def _versions(n_keys=8, n_versions=3, size=32 * 1024):
    """Key-major CDC rows ``(seq, order_id, description, order_blob, op)``:
    an insert and ``n_versions - 1`` updates per key, each version with
    its own blob."""
    return [(k * n_versions + v + 1, f"id-{k}", f"v{v}",
             bytes([k * n_versions + v]) * size, "U" if v else "I")
            for k in range(n_keys) for v in range(n_versions)]


def test_versions_of_one_key_in_one_pass_leave_the_newest_object(spark, tmp_path):
    """One increment holds an insert and two updates of every key, and a
    later one tombstones a key twice. Each key's object must be its
    newest blob (the version read_current shows), and the twice
    tombstoned key counts one deleted object."""
    url = f"jdbc:derby:{tmp_path}/versdb;create=true"

    def write(rows, mode="append"):
        spark.createDataFrame(
            rows, "seq long, order_id string, description string, "
            "order_blob binary, op string",
        ).write.format("jdbc").options(
            url=url, dbtable="orders_versions", driver=DERBY_DRIVER
        ).mode(mode).save()

    rows = _versions()
    write(rows, mode="overwrite")
    store_url, target, state = _paths(tmp_path)
    source = JdbcSource(url=url, table="orders_versions",
                        driver=DERBY_DRIVER).load(spark)
    kw = dict(store_url=store_url, target_path=target, state_path=state,
              cursor_col="seq", op_col="op")
    e1 = migrate_increment(spark, source, **kw)
    assert (e1["n_rows"], e1["n_objects_written"]) == (24, 24)
    newest = {oid: (desc, blob) for _, oid, desc, blob, _ in rows}
    store = make_store(store_url)
    for oid, (_, blob) in newest.items():
        assert store.get(f"orders/{oid}/image.png") == blob
    cur = {r["order_id"]: r["description"] for r in read_current(spark, target).collect()}
    assert cur == {oid: desc for oid, (desc, _) in newest.items()}

    write([(25, "id-0", None, None, "D"), (26, "id-0", None, None, "D")])
    e2 = migrate_increment(spark, source, **kw)
    assert e2["n_objects_deleted"] == 1
    assert not store.head("orders/id-0/image.png")


def _derby_ops(spark, tmp_path):
    """Embedded Derby CDC table with an op marker column; ``write`` keeps
    the given row order (one partition), which is the source order."""
    url = f"jdbc:derby:{tmp_path}/opsdb;create=true"

    def write(rows, mode="append"):
        spark.createDataFrame(
            rows, "seq long, order_id string, description string, "
            "order_blob binary, op string",
        ).coalesce(1).write.format("jdbc").options(
            url=url, dbtable="orders_ops", driver=DERBY_DRIVER
        ).mode(mode).save()

    source = JdbcSource(url=url, table="orders_ops", driver=DERBY_DRIVER)
    store_url, target, state = _paths(tmp_path)
    kw = dict(store_url=store_url, target_path=target, state_path=state,
              cursor_col="seq", op_col="op")
    return source, write, kw


def test_reinsert_staged_before_its_tombstone_keeps_the_object(spark, tmp_path):
    """One increment holds a re-insert of ``a`` and, after it in source
    order, a tombstone of ``a`` with the lower cursor. Object requests
    follow cursor order, so ``a`` ends live at the re-insert with its
    object stored, not deleted by the older tombstone."""
    source, write, kw = _derby_ops(spark, tmp_path)
    write([(1, "a", "v1", b"1" * 16, "I")], mode="overwrite")
    migrate_increment(spark, source.load(spark), **kw)
    write([(3, "a", "v2", b"2" * 16, "I"), (2, "a", None, None, "D")])
    e = migrate_increment(spark, source.load(spark), **kw)
    assert (e["n_rows"], e["n_objects_written"], e["n_objects_deleted"]) == (2, 1, 1)
    assert make_store(kw["store_url"]).get("orders/a/image.png") == b"2" * 16
    cur = read_current(spark, kw["target_path"], state_path=kw["state_path"])
    assert {r["order_id"]: r["description"] for r in cur.collect()} == {"a": "v2"}


def test_null_op_row_is_live_with_its_object(spark, tmp_path):
    """A CDC row whose op is NULL is not a tombstone (only 'D' is): its
    object is written and counted, and its pointer row is live."""
    source, write, kw = _derby_ops(spark, tmp_path)
    write([(1, "a", "no op", b"a" * 8, None), (2, "b", "insert", b"b" * 8, "I")],
          mode="overwrite")
    e = migrate_increment(spark, source.load(spark), **kw)
    assert (e["n_objects_written"], e["n_objects_deleted"]) == (2, 0)
    assert make_store(kw["store_url"]).get("orders/a/image.png") == b"a" * 8
    run = spark.read.parquet(f"{kw['target_path']}/pointers/run=0")
    assert {r["order_id"]: r["is_deleted"] for r in run.collect()} == {
        "a": False, "b": False}


def _job_ids(spark, group: str, fn):
    """Spark job ids that ``fn()`` launches, run in job group ``group``
    (counted the way the benchmark's tracer counts them)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_cdc_pass_is_at_most_two_spark_jobs(spark, tmp_path):
    """A CDC pass with live rows and tombstones is the staging write and
    the one object pass that writes the pointer run: the staged copy is
    read back with the increment's schema, so no inference job runs."""
    source, write, kw = _derby_ops(spark, tmp_path)
    write([(i, f"id-{i}", f"desc {i}", bytes([i]) * 32, "I") for i in range(1, 6)],
          mode="overwrite")
    migrate_increment(spark, source.load(spark), **kw)
    write([(6, "id-2", None, None, "D"), (7, "id-3", "v2", b"v2", "U"),
           (8, "id-9", "new", b"new", "I")])
    df = source.load(spark)
    out = {}
    jobs = _job_ids(spark, f"cdc-pass-{tmp_path.name}",
                    lambda: out.update(migrate_increment(spark, df, **kw)))
    assert (out["n_rows"], out["n_objects_written"], out["n_objects_deleted"]) == (3, 2, 1)
    assert 1 <= len(jobs) <= 2


def _two_passes_and_a_compaction(spark, tmp_path):
    """A Derby CDC source migrated in two passes (the second updates one
    key and tombstones another), then compacted, then one more pass."""
    source, write, kw = _derby_ops(spark, tmp_path)
    write([(i, f"id-{i}", f"desc {i}", bytes([i]) * 16, "I") for i in range(1, 6)],
          mode="overwrite")
    migrate_increment(spark, source.load(spark), **kw)
    write([(6, "id-2", None, None, "D"), (7, "id-3", "v2", b"v2", "U")])
    migrate_increment(spark, source.load(spark), **kw)
    compact_pointer_runs(spark, kw["target_path"], kw["state_path"])
    write([(8, "id-9", "new", b"new", "I")])
    migrate_increment(spark, source.load(spark), **kw)
    return kw["target_path"], kw["state_path"]


def _ledger(state):
    entries = []
    for name in sorted(os.listdir(state)):
        if name.startswith("run-"):
            with open(os.path.join(state, name)) as fh:
                entries.append(json.load(fh))
    return entries


def _views(spark, target, state):
    """read_current, and read_as_of of the compaction and the pass after
    it (the versions still reconstructible)."""
    views = {"current": read_current(spark, target, state_path=state)}
    for e in _ledger(state)[-2:]:
        views[e["run_id"]] = read_as_of(spark, target, e["run_id"], state_path=state)
    return views


def test_committed_reads_launch_no_job_before_the_action(spark, tmp_path):
    """Every committed ledger entry records its pointer run's schema, so
    building read_current or read_as_of over it reads no file footer:
    no Spark job runs until the caller's action."""
    target, state = _two_passes_and_a_compaction(spark, tmp_path)
    assert all("schema" in e for e in _ledger(state))
    views = {}
    jobs = _job_ids(spark, f"views-{tmp_path.name}",
                    lambda: views.update(_views(spark, target, state)))
    assert jobs == []
    assert {r["order_id"] for r in views["current"].collect()} == {
        "id-1", "id-3", "id-4", "id-5", "id-9"}


def test_ledger_without_schemas_reads_identical_rows(spark, tmp_path):
    """A ledger written before entries carried a schema: every view
    infers it from the files and returns the same rows and schema."""
    target, state = _two_passes_and_a_compaction(spark, tmp_path)

    def snapshot():
        return {k: (v.schema, sorted(v.collect()))
                for k, v in _views(spark, target, state).items()}

    recorded = snapshot()
    for entry in _ledger(state):
        del entry["schema"]
        with open(os.path.join(state, f"run-{entry['run_id']:08d}.json"), "w") as fh:
            json.dump(entry, fh)
    assert snapshot() == recorded
    ce = compact_pointer_runs(spark, target, state)
    assert T.StructType.fromJson(json.loads(ce["schema"])) == recorded["current"][0]
    cur = read_current(spark, target, state_path=state)
    assert (cur.schema, sorted(cur.collect())) == recorded["current"]


def test_char_varchar_source_reads_back_as_inference_does(spark, tmp_path):
    """Derby CHAR/VARCHAR columns carry char/varchar metadata into the
    increment's and the pointer run's schema; the reads given those
    schemas return the rows and schema that inference returns."""
    url = f"jdbc:derby:{tmp_path}/vcdb;create=true"
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        st.execute("CREATE TABLE orders_vc (seq BIGINT, order_id CHAR(8), "
                   "description VARCHAR(32), order_blob BLOB)")
        st.execute("INSERT INTO orders_vc VALUES (1, 'a', 'one', CAST(X'01' AS BLOB)), "
                   "(2, 'bb', NULL, CAST(X'0202' AS BLOB))")
    finally:
        conn.close()
    store_url, target, state = _paths(tmp_path)
    source = JdbcSource(url=url, table="orders_vc", driver=DERBY_DRIVER).load(spark)
    e = migrate_increment(spark, source, store_url=store_url, target_path=target,
                          state_path=state, cursor_col="seq")
    assert (e["n_rows"], e["n_objects_written"]) == (2, 2)
    assert "varchar(32)" in e["schema"]
    given = read_current(spark, target, state_path=state)
    inferred = read_current(spark, target)  # READ UNCOMMITTED infers
    assert given.schema == inferred.schema
    assert sorted(given.collect()) == sorted(inferred.collect())
    assert sorted((r[0], r[1]) for r in given.collect()) == [("a       ", "one"),
                                                            ("bb      ", None)]
