"""CorpusPipeline end-to-end (round 11, VERDICT r10 item 8): the full
RDBMS → S3 → standing-index → dedup'd-corpus flow over embedded Derby
and the local object store — two incremental passes, near-dup flagging
of a later text version against the earlier registry, and crash-replay
convergence of BOTH planes (pointer ledger and index membership)."""

from __future__ import annotations

import datetime
import json
import os

import pytest

from migrate_blob_data_from_rdbms_to_amazon_s3_spark.api import CorpusPipeline
from migrate_blob_data_from_rdbms_to_amazon_s3_spark.sources.jdbc import JdbcSource

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"

# ≥ 3 whitespace tokens so every doc has word-3-gram shingles (the
# index excludes shingle-less docs by the NULL-banding guard)
BASE = [
    "alpha beta gamma delta epsilon row {i} content body",
    "spark scan join window agg row {i} partition shuffle",
    "table merge batch value key row {i} sort line hash",
]


def _texts(lo: int, hi: int) -> list[tuple[int, str, str, bytes]]:
    return [
        (i, f"id-{i:03d}", BASE[i % 3].format(i=i), bytes([i % 251] * (40 + i)))
        for i in range(lo, hi)
    ]


@pytest.fixture()
def pipe(spark, tmp_path):
    url = f"jdbc:derby:{tmp_path}/pipedb;create=true"

    def write(rows, mode="append"):
        spark.createDataFrame(
            rows, "seq long, order_id string, description string, order_blob binary"
        ).write.format("jdbc").options(
            url=url, dbtable="orders_cdc", driver=DERBY_DRIVER
        ).mode(mode).save()

    write(_texts(1, 9), mode="overwrite")
    source = JdbcSource(url=url, table="orders_cdc", driver=DERBY_DRIVER).load(spark)
    p = CorpusPipeline(
        spark,
        source,
        store_url=f"file://{tmp_path}/objstore",
        target_path=str(tmp_path / "target"),
        state_path=str(tmp_path / "state"),
        index_path=str(tmp_path / "index"),
        results_path=str(tmp_path / "neardup"),
        cursor_col="seq",
    )
    return p, write


def test_two_passes_flag_neardups_and_dedup_corpus(spark, pipe):
    p, write = pipe

    out1 = p.run_increment()
    assert out1["migration"]["committed"] and out1["migration"]["n_rows"] == 8
    # all 8 docs entered the index; nothing flagged (no earlier registry)
    assert out1["index"]["consistent"] and out1["index"]["n_docs_meta"] == 8
    assert p.flagged().count() == 0
    assert p.corpus().count() == 8

    # pass 2: two fresh docs + two near-dup re-emissions of pass-1 texts
    # (same key re-emitted at a later cursor, and a new key whose text
    # clones doc 2's) — both must flag against the EARLIER registry docs
    write(
        [
            (9, "id-009", "totally new unseen words about nine things here", b"x"),
            (10, "id-010", "completely different fresh content row ten unique", b"y"),
            (11, "id-002", BASE[2 % 3].format(i=2), b"z"),  # update: dup of seq 2
            (12, "id-012", BASE[1 % 3].format(i=1), b"w"),  # new key, dup of seq 1
        ]
    )
    out2 = p.run_increment()
    assert out2["migration"]["committed"] and out2["migration"]["n_rows"] == 4
    assert out2["index"]["consistent"] and out2["index"]["n_docs_meta"] == 12

    flagged = {r.batch_doc for r in p.flagged().collect()}
    assert flagged == {11, 12}
    # live view: 11 distinct keys (8 originals with id-002 updated in
    # place, + id-009/id-010/id-012); corpus drops the two flagged text
    # versions -> id-002's latest version and id-012 are held out
    stats = p.stats()
    assert stats["n_live"] == 11
    assert stats["n_corpus"] == 9
    assert stats["n_flagged_docs"] == 2
    corpus_keys = {r.order_id for r in p.corpus().collect()}
    assert "id-012" not in corpus_keys and "id-002" not in corpus_keys


def test_crash_replay_converges_both_planes(spark, pipe):
    p, write = pipe
    p.run_increment()
    write(
        [
            (9, "id-009", "totally new unseen words about nine things here", b"x"),
            (10, "id-010", BASE[0].format(i=3), b"y"),  # dup of seq 3
        ]
    )
    out = p.run_increment()
    assert out["migration"]["run_id"] == 1 and out["migration"]["committed"]
    before = {
        "flagged": sorted(
            (r.batch_doc, r.registry_doc) for r in p.flagged().collect()
        ),
        "corpus": sorted(r.order_id for r in p.corpus().collect()),
        "index": out["index"],
    }
    assert before["flagged"] == [(10, 3)]

    # crash BEFORE the ledger commit of run 1: drop its ledger entry —
    # the migration plane forgets the run; the index plane already holds
    # the docs (at-least-once). The replayed pass must converge, not
    # double-ingest or double-flag.
    os.unlink(os.path.join(p.state_path, "run-00000001.json"))

    replay = p.run_increment()
    assert replay["migration"]["run_id"] == 1 and replay["migration"]["committed"]
    after = {
        "flagged": sorted(
            (r.batch_doc, r.registry_doc) for r in p.flagged().collect()
        ),
        "corpus": sorted(r.order_id for r in p.corpus().collect()),
        "index": replay["index"],
    }
    assert after == before
    assert after["index"]["consistent"] and after["index"]["n_docs_meta"] == 10


def test_uncommitted_run_rows_never_enter_index(spark, pipe, tmp_path):
    """Pointer files of a run the ledger has NOT committed are dropped
    by the stream-static semijoin: simulate a crashed pass that staged
    pointers but never committed."""
    p, _ = pipe
    p.run_increment()
    n0 = p.stats()["index"]["n_docs_meta"]
    # fake a crashed pass: pointer files for run=1, no ledger entry
    spark.createDataFrame(
        [("id-099", "ghost text from an uncommitted crashed run", 99, 1, False)],
        "order_id string, description string, cursor long, run_id int, is_deleted boolean",
    ).write.mode("overwrite").parquet(f"{p.target_path}/pointers/run=1")
    audit = p.ingest_pending()
    assert audit["n_docs_meta"] == n0  # ghost row never ingested


def test_timestamp_cursor_raises_type_error_from_the_ledger_schema(spark, tmp_path):
    """Index doc ids are the pointer cursor, so a timestamp cursor fails
    loudly. The pointer schema comes from the ledger: once a pass has
    committed, ``ingest_pending`` raises before launching any Spark job;
    a ledger whose entries record no schema falls back to inferring it
    from the pointer files and raises the same."""
    url = f"jdbc:derby:{tmp_path}/tsdb;create=true"
    spark.createDataFrame(
        [(datetime.datetime(2024, 3, 1, 12, 0, i), f"id-{i}",
          BASE[i % 3].format(i=i), b"x") for i in range(1, 4)],
        "updated_at timestamp, order_id string, description string, "
        "order_blob binary",
    ).write.format("jdbc").options(
        url=url, dbtable="orders_ts", driver=DERBY_DRIVER
    ).mode("overwrite").save()
    state = str(tmp_path / "state")
    p = CorpusPipeline(
        spark,
        JdbcSource(url=url, table="orders_ts", driver=DERBY_DRIVER).load(spark),
        store_url=f"file://{tmp_path}/objstore",
        target_path=str(tmp_path / "target"),
        state_path=state,
        index_path=str(tmp_path / "index"),
        results_path=str(tmp_path / "neardup"),
        cursor_col="updated_at",
    )
    with pytest.raises(TypeError, match="integral cursor"):
        p.run_increment()

    sc = spark.sparkContext
    sc.setJobGroup("ingest-ts", "ingest-ts")
    try:
        with pytest.raises(TypeError, match="integral cursor"):
            p.ingest_pending()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("ingest-ts")) == []

    for name in os.listdir(state):
        with open(os.path.join(state, name)) as fh:
            entry = json.load(fh)
        del entry["schema"]
        with open(os.path.join(state, name), "w") as fh:
            json.dump(entry, fh)
    with pytest.raises(TypeError, match="integral cursor"):
        p.ingest_pending()
