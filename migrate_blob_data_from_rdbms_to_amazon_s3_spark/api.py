"""OrderStore — the reference's REST surface as one Python facade.

The reference exposes its engine through five Lambda routes
(`lambda_fns/order.js`: GET /orders, GET /order/{id}, POST /order,
PUT /order/{id}, DELETE /order/{id}, plus the blob variant in
`order_rdbms_blob.js`). A user switching from the reference programs
against THIS class: each method maps 1:1 onto a route and composes the
same operators the driver contract exercises (SURVEY §2 letters cited
per method). State is a Parquet table at ``path`` — the engine's
immutable-storage analog of the reference's Aurora table — with every
mutation an atomic rewrite (``operators.mutation.rewrite``; at 100 TB
the partition-scoped ``rewrite_partitions`` or a table format takes
over, see mutation.py).

    store = OrderStore(spark, path, pk="order_id")
    store.create(rows_df)               # POST /order        (A6)
    store.list(limit="3", offset="10")  # GET /orders        (A1-A3, C2, E1-E2)
    store.get("o-17")                   # GET /order/{id}    (A4)
    store.get_blob("o-17")              # GET blob variant   (A5, F2)
    store.update(updates_df)            # PUT /order/{id}    (A7/A8)
    store.delete("o-17")                # DELETE /order/{id} (A9)

Single-writer discipline per table path (documented in mutation.rewrite);
the class itself is driver-side orchestration only — every data move is a
Spark plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import lookup, mutation, pagination


class OrderStore:
    def __init__(self, spark: SparkSession, path: str, pk: str = "order_id"):
        self.spark = spark
        self.path = path
        self.pk = pk
        mutation.recover(path)  # WAL-replay analog at startup

    # -- reads ---------------------------------------------------------------
    def _table(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def list(
        self,
        limit: int | str | None = None,
        offset: int | str | None = None,
        columns: list[str] | None = None,
    ) -> dict:
        """GET /orders — count → clamp → ordered page → envelope
        (order.js:259-299 semantics, including the `pages` quirk)."""
        df = self._table()
        if columns:
            df = df.select(*columns)
        return pagination.page_envelope(df, self.pk, limit, offset)

    def list_after(self, after, limit: int, columns: list[str] | None = None) -> DataFrame:
        """Keyset variant of GET /orders — the 100 TB pagination path."""
        return pagination.keyset_page(self._table(), self.pk, limit, after, columns)

    def get(self, key, columns: list[str] | None = None) -> dict | None:
        """GET /order/{id} — point lookup; None for absent keys (the
        reference's 404 taxonomy)."""
        rows = lookup.point_lookup(self._table(), self.pk, key, columns).collect()
        return rows[0].asDict() if rows else None

    def get_blob(self, key, blob_col: str = "order_blob") -> bytes | None:
        """Blob route — fetch ONE row's binary column; every other read
        path never touches it (README.md:16)."""
        rows = lookup.blob_lookup(self._table(), self.pk, key, blob_col).collect()
        return rows[0][blob_col] if rows else None

    # -- writes --------------------------------------------------------------
    def create(self, rows: DataFrame) -> None:
        """POST /order — PK-safe append (existing keys win, duplicate
        inserts are no-ops like the reference's PK violation path)."""
        mutation.rewrite(
            mutation.insert_rows(self._table(), rows, self.pk), self.path
        )

    def update(self, updates: DataFrame) -> None:
        """PUT /order/{id} — keyed column update (non-blob or blob)."""
        mutation.rewrite(
            mutation.update_rows(self._table(), updates, self.pk), self.path
        )

    def upsert(self, rows: DataFrame) -> None:
        """MERGE-style create-or-update."""
        mutation.rewrite(
            mutation.upsert_rows(self._table(), rows, self.pk), self.path
        )

    def delete(self, key) -> None:
        """DELETE /order/{id} — idempotent keyed delete (absent key is a
        no-op, test/order.test.js:433-445)."""
        keys = self.spark.createDataFrame([(key,)], f"{self.pk} string") \
            if isinstance(key, str) else \
            self.spark.createDataFrame([(key,)], f"{self.pk} long")
        mutation.rewrite(
            mutation.delete_rows(self._table(), keys, self.pk), self.path
        )

    def count(self) -> int:
        """GET /orders count half (A1)."""
        return self._table().count()


class CorpusPipeline:
    """The north-star flow as ONE facade: RDBMS → S3 objects + pointer
    ledger → standing MinHash text index → dedup'd corpus.

    Composes, in the order a production deployment runs them:

    1. **Migrate** — ``operators.incremental_migration.migrate_increment``:
       a watermark-pushed JDBC pass externalizes blobs to the object
       store, writes a pointer run, and commits the flock-leased ledger
       LAST (crash-safe; a replayed pass converges).
    2. **Ingest-gate** — the committed pointer runs feed
       ``streaming.ingest_gate.text_ingest_gate`` as a FILE STREAM over
       ``{target}/pointers``: Structured Streaming's source tracking
       hands the gate exactly the files it has not seen, a stream-static
       semijoin drops rows of runs the ledger has not committed (an
       uncommitted run's files are consumed-and-dropped; the replayed
       pass re-stages them under NEW part filenames, so they re-enter
       once committed), and the gate probes the standing index for
       near-dup evidence against the corpus ingested BEFORE each batch,
       then appends only the doc_ids the index does not hold.
    3. **Corpus** — ``read_current``'s keep-latest live view anti-joined
       with the flagged near-dups (first-seen wins, matching the gate's
       probe-before-append order).

    The index document id is the CURSOR value (monotone, unique per row
    version), so re-emitted keys register their new text as a new
    registry doc while the live view keeps only the latest pointer.
    Batch-INTERNAL near-dups are by design not flagged by the gate (its
    replay-stability rule excludes the whole batch from the registry
    side); run `dedup_incremental_lsh`-style in-batch screening upstream
    if a single increment can contain dups of itself.

    Every data move is a Spark plan; this class is driver-side
    orchestration only, same as OrderStore.
    """

    #: admission threshold on the MinHash Jaccard estimate — a batch doc
    #: at/above it against any earlier registry doc is excluded from the
    #: dedup'd corpus (kept in the index: it IS the evidence).
    NEARDUP_THRESHOLD = 0.7

    def __init__(
        self,
        spark: SparkSession,
        source: DataFrame,
        *,
        store_url: str,
        target_path: str,
        state_path: str,
        index_path: str,
        results_path: str,
        cursor_col: str,
        pk: str = "order_id",
        blob_col: str = "order_blob",
        op_col: str | None = None,
        text_col: str = "description",
    ):
        self.spark = spark
        self.source = source
        self.store_url = store_url
        self.target_path = target_path
        self.state_path = state_path
        self.index_path = index_path
        self.results_path = results_path
        self.cursor_col = cursor_col
        self.pk = pk
        self.blob_col = blob_col
        self.op_col = op_col
        self.text_col = text_col

    # -- orchestration --------------------------------------------------------
    def run_increment(self) -> dict:
        """One full hop: migrate the next increment, then drain every
        committed-but-unindexed pointer file through the ingest gate.
        Returns {"migration": <ledger entry>, "index": <freshness>}."""
        from .operators.incremental_migration import migrate_increment

        entry = migrate_increment(
            self.spark,
            self.source,
            store_url=self.store_url,
            target_path=self.target_path,
            state_path=self.state_path,
            cursor_col=self.cursor_col,
            pk=self.pk,
            blob_col=self.blob_col,
            op_col=self.op_col,
        )
        audit = self.ingest_pending()
        return {"migration": entry, "index": audit}

    def _ensure_index(self) -> None:
        """Build an empty text index when ``index_path`` (driver-local)
        holds none; an index this engine cannot read raises ValueError."""
        from .operators.text_index import build_text_index, read_meta

        try:
            read_meta(self.spark, self.index_path)
        except FileNotFoundError:
            empty = self.spark.createDataFrame([], "doc_id long, text string")
            build_text_index(empty, self.index_path)

    def _committed_run_ids(self):
        from .operators.incremental_migration import _ledger_entries

        return [
            e["run_id"] for e in _ledger_entries(self.state_path) if e["committed"]
        ]

    def ingest_pending(self) -> dict:
        """Drain not-yet-ingested pointer files through the text gate
        (availableNow) and return the index freshness audit. Idempotent:
        nothing pending is a no-op, a crashed drain replays its batch
        idempotently (gate docstring)."""
        import os

        from .operators.text_index import freshness_audit
        from .streaming.ingest_gate import text_ingest_gate

        self._ensure_index()
        if not os.path.isdir(f"{self.target_path}/pointers"):
            return freshness_audit(self.spark, self.index_path)
        committed = self._committed_run_ids()
        runs = self.spark.createDataFrame(
            [(int(r),) for r in committed] or [], "run_id int"
        )
        # Stream schema is the pointer runs' own (r11 advice: the facade
        # must not hard-code one pipeline's column layout — the text
        # column is configurable and the `cursor` lineage column's TYPE
        # follows the source's cursor_col, e.g. a timestamp watermark):
        # the one the ledger records for the committed runs, inferred
        # from the files only for a ledger whose entries record none.
        # The index doc id must be integral — fail loudly otherwise
        # instead of a deep gate error.
        from pyspark.sql.types import IntegerType, LongType

        from .operators.incremental_migration import _ledger_entries, _run_schema

        schema = _run_schema(_ledger_entries(self.state_path), set(committed))
        if schema is None:
            schema = self.spark.read.parquet(f"{self.target_path}/pointers").schema
        if not isinstance(schema["cursor"].dataType, (IntegerType, LongType)):
            raise TypeError(
                f"CorpusPipeline.ingest_pending needs an integral cursor "
                f"for index doc ids; the pointer lineage cursor (from "
                f"{self.cursor_col!r}) is "
                f"{schema['cursor'].dataType.simpleString()} (map a "
                f"timestamp cursor to a monotone long upstream)"
            )
        stream = self.spark.readStream.schema(schema).parquet(
            f"{self.target_path}/pointers"
        )
        docs = (
            stream.join(F.broadcast(runs), "run_id")  # stream-static semijoin
            .filter(~F.col("is_deleted"))
            .select(
                F.col("cursor").cast("long").alias("doc_id"),
                F.col(self.text_col).alias("text"),
            )
        )
        q = text_ingest_gate(docs, self.index_path, self.results_path)
        q.awaitTermination()
        return freshness_audit(self.spark, self.index_path)

    # -- reads ----------------------------------------------------------------
    def flagged(self) -> DataFrame:
        """Distinct (batch_doc, registry_doc, est_jaccard) near-dup
        evidence at/above the admission threshold (distinct because a
        crash-replayed run can land the same evidence under two
        batch_ids). Only a MISSING results dir (the gate never ran)
        reads as empty; any other read error propagates — a corrupt or
        unreadable evidence store must never silently yield a
        dup-contaminated corpus (r11 advice). The explicit schema
        covers the zero-evidence case: a batch with no near-dups writes
        a partition dir with no part files, which schema inference
        would reject."""
        import os

        if not os.path.isdir(self.results_path):
            return self.spark.createDataFrame(
                [], "batch_doc long, registry_doc long, est_jaccard double"
            )
        flags = self.spark.read.schema(
            "batch_doc long, registry_doc long, est_jaccard double, batch_id bigint"
        ).parquet(self.results_path)
        return (
            flags.filter(F.col("est_jaccard") >= self.NEARDUP_THRESHOLD)
            .select("batch_doc", "registry_doc", "est_jaccard")
            .distinct()
        )

    def corpus(self) -> DataFrame:
        """The dedup'd live corpus: keep-latest pointer view minus rows
        whose text version was flagged against an EARLIER registry doc."""
        from .operators.incremental_migration import read_current

        live = read_current(
            self.spark, self.target_path, pk=self.pk, state_path=self.state_path
        )
        dupes = self.flagged().select(F.col("batch_doc").alias("cursor"))
        return live.join(dupes, "cursor", "left_anti")

    def stats(self) -> dict:
        """One-call scorecard: ledger watermark, live keys, corpus size
        after dedup, flagged count, index freshness."""
        from .operators.incremental_migration import (
            current_watermark,
            read_current,
        )
        from .operators.text_index import freshness_audit

        watermark, _next_run = current_watermark(self.state_path)
        return {
            "watermark": watermark,
            "n_runs_committed": len(self._committed_run_ids()),
            "n_live": read_current(
                self.spark, self.target_path, pk=self.pk,
                state_path=self.state_path,
            ).count(),
            "n_corpus": self.corpus().count(),
            "n_flagged_docs": self.flagged().select("batch_doc").distinct().count(),
            "index": freshness_audit(self.spark, self.index_path),
        }
