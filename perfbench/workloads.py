"""The three workloads: one closed-loop client, one public call at a time.

Each workload has a ``setup`` (inputs from the seed, loaded where the
program reads them), a ``warmup`` and a ``cycle``. A cycle is the
workload's full sequence of timed calls, each in an ``op`` span, with
its output checks in ``check`` spans between them. The run repeats
cycles until its measuring time is used.

With tracing on, ``probe`` spans add work that splits one layer out of
a call that hides it (the JDBC scan inside a migration pass, the object
writes inside a backfill). Probes and checks never count as timed work.

The program receives only a Derby JDBC URL and a store URL (or, for the
registry, a fixture directory), and is driven only through its public
functions.
"""

from __future__ import annotations

import importlib.util
import os
import urllib.request

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.blob_pipeline import (
    WRITE_MANIFEST_SCHEMA,
    cascade_delete,
    externalize_blobs,
    validate_migration,
)
from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.incremental_migration import (
    compact_pointer_runs,
    migrate_increment,
    read_as_of,
    read_current,
)
from migrate_blob_data_from_rdbms_to_amazon_s3_spark.sources.jdbc import JdbcSource

from . import gen
from .objstore import S3Endpoint

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
SOURCE_SCHEMA = "seq long, order_id string, description string, order_blob binary, op string"
STORE_LATENCY_S = 0.010
REGISTRY_QUERIES = [
    "page_scan",
    "keyed_update",
    "bridge_coalesce",
    "incremental_pointer_latest",
    "graph_triangles",
    "graph_khop_reach",
    "text_index_neardup_persisted",
]

# input sizes: "full" is the benchmark, "tiny" the smoke test
SIZES = {
    "backfill_s3": {"full": {"rows": 300}, "tiny": {"rows": 40}},
    "cdc_fs": {"full": {"passes": 8, "batch": 100}, "tiny": {"passes": 3, "batch": 20}},
    "registry_sf0.1": {"full": {"scale": 0.1}, "tiny": {"scale": 0.001}},
}


class CheckFailed(Exception):
    """An output check found a mismatch."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def object_problems(expected: dict[str, bytes], read) -> tuple[list[str], int, int]:
    """Compare the object behind each live pointer with the blob that
    pointer's version carries. ``expected`` maps object key to blob;
    ``read(key)`` returns the stored bytes, or None if there are none.

    A blob over the cap is never written, so its pointer names no object
    (dangling) or an older one (stale). That is the known defect: it is
    counted, not failed. Any other mismatch is a problem.
    Returns ``(problems, dangling, stale)``."""
    differ, missing = [], []
    dangling = stale = 0
    for key, blob in sorted(expected.items()):
        body = read(key)
        dangling += body is None
        stale += body is not None and body != blob
        if body != blob and len(blob) <= gen.CAP:
            (missing if body is None else differ).append(key)
    problems = []
    if differ:
        problems.append(f"{len(differ)} objects differ from their blob: {differ[:3]}")
    if missing:
        problems.append(f"{len(missing)} blobs under the cap have no object: {missing[:3]}")
    return problems, dangling, stale


def read_file_store(root: str):
    """``read(key)`` for a local-FS store rooted at ``root``."""

    def read(key: str) -> bytes | None:
        try:
            with open(os.path.join(root, key), "rb") as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    return read


class Workload:
    """Shared state of one run: Spark, the tracer, the work directory."""

    name = ""
    store: str | None = None  # object store the program writes to

    def __init__(self, spark, tracer, work: str, seed: int, size: str, nproc: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.size = SIZES[self.name][size]
        self.nproc = nproc
        self.endpoint: S3Endpoint | None = None
        self.ops = 0           # timed public calls made
        self.n_setups = 0
        self.facts: dict = {}  # results for the run record

    def op(self, name: str):
        """A timed public call."""
        self.ops += 1
        return self.tracer.span(name, "op")

    def check_span(self):
        return self.tracer.span("check", "check")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup(self) -> None:
        self.n_setups += 1

    def load_derby(self, table: str, rows: list[gen.Row]) -> str:
        """Load ``rows`` into ``table`` of this set-up's in-memory Derby
        database; returns the JDBC URL the program gets."""
        url = f"jdbc:derby:memory:src-{self.n_setups};create=true"
        df = self.spark.createDataFrame(
            [(r.seq, r.order_id, r.description, r.blob, r.op) for r in rows],
            SOURCE_SCHEMA,
        )
        df.write.format("jdbc").options(url=url, dbtable=table, driver=DERBY_DRIVER).mode(
            "overwrite"
        ).save()
        return url

    def load_source(self, src: JdbcSource, bounds: tuple = (), scan_filter=None):
        """``JdbcSource.load`` as a timed call. With tracing on, a probe
        then scans the rows the pass will read, so the JDBC scan shows as
        its own layer."""
        with self.op("jdbc.load"):
            df = src.load(self.spark, *bounds)
        if self.tracer.enabled:
            obs = Observation()
            scan = df if scan_filter is None else df.filter(scan_filter)
            with self.tracer.span("jdbc.scan", "probe") as s:
                scan.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                    "noop"
                ).mode("overwrite").save()
            s.counts["rows"] = obs.get["rows"]
        return df

    def close(self) -> None:
        if self.endpoint is not None:
            self.endpoint.close()
            self.endpoint = None


# -- backfill over S3 -----------------------------------------------------------


class BackfillS3(Workload):
    """Full backfill from Derby to the S3 endpoint, then validate, then a
    cascade delete of 10 % of the keys.

    ``migrate_increment`` keeps its write receipt to itself, so
    ``validate_migration`` is given the receipt a correct backfill must
    produce (``gen.expected_manifest``); the store's side of the check
    (one HEAD per key) is the same either way."""

    name = "backfill_s3"
    store = "s3"

    def setup(self) -> None:
        super().setup()
        self.rows = gen.backfill_rows(self.seed, self.size["rows"])
        self.url = self.load_derby("orders_src", self.rows)
        self.warm_rows = [r for r in gen.backfill_rows(self.seed + 1, 12) if len(r.blob) <= gen.CAP]
        self.load_derby("orders_warm", self.warm_rows)
        if self.endpoint is None:
            self.endpoint = S3Endpoint(STORE_LATENCY_S)
            self.client = self.endpoint.client()

    def warmup(self) -> None:
        self._run(self.warm_rows, "orders_warm", "warm", check_outputs=False)

    def cycle(self, i: int) -> dict:
        return self._run(self.rows, "orders_src", f"c{i}", check_outputs=True)

    def _fresh_bucket(self, name: str) -> str:
        # drop the previous cycle's objects so the store's memory stays flat
        req = urllib.request.Request(self.endpoint.endpoint + "/moto-api/reset", method="POST")
        urllib.request.urlopen(req, timeout=30).close()
        self.client.create_bucket(Bucket=name)
        self.bucket = name
        return self.endpoint.url(name)

    def _run(self, rows: list[gen.Row], table: str, tag: str, check_outputs: bool) -> dict:
        store_url = self._fresh_bucket(f"bench-{tag}")
        target, state = self.path(tag, "target"), self.path(tag, "state")
        keys_sorted = sorted(r.order_id for r in rows)
        pick = np.random.default_rng([self.seed, 4]).permutation(len(rows))
        doomed = sorted(keys_sorted[i] for i in pick[: max(1, len(rows) // 10)])
        manifest = self.spark.createDataFrame(gen.expected_manifest(rows), WRITE_MANIFEST_SCHEMA)
        keys = self.spark.createDataFrame([(k,) for k in doomed], "order_id string")
        out = {}
        src = self.load_source(
            JdbcSource(url=self.url, table=table, driver=DERBY_DRIVER,
                       partition_column="seq", num_partitions=self.nproc),
            (1, len(rows) + 1),
        )
        with self.op("incremental_migration.migrate") as s:
            entry = migrate_increment(
                self.spark, src, store_url=store_url, target_path=target,
                state_path=state, cursor_col="seq",
            )
        s.counts["objects_written"] = entry.get("n_objects_written", 0)
        if self.tracer.enabled:
            with self.tracer.span("blob_pipeline.externalize", "probe"):
                receipt = externalize_blobs(src, store_url).collect()
            check(sorted(map(tuple, receipt), key=str)
                  == sorted(gen.expected_manifest(rows), key=str),
                  "externalize_blobs receipt != expected manifest")
        with self.op("blob_pipeline.validate"):
            report = validate_migration(src, manifest, store_url)
        with self.check_span():
            live = [r.order_id for r in
                    read_current(self.spark, target, state_path=state).select("order_id").collect()]
            if check_outputs:
                out["dangling_pointers"] = self._check_backfill(rows, entry, report, live)
        pointers = read_current(self.spark, target, state_path=state).withColumn(
            "s3_prefix", F.lit(gen.OBJECT_SUFFIX)
        )
        with self.op("blob_pipeline.cascade_delete"):
            survivors = cascade_delete(pointers, keys, store_url).select("order_id").collect()
        self.survivors = sorted(r.order_id for r in survivors)
        if check_outputs:
            with self.check_span():
                gone = set(doomed)
                check(self.survivors == sorted(k for k in live if k not in gone),
                      "surviving pointers != live pointers minus deleted keys")
                stored = self.endpoint.objects(self.bucket)
                left = sum(gen.object_key(k) in stored for k in doomed)
                check(left == 0, f"{left} deleted objects are still in the store")
        return out

    def store_problems(self, live: list[str]) -> tuple[list[str], int, int]:
        """``object_problems`` of the live pointers against the store."""
        by_id = {r.order_id: r for r in self.rows}
        stored = self.endpoint.objects(self.bucket)
        return object_problems({gen.object_key(k): by_id[k].blob for k in live}, stored.get)

    def _check_backfill(self, rows, entry, report, live) -> int:
        """Checks after the backfill and validate; returns the number of
        dangling pointers."""
        n_over = sum(len(r.blob) > gen.CAP for r in rows)
        want = dict.fromkeys(report, 0)
        want.update(n_rows=len(rows), rejected_oversize=n_over)
        problems, dangling, _ = self.store_problems(live)
        if not (entry.get("committed") is True and entry.get("n_rows") == len(rows)):
            problems.append(f"backfill ledger entry {entry}")
        if report != want:
            problems.append(f"validate report {report}")
        if sorted(live) != sorted(r.order_id for r in rows):
            problems.append("live pointers != source keys")
        check(not problems, "; ".join(problems))
        return dangling


# -- CDC increments on the local-FS store ----------------------------------------


class CdcFs(Workload):
    """Incremental passes over a change feed with a consumer read after
    each, one time-travel read of the middle version, then a compaction."""

    name = "cdc_fs"
    store = "local-fs"

    def setup(self) -> None:
        super().setup()
        self.stream = gen.cdc_stream(self.seed, self.size["passes"], self.size["batch"])
        self.url = self.load_derby("cdc", self.stream.rows)
        self.warm = gen.cdc_stream(self.seed + 1, 2, 10)
        self.load_derby("cdc_warm", self.warm.rows)

    def warmup(self) -> None:
        self._run(self.warm, "cdc_warm", "warm", check_outputs=False)

    def cycle(self, i: int) -> dict:
        return self._run(self.stream, "cdc", f"c{i}", check_outputs=True)

    def _run(self, stream: gen.CdcStream, table: str, tag: str, check_outputs: bool) -> dict:
        target, state = self.path(tag, "target"), self.path(tag, "state")
        store_root = self.path(tag, "objects")
        store_url = f"file://{store_root}"
        mid = max(1, stream.n_passes // 2)  # the pass whose version is read back
        entries = []
        for k in range(1, stream.n_passes + 1):
            src = self.load_source(
                JdbcSource(url=self.url, driver=DERBY_DRIVER,
                           table=f'(SELECT * FROM {table} WHERE "seq" <= {stream.upto(k)}) p{k}'),
                scan_filter=F.col("seq") > stream.upto(k - 1),
            )
            with self.op("incremental_migration.migrate") as s:
                entries.append(migrate_increment(
                    self.spark, src, store_url=store_url, target_path=target,
                    state_path=state, cursor_col="seq", op_col="op",
                ))
            s.counts["objects_written"] = entries[-1].get("n_objects_written", 0)
            with self.op("incremental_migration.read_current"):
                read_current(self.spark, target, state_path=state).count()
        with self.op("incremental_migration.read_as_of"):
            read_as_of(self.spark, target, mid - 1, state_path=state).count()
        if check_outputs:
            with self.check_span():
                as_of = self._state(read_as_of(self.spark, target, mid - 1, state_path=state))
                before = self._state(read_current(self.spark, target, state_path=state))
        with self.op("incremental_migration.compact"):
            compact_pointer_runs(self.spark, target, state)
        if not check_outputs:
            return {}
        with self.check_span():
            for k, e in enumerate(entries, 1):
                check(e.get("committed") is True and e.get("n_rows") == stream.batch,
                      f"pass {k} ledger entry {e}")
            check(before == stream.states[-1], "read_current != expected live state")
            check(as_of == stream.states[mid - 1], f"read_as_of({mid - 1}) != expected state")
            after = self._state(read_current(self.spark, target, state_path=state))
            check(after == stream.states[-1], "read_current after compaction != expected state")
            return self._check_objects(stream, store_root)

    def _state(self, df) -> dict:
        return {
            r.order_id: (r.description, r.cursor, r.run_id)
            for r in df.select("order_id", "description", "cursor", "run_id").collect()
        }

    @staticmethod
    def _check_objects(stream: gen.CdcStream, root: str) -> dict:
        """Each live key's object against its latest blob; a tombstoned
        key's object must be gone."""
        read = read_file_store(root)
        problems, dangling, stale = object_problems(
            {gen.object_key(o): b for o, b in stream.latest_blob.items()}, read
        )
        deleted = {r.order_id for r in stream.rows if r.op == "D"}
        left = [o for o in deleted if read(gen.object_key(o)) is not None]
        if left:
            problems.append(f"{len(left)} tombstoned keys still have an object")
        check(not problems, "; ".join(problems))
        return {"dangling_pointers": dangling, "stale_pointers": stale}


# -- registry slice ---------------------------------------------------------------


def _table_hash():
    """``table_hash`` of tools/check_correctness.py, the registry's own
    order-insensitive output hash."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_hash


class Registry(Workload):
    """Seven registry queries over a generated fixture directory, each
    materialized with the ``noop`` sink. The warm-up collects each result
    and compares its hash with its DuckDB oracle's."""

    name = "registry_sf0.1"

    def setup(self) -> None:
        import __spark_entry__ as entry

        super().setup()
        self.sf_dir = self.path(f"fixture-{self.n_setups}")
        os.makedirs(self.sf_dir)
        for name, table in gen.registry_tables(self.seed, self.size["scale"]).items():
            pq.write_table(table, os.path.join(self.sf_dir, f"{name}.parquet"))
        queries, oracles = entry.queries(), entry.oracle_sql()
        self.queries = {q: queries[q] for q in REGISTRY_QUERIES}
        self.oracles = {q: oracles[q] for q in REGISTRY_QUERIES}

    def warmup(self) -> None:
        table_hash = _table_hash()
        with duckdb.connect() as con:
            for t in os.listdir(self.sf_dir):
                con.execute(
                    f"CREATE VIEW {t.removesuffix('.parquet')} AS "
                    f"SELECT * FROM '{os.path.join(self.sf_dir, t)}'"
                )
            for q, fn in self.queries.items():
                with self.op(f"plans.{q}.collect"):
                    df = fn(self.spark, self.sf_dir)
                    cols, rows = df.columns, [tuple(r) for r in df.collect()]
                with self.check_span():
                    res = con.execute(self.oracles[q])
                    ocols, orows = [d[0] for d in res.description], res.fetchall()
                    check(sorted(cols) == sorted(ocols), f"{q}: columns {cols} != {ocols}")
                    check(table_hash(cols, rows) == table_hash(ocols, orows),
                          f"{q}: output hash differs from the DuckDB oracle")
                self.facts.setdefault("rows", {})[q] = len(rows)

    def cycle(self, i: int) -> dict:
        for q, fn in self.queries.items():
            with self.op(f"plans.{q}"):
                fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
        return {}


WORKLOADS = {w.name: w for w in (BackfillS3, CdcFs, Registry)}
