"""Benchmark of the blob-migration engine: one closed-loop client driving
the package's public functions on Spark ``local[nproc]``.

    python3 perfbench/run.py --workload backfill_s3 --seed 1 --seconds 10 --trace 0

Workloads (inputs generated from ``--seed``, see perfbench/gen.py):

- ``backfill_s3``: 300 Derby rows with in-row blobs (empty to just over
  the 10 MB cap) migrated by one ``migrate_increment`` pass to a moto S3
  endpoint that adds 10 ms to every request, then ``validate_migration``
  and a ``cascade_delete`` of 10 % of the keys.
- ``cdc_fs``: 8 CDC increments of 100 rows (inserts, updates,
  tombstones) migrated to the local-FS store with a ``read_current``
  after each pass, one ``read_as_of`` of the middle version and a
  ``compact_pointer_runs``.
- ``registry_sf0.1``: seven registry queries (reference-parity reads,
  multi-consumer graph plans, a persisted text index) on a generated
  sf0.1-sized fixture, each materialized with the ``noop`` sink; the
  warm-up pass checks each result against its DuckDB oracle. A run takes
  about two minutes, so BENCHMARK.json leaves it out of the repeated
  runs; run it by hand for changes under ``plans/`` or the indexes.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``, with the end-to-end metrics (``--trace 0``) or the
per-layer metrics of a traced run (``--trace 1``). The line before it is
the full run record: host evidence, seed, every end-to-end metric of the
workload by name and unit (error rate with its denominator, dangling
pointers), output-check facts. Records and spans are also written to
``.perfbench-out/`` in the checkout. Everything the run writes stays
inside the checkout; its scratch directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
LOAD1_AT_START = os.getloadavg()[0]
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
OUT_DIR = os.path.join(ROOT, ".perfbench-out")


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0


def _isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM, Spark and Derby
    into ``work`` before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # no /tmp/hsperfdata file: the JVM writes nothing outside ``work``
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    os.chdir(work)


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    kids = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)


# -- metrics ---------------------------------------------------------------------


def _ops(spans: list[dict], cycle: int) -> list[dict]:
    return [s for s in spans if s["parent"] == cycle and s["kind"] == "op"]


def _cycle_ids(spans: list[dict]) -> list[int]:
    return [i for i, s in enumerate(spans) if s["kind"] == "cycle"]


UNITS = {"_per_s": "1/s", "_s": "s", "_mb": "MB", "_rate": "ratio"}


def _with_units(metrics: dict) -> dict:
    """``{name: value}`` -> ``{name: {"value", "unit"}}``, the unit read
    off the name's suffix; bare counts are ``count``."""
    def unit(name):
        return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")

    return {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}


def end_to_end(spans, cycles, out, setup_s, peak_rss) -> tuple[dict, dict]:
    """(contract metrics, every end-to-end metric of the workload by its
    own name)."""
    cycle_s = [sum(s["seconds"] for s in _ops(spans, c)) for c in cycles]

    def per_call(name):
        return [s["seconds"] for c in cycles for s in _ops(spans, c) if s["name"] == name]

    def paired(name):  # a pass = its JdbcSource.load plus the pass itself
        return [a + b for a, b in zip(per_call("jdbc.load"), per_call(name))]

    named = {"setup_s": setup_s, "cycle_s": _median(cycle_s),
             "peak_rss_mb": peak_rss / 2**20, "n_cycles": len(cycles)}
    contract = _with_units({k: named[k] for k in ("setup_s", "cycle_s", "peak_rss_mb")})
    if any(s["name"] == "blob_pipeline.validate" for c in cycles for s in _ops(spans, c)):
        written = [s["objects_written"] for c in cycles for s in _ops(spans, c)
                   if s["name"] == "incremental_migration.migrate"]
        backfill = paired("incremental_migration.migrate")
        named.update(
            backfill_objects_per_s=_median([w / t for w, t in zip(written, backfill)]),
            validate_s=_median(per_call("blob_pipeline.validate")),
            delete_s=_median(per_call("blob_pipeline.cascade_delete")),
        )
    elif per_call("incremental_migration.compact"):
        named.update(
            increment_p50_s=_median(paired("incremental_migration.migrate")),
            read_current_p50_s=_median(per_call("incremental_migration.read_current")),
            read_as_of_s=_median(per_call("incremental_migration.read_as_of")),
            compact_s=_median(per_call("incremental_migration.compact")),
        )
    else:
        named["registry_s"] = named["cycle_s"]
    if out and "dangling_pointers" in out[0]:
        named["dangling_pointers"] = max(o["dangling_pointers"] for o in out)
    if out and "stale_pointers" in out[0]:
        named["stale_pointers"] = max(o["stale_pointers"] for o in out)
    return contract, named


PER_CALL_LAYERS = {
    # span name -> (metric prefix, count fields reported per call)
    "jdbc.load": ("jdbc.load", ()),
    "jdbc.scan": ("jdbc.scan", ("rows",)),
    "incremental_migration.migrate": ("incremental_migration.migrate", ("jobs", "tasks")),
    "incremental_migration.read_current": ("incremental_migration.read_current", ("jobs",)),
    "incremental_migration.read_as_of": ("incremental_migration.read_as_of", ("jobs",)),
    "incremental_migration.compact": ("incremental_migration.compact", ("jobs",)),
    "blob_pipeline.externalize": ("blob_pipeline.externalize", ("jobs", "tasks")),
    "blob_pipeline.validate": ("blob_pipeline.validate", ("jobs", "min_stage_tasks")),
    "blob_pipeline.cascade_delete": ("blob_pipeline.cascade_delete", ("jobs", "min_stage_tasks")),
}
STORE_OPS = ("incremental_migration.migrate", "blob_pipeline.validate",
             "blob_pipeline.cascade_delete")


def per_layer(spans, traced, untraced, session_s, queries) -> dict:
    """Per-layer metrics of the traced cycles: per-call medians of span
    time and Spark counts, per-cycle store totals, driver self time, and
    the tracing overhead against the run's untraced cycle."""
    m = {"session.start_s": (session_s, "s")}
    kids = [s for c in traced for s in spans if s["parent"] == c]

    def calls(name):
        return [s for s in kids if s["name"] == name]

    for name, (prefix, fields) in PER_CALL_LAYERS.items():
        got = calls(name)
        m[f"{prefix}_s"] = (_median([s["seconds"] for s in got]), "s")
        for f in fields:
            m[f"{prefix}.{f}"] = (_median([s.get(f, 0) for s in got]), "count")
    m["jdbc.rows"] = m.pop("jdbc.scan.rows")
    for q in queries:
        got = calls(f"plans.{q}")
        m[f"plans.{q}_s"] = (_median([s["seconds"] for s in got]), "s")
        m[f"plans.{q}.jobs"] = (_median([s.get("jobs", 0) for s in got]), "count")

    def per_cycle(key, names=STORE_OPS, agg=sum):
        vals = []
        for c in traced:
            xs = [s.get(f"store.{key}", 0) for s in spans
                  if s["parent"] == c and s["name"] in names and s["kind"] == "op"]
            vals.append(agg(xs) if xs else 0)
        return _median(vals)

    for key, unit in [("put_n", "count"), ("head_n", "count"), ("delete_n", "count"),
                      ("get_n", "count"), ("bytes_put", "B"), ("errors_n", "count"),
                      ("busy_s", "s"), ("service_s", "s")]:
        m[f"object_store.{key}"] = (per_cycle(key), unit)
    m["object_store.max_inflight"] = (per_cycle("max_inflight", agg=max), "count")
    area, wall = per_cycle("inflight_area"), per_cycle("wall_s")
    m["object_store.mean_inflight"] = (area / wall if wall else 0, "count")
    for op in STORE_OPS:
        m[f"object_store.{op.split('.')[-1]}.max_inflight"] = (
            per_cycle("max_inflight", (op,), max), "count")
    migrate = calls("incremental_migration.migrate")
    requests = sum(s.get(f"store.{k}", 0) for s in migrate
                   for k in ("put_n", "get_n", "head_n", "delete_n"))
    written = sum(s.get("objects_written", 0) for s in migrate)
    m["object_store.requests_per_object"] = (requests / written if written else 0, "ratio")

    def cycle_time(cs):
        return _median([sum(s["seconds"] for s in _ops(spans, c)) for c in cs])

    self_s = [spans[c]["self_seconds"] for c in traced]
    m["driver.self_s"] = (_median(self_s), "s")
    base = cycle_time(untraced)
    m["trace.overhead_ratio"] = (cycle_time(traced) / base - 1 if base else 0, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# -- main --------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _isolate(work)
        return _run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch directory is still there


def _run(args, work: str) -> int:
    sys.path.insert(0, ROOT)
    from importlib.metadata import version

    from migrate_blob_data_from_rdbms_to_amazon_s3_spark import get_spark

    from perfbench.tracing import RssSampler, Tracer
    from perfbench.workloads import STORE_LATENCY_S, WORKLOADS, REGISTRY_QUERIES

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark)
    wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.size, nproc)
    failed, errors, out = 0, [], []
    try:
        fixture_s = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup()
            fixture_s.append(time.perf_counter() - t)
        tracer.store = wl.endpoint.wrapper if wl.endpoint else None
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        ops_warm = wl.ops
        t_first = time.perf_counter()
        setup_s = (t_first - T_START) - sum(fixture_s) + statistics.median(fixture_s)
        tracer.spans.clear()
        with RssSampler() as rss:
            i = 0
            while True:
                # a traced run measures one untraced cycle first, as its
                # own baseline for the tracing overhead
                tracer.enabled = bool(args.trace) and i > 0
                try:
                    with tracer.span("cycle") as c:
                        c.counts["traced"] = tracer.enabled
                        out.append(wl.cycle(i))
                except Exception as e:  # any raise or failed check ends the run
                    failed += 1
                    errors.append(f"cycle {i}: {type(e).__name__}: {e}")
                    traceback.print_exc()
                    break
                i += 1
                if time.perf_counter() - t_first >= args.seconds and (
                    not args.trace or i >= 2
                ):
                    break
        facts = dict(wl.facts)
    except Exception as e:
        failed += 1
        errors.append(f"setup: {type(e).__name__}: {e}")
        traceback.print_exc()
        setup_s, fixture_s, warmup_s, facts, rss = 0, [], 0, dict(wl.facts), None
        ops_warm = wl.ops
    finally:
        wl.close()
        default_parallelism = spark.sparkContext.defaultParallelism
        _stop_spark(spark)

    spans = tracer.dump()
    done = _cycle_ids(spans)[: len(out)]  # cycles that completed
    untraced = [c for c in done if not spans[c].get("traced")]
    traced = [c for c in done if spans[c].get("traced")]
    contract, named = end_to_end(
        spans, untraced, out, setup_s, rss.peak if rss else 0
    )
    queries = REGISTRY_QUERIES if args.workload == "registry_sf0.1" else []
    layers = per_layer(spans, traced, untraced, session_s, queries)
    attempted = max(wl.ops, 1)
    named.update(error_rate=failed / attempted, attempted=attempted, failed=failed)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "host": {
            "nproc": nproc,
            "spark_default_parallelism": default_parallelism,
            "load1_at_start": LOAD1_AT_START,
            "pyspark": version("pyspark"),
            "moto": version("moto"),
            "boto3": version("boto3"),
            "store": wl.store,
            "store_latency_ms": STORE_LATENCY_S * 1000 if wl.store == "s3" else None,
            "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        },
        "setup": {"session_s": session_s, "fixture_s": fixture_s,
                  "warmup_s": warmup_s, "warmup_ops": ops_warm},
        "metrics": _with_units(named),
        "per_layer": {k: v["value"] for k, v in layers.items()} if args.trace else None,
        "facts": facts,
        "errors": errors,
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT_DIR, stem + ".json"), "w") as fh:
        json.dump({"record": record, "spans": spans}, fh, indent=1, default=str)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": layers if args.trace else contract,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
