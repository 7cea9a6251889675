"""Persisted IVF index: train once, probe many, append without retraining.

Round 8 made the IVF codebook corpus-derived (plans/similarity._derived_k)
and the sf1 soak then showed the remaining wall is almost all TRAINING —
``ann_ivf_topk`` ≈ ``kmeans_clusters`` wall, probe ~0.5 s. Like the
ANN-LSH index (operators/ann_index), at 100 TB the Lloyd rounds must be
paid ONCE, not once per query. This module persists the quantizer and the
inverted lists as standing Parquet:

- ``{path}/centroids`` — the trained ``(cluster, cv array<double>)``
  codebook, k rows (cap-bounded ~2 MB; see KMEANS_K_CAP).
- ``{path}/cells`` — the inverted lists: ``(vec_id, embedding, gen)``
  HIVE-PARTITIONED BY ``cluster``. A probe filters on literal cluster
  ids, so the scan is PARTITION-PRUNED to nprobe/k of the files — the
  1000-executor layout where a probe touches only its cells' splits
  (asserted via PartitionFilters in tests/test_ivf_index.py).
- ``{path}/meta.json`` — layout version, k, corpus count, embedding
  dim, generation counter: the compatibility contract a probe or append
  checks first. Committed last by atomic rename and read without a
  Spark job (operators/persisted_index, the lifecycle all three
  persisted indexes share); ``path`` is driver-local.

``append_ivf_index`` is the incremental-ingest story: new vectors are
assigned to the FROZEN trained centroids by the same Arrow argmin kernel
(plans/similarity._assign_batches) and appended into the existing cell
partitions (``gen`` stamps the ingest generation). No retraining, no
touch of existing rows — the appended index is row-identical to
assigning the full corpus against the same codebook, which is exactly
what the ``ann_index_ivf_append_audit`` registry query value-checks
against DuckDB's independently trained twin. Cell-fill drift under
append is observable per cell (``cell_fill_audit``); when drift breaks
the fill target, retraining is a deliberate rebuild, not a silent one.

Scale shape: build = Lloyd rounds (vectors scanned once per round, only
k×dim means shuffle) + one partitioned write clustered by cell; probe =
a pruned scan of nprobe cells + broadcast 1-row query + top-k; append =
one scan of the new batch + a partitioned append.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

from ..functions.local_frame import arrow_local_df
from ..plans import similarity as S
from . import persisted_index as P

INDEX_VERSION = 1

# cells schema sans the partition column (cluster int comes from the dirs)
_CELL_FIELDS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("gen", T.IntegerType()),
    ]
)
_CELLS_SCHEMA = T.StructType(
    list(_CELL_FIELDS) + [T.StructField("cluster", T.IntegerType())]
)


def read_meta(spark: SparkSession, path: str) -> dict:
    return P.read_meta(path, INDEX_VERSION, emb_dim=S.EMB_DIM)


def load_centroids(spark: SparkSession, path: str) -> list[tuple[int, list[float]]]:
    """The k×dim codebook, collected (cap-bounded ~2 MB) and sorted by
    cluster id — the same shape _kmeans_fit returns, so every consumer
    kernel/expression is shared with the in-plan queries."""
    rows = spark.read.parquet(f"{path}/centroids").collect()
    return sorted((int(r["cluster"]), list(r["cv"])) for r in rows)


def load_cells(spark: SparkSession, path: str) -> DataFrame:
    """Schema-pinned read of the inverted lists. An index built from an
    EMPTY corpus has no cell files at all (dynamic partitioning writes
    nothing for zero rows), so degrade to a typed empty frame instead of
    a schema-inference error."""
    try:
        return spark.read.schema(_CELLS_SCHEMA).parquet(f"{path}/cells")
    except AnalysisException:
        return spark.createDataFrame([], _CELLS_SCHEMA)


def _write_cells(assigned: DataFrame, path: str, gen: int, mode: str) -> int:
    """Write the inverted lists; returns the row count written (counted
    on the write — no read-back re-scan, which at 100 TB is a full extra
    pass over the index)."""
    cells = assigned.select(
        F.col("vec_id").cast("long"),
        "embedding",
        F.lit(gen).cast("int").alias("gen"),
        F.col("cluster").cast("int"),
    )
    return int(P.counted_write(
        cells,
        lambda d: d.repartition(F.col("cluster")).write.mode(mode)
        .partitionBy("cluster").parquet(f"{path}/cells"),
    )["n"])


def build_ivf_index(emb: DataFrame, path: str, k: int | None = None) -> dict:
    """Train the quantizer on ``emb`` (corpus-derived k by default —
    identical dials to the in-plan q_ann_ivf) and lay the corpus out as
    cluster-partitioned inverted lists. Returns the meta it wrote."""
    spark = emb.sparkSession
    cent_rows, _ = S._kmeans_fit(emb, k=k)
    # re-assign against the FINAL trained codebook (the tuple's assignment
    # frame is the last Lloyd round's, i.e. against the penultimate
    # centroids — same as in-plan _ivf_probe). Build-time and append-time
    # rows therefore answer to the same quantizer.
    assigned = S._assign_df(emb, cent_rows)
    arrow_local_df(
        spark, [(c, cv) for c, cv in cent_rows], "cluster int, cv array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    n = _write_cells(assigned, path, gen=0, mode="overwrite")
    return P.write_meta(path, {
        "version": INDEX_VERSION,
        "n_vectors": n,
        "k": len(cent_rows),
        "emb_dim": S.EMB_DIM,
        "gens": 1,
    })


def append_ivf_index(spark: SparkSession, new_emb: DataFrame, path: str) -> dict:
    """Incremental ingest: assign ``new_emb`` to the FROZEN trained
    centroids (no Lloyd rounds) and append into the existing cell
    partitions. The caller owns dedup discipline (vec_ids already in the
    index are appended verbatim, same as any append sink)."""
    meta = read_meta(spark, path)
    cent_rows = load_centroids(spark, path)
    assigned = S._assign_df(new_emb, cent_rows)
    gen = int(meta["gens"])
    # the assignment kernel is 1:1, so the written-row observation IS
    # |new_emb| — no separate count job
    n_new = _write_cells(assigned, path, gen=gen, mode="append")
    return P.write_meta(path, {
        **meta, "n_vectors": meta["n_vectors"] + n_new, "gens": gen + 1,
    })


def probe_clusters(
    spark: SparkSession, path: str, query: DataFrame, nprobe: int
) -> list[int]:
    """The query's ``nprobe`` nearest cell ids as plain ints — collected
    (one 1-row job) so the cell scan's filter is LITERAL on the partition
    column and Hive partition pruning applies. Same (d, cluster) struct
    ranking as the in-plan probe, so rank 1 is the query's own cell."""
    cent_rows = load_centroids(spark, path)
    if not cent_rows:
        return []
    rows = query.select(
        F.expr(S._probe_clusters_expr(cent_rows, nprobe)).alias("q_probes")
    ).collect()
    out: list[int] = []
    for r in rows:
        for c in r["q_probes"]:
            if c is not None and c not in out:
                out.append(int(c))
    return out


def ivf_topk_persisted(
    spark: SparkSession,
    path: str,
    query: DataFrame,
    nprobe: int = 1,
    k_top: int = 5,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """The persisted twin of plans/similarity._ivf_probe: rank the
    probed cells' members by exact cosine against the (broadcast 1-row)
    query. Only the pruned cell scan + the top-k run per query; the
    Lloyd rounds and the full-corpus assignment are the standing index.
    Result-identical to the in-plan form (shared oracle in
    plans/ivf_index_entries)."""
    probes = probe_clusters(spark, path, query, nprobe)
    cells = load_cells(spark, path)
    if not probes:
        scored = cells.filter(F.lit(False))
    else:
        scored = cells.filter(F.col("cluster").isin(*probes))
    if exclude_vec_id is not None:
        scored = scored.filter(F.col("vec_id") != exclude_vec_id)
    q = F.broadcast(query.select(F.col("embedding").alias("qv")))
    return (
        scored.crossJoin(q)
        .select(
            "vec_id",
            "cluster",
            F.expr(S._cos_spark("embedding", "qv")).alias("score"),
        )
        .orderBy(F.desc("score"), "vec_id")
        .limit(k_top)
    )


def ivf_knn_batch_persisted(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    nprobe: int = 1,
    k_top: int = 3,
    id_col: str = "vec_id",
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """Batch probe against the standing index: each query vector's
    ``k_top`` exact-cosine neighbors among the indexed vectors (self
    excluded by id; ``exclude_ids`` — one ``vec_id`` column — anti-joins
    further candidates out BEFORE the top-k, e.g. the whole incoming
    batch so a replayed ingest that already half-appended it can't leak
    batch members into the neighbor sets: the streaming gate's
    replay-stability contract) — the ingest-time consumer shape ("score this batch
    of new vectors against the standing corpus") that the LSH index
    serves via ann_index.neardup_incremental. One operator call probes
    the whole batch; per-row ivf_topk_persisted loops would pay a
    pruned scan per query.

    Plan shape: the batch ranks all k centroids map-side (the same
    inlined-literal struct sort as the single probe — rank 1 is each
    vector's own cell), ONE small job collects the union of probed cell
    ids so the cell scan's filter stays LITERAL on the partition column
    (Hive pruning — the batch touches only its cells' files), then one
    equi-join on cluster + a per-query top-k window over candidate rows
    only (|batch| x nprobe x fill, never corpus-sized). No broadcast
    hint: the batch is unbounded by contract (it grows with ingest), so
    AQE picks the join side at runtime — the graph_ops broadcast-
    boundedness rule. Cluster-key parallelism = k, which is
    corpus-derived (plans/similarity._derived_k), so the join fans out
    with the corpus rather than bottlenecking on a fixed cell count."""
    from pyspark.sql import Window

    cent_rows = load_centroids(spark, path)
    probed = queries.select(
        F.col(id_col).cast("long").alias("q_vec_id"),
        F.col("embedding").alias("qv"),
        F.expr(S._probe_clusters_expr(cent_rows, nprobe)).alias("q_probes"),
    )
    cell_ids = sorted(
        int(r["c"])
        for r in probed.select(F.explode("q_probes").alias("c")).distinct().collect()
        if r["c"] is not None
    )
    cells = load_cells(spark, path)
    pruned = (
        cells.filter(F.col("cluster").isin(cell_ids))
        if cell_ids
        else cells.filter(F.lit(False))
    )
    exploded = probed.select(
        "q_vec_id", "qv", F.explode("q_probes").alias("cluster")
    )
    cand = pruned.join(exploded, "cluster").filter(
        F.col("vec_id") != F.col("q_vec_id")
    )
    if exclude_ids is not None:
        cand = cand.join(
            exclude_ids.select(F.col("vec_id").cast("long")), "vec_id", "left_anti"
        )
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("score"), "vec_id")
    return (
        cand.select(
            "q_vec_id",
            "vec_id",
            "cluster",
            F.expr(S._cos_spark("embedding", "qv")).alias("score"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k_top)
        .drop("rn")
    )


def freshness_audit(spark: SparkSession, emb: DataFrame, path: str) -> dict:
    """Is the standing index stale against the live corpus? Two id
    coverage counts decide the next operation:

    - ``n_missing`` (live vectors absent from the index) > 0 → run
      ``append_ivf_index`` over exactly those rows;
    - ``n_orphaned`` (indexed vectors gone from the corpus) > 0 → the
      corpus shrank/was rewritten: rebuild (the cells are append-only).

    One job, id-column-only on both sides (the cell scan prunes to
    vec_id): persisted_index.coverage."""
    meta = read_meta(spark, path)
    return P.coverage(meta["n_vectors"], emb, load_cells(spark, path))


def cell_fill_audit(spark: SparkSession, path: str) -> DataFrame:
    """Per-cell fill by ingest generation: (cluster, n_base, n_appended,
    n_total). The operational dial for append drift — when max fill
    breaks the IVF_FILL_TARGET contract, rebuild deliberately."""
    cells = load_cells(spark, path)
    return cells.groupBy("cluster").agg(
        F.sum((F.col("gen") == 0).cast("int")).alias("n_base"),
        F.sum((F.col("gen") > 0).cast("int")).alias("n_appended"),
        F.count("*").alias("n_total"),
    )
