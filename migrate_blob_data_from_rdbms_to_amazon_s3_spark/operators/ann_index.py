"""Persisted ANN-LSH index: build once, probe many, widen incrementally.

Every in-plan similarity consumer (knn_join, neardup_embedding,
hard_negative_mining, ...) rebuilds the multi-table multi-probe
hyperplane-LSH signatures inside its own query — amortized by
localCheckpoint WITHIN a query, but at 100 TB the signature build (a
full corpus scan + the Arrow dot kernel) must be paid ONCE and then
amortized across every probe. This module makes the index a standing
pair of Parquet tables:

- ``{path}/signatures`` — one row per vector: the passthrough id
  columns, the derived config (``nd_bits``/``nd_tables``), per-table
  masked bucket values ``t0..``, boundary-bit arrays ``p0..`` (probe
  side), and the raw active-bit dot arrays ``d0..`` (kept so a later
  WIDEN recomputes only the NEW planes — see ``widen_ann_index``).
- ``{path}/bands`` — the exploded exact-bucket table
  ``(tab, bv, vec_id[, label], bdf[, bdf_label])`` with the per-bucket
  fill counts PRECOMPUTED, so the hot-bucket cap every consumer applies
  (plans/similarity.ND_MAX_BUCKET) is a stored-column filter instead of
  a window over the standing table. Laid out by (tab, bv) so a probe
  join's build side is collocated; ``register_bands_bucketed`` writes
  the same rows as a catalog table BUCKETED by (tab, bv) — on a real
  cluster that shape makes the probe join shuffle the probe side only.
- ``{path}/meta.json`` — layout version, corpus count, the derived
  config, and the embedding dim: the compatibility contract a probe
  checks before trusting the index. Committed last by atomic rename and
  read without a Spark job (operators/persisted_index, the lifecycle all
  three persisted indexes share); ``path`` is driver-local.

Incremental widening rides the FROZEN plane layout
(plans/similarity._ND_PLANE_IDX: plane (t, f) never changes once
assigned): widening from (bits0, tables0) to (bits1, tables1)
recomputes ONLY the new planes — bits0..bits1-1 of the existing tables
and all bits of newly activated tables — and every pre-existing bucket
value is a bit-prefix of its widened value (``new & (2^bits0 - 1) ==
old``, asserted in tests/test_ann_index.py against a from-scratch
build at the wide config: byte-identical).

Scale shape: the build is one corpus scan + the Arrow kernel + one
(tab, bv) repartition; a probe is a Parquet scan of n-row signatures
(probe side) and the pre-capped band table (build side) — no dot
kernel, no window. Widening is one signatures-x-embeddings equi-join +
a kernel over only the new planes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans import similarity as S
from . import persisted_index as P

INDEX_VERSION = 1


def _derived_tables(bits: int) -> int:
    """The table count the corpus-derived dial pairs with ``bits`` —
    the same +2-tables-per-bit-past-10 ladder as _nd_tables_expr."""
    return min(S.ND_BANDS, max(S.ND_BANDS_MIN, S.ND_BANDS_MIN + 2 * (bits - 10)))


def _forced_cfg(spark: SparkSession, bits: int, tables: int):
    """A 1-row broadcast (nd_bits, nd_tables) config with explicit
    values — the build-time override of the corpus-derived dials (a
    standing index's width is an OPERATOR choice; the corpus-derived
    default is what you get with bits=None). Witnessed bounded: a
    1-row literal range."""
    if not (S.ND_MIN_BITS <= bits <= S.ND_MAX_BITS
            and S.ND_BANDS_MIN <= tables <= S.ND_BANDS):
        raise ValueError(
            f"bits {bits} / tables {tables} outside [{S.ND_MIN_BITS}, "
            f"{S.ND_MAX_BITS}] / [{S.ND_BANDS_MIN}, {S.ND_BANDS}]"
        )
    return F.broadcast(
        spark.range(1).select(
            F.lit(bits).cast("int").alias("nd_bits"),
            F.lit(tables).cast("int").alias("nd_tables"),
        )
    )


def _band_rows(sigs: DataFrame, label: bool) -> DataFrame:
    """Explode a signatures frame to (tab, bv, vec_id[, label]) exact
    bucket rows with precomputed fill counts: ``bdf`` per (tab, bv) and
    — when the index carries a label — ``bdf_label`` per (tab, bv,
    label), so both the unconstrained (knn) and the label-constrained
    (neardup) consumers cap with a stored-column filter."""
    cols = ["vec_id", "label"] if label else ["vec_id"]
    bands = sigs.select(
        *cols,
        F.posexplode(F.array(*[f"t{t}" for t in range(S.ND_BANDS)])).alias(
            "tab", "bv"
        ),
    ).filter(F.col("bv").isNotNull())
    bands = bands.withColumn(
        "bdf", F.count("*").over(Window.partitionBy("tab", "bv"))
    )
    if label:
        bands = bands.withColumn(
            "bdf_label",
            F.count("*").over(Window.partitionBy("tab", "bv", "label")),
        )
    return bands


def _write_bands(sigs: DataFrame, label: bool, path: str) -> None:
    """``{path}/bands`` from a signatures frame, laid out by (tab, bv):
    a probe join reads each bucket's rows from one split. Plain Parquet
    (no catalog dependency for the driver's vanilla session);
    register_bands_bucketed adds the catalog-bucketed twin of the same
    rows."""
    bands = _band_rows(sigs, label).repartition(F.col("tab"), F.col("bv"))
    bands.sortWithinPartitions("tab", "bv").write.mode("overwrite").parquet(
        f"{path}/bands"
    )


def build_ann_index(
    emb: DataFrame,
    path: str,
    bits: int | None = None,
    tables: int | None = None,
    label_col: str | None = None,
) -> dict:
    """Build the standing index at ``path`` from an embeddings frame
    ``(vec_id, embedding[, label_col])``. ``bits``/``tables`` default to
    the corpus-derived dials (identical to every in-plan consumer).
    Returns the meta dict it wrote."""
    spark = emb.sparkSession
    cols = ["vec_id"] + ([label_col] if label_col else [])
    if label_col and label_col != "label":
        emb = emb.withColumnRenamed(label_col, "label")
        cols = ["vec_id", "label"]
    if bits is not None and tables is None:
        tables = _derived_tables(bits)
    cfg = None if bits is None else _forced_cfg(spark, bits, tables)
    # barrier=False: the signature frame is consumed exactly once here
    # (the observe→write below; the band table derives from the parquet
    # READ-BACK, never from this frame), so the default checkpoint only
    # added an eager planning + kernel pass per build (r13)
    sigs = S._nd_sigs(emb, cols, cfg=cfg, emit_dots=True, barrier=False)
    # count + config ride the WRITE (r12): nd_bits/nd_tables are
    # constant across rows (1-row broadcast cfg), so max == the head
    # value; both are None when an empty write posts no metrics row
    got = P.counted_write(
        sigs,
        lambda d: d.write.mode("overwrite").parquet(f"{path}/signatures"),
        b=F.max("nd_bits"),
        t=F.max("nd_tables"),
    )
    # the band table derives from the parquet READ-BACK
    _write_bands(
        spark.read.parquet(f"{path}/signatures"), label_col is not None, path
    )
    n = int(got["n"])
    return P.write_meta(path, {
        "version": INDEX_VERSION,
        "n_vectors": n,
        "nd_bits": int(got["b"]) if got["b"] is not None else (bits or 0),
        "nd_tables": int(got["t"]) if got["t"] is not None else (tables or 0),
        # the width POLICY says this corpus should run at (a forced
        # narrow build is legal but starts life already stale_width)
        "recommended_bits": S.nd_recommended_bits(n),
        "emb_dim": S.EMB_DIM,
        "has_label": label_col is not None,
    })


def read_meta(spark: SparkSession, path: str) -> dict:
    return P.read_meta(path, INDEX_VERSION, emb_dim=S.EMB_DIM)


def load_signatures(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/signatures")


def load_capped_bands(
    spark: SparkSession, path: str, label: bool = False
) -> DataFrame:
    """The probe join's build side: exact bucket rows with the hot-bucket
    cap applied as a stored-column filter (no window at probe time).
    ``label=True`` caps per (tab, bv, label) — the neardup discipline —
    and keeps the label as a join key."""
    bands = spark.read.parquet(f"{path}/bands")
    if label:
        return bands.filter(F.col("bdf_label") <= S.ND_MAX_BUCKET).select(
            F.col("vec_id").alias("vec_b"), "label", "tab", "bv"
        )
    return bands.filter(F.col("bdf") <= S.ND_MAX_BUCKET).select(
        F.col("vec_id").alias("vec_b"), "tab", "bv"
    )


def knn_join_persisted(
    spark: SparkSession, emb: DataFrame, path: str, probe_max: int | None = None
) -> DataFrame:
    """q_knn_join over the standing index: signatures and the pre-capped
    band table come from Parquet; only the candidate join, the re-attach
    equi-joins, and the per-vector top-k run per query. Result-identical
    to the in-plan form (tests/test_ann_index.py pins it at two widths)."""
    read_meta(spark, path)
    sigs = load_signatures(spark, path)
    exact = load_capped_bands(spark, path, label=False)
    return S._knn_topk(emb, probe_max=probe_max, sigs=sigs, exact=exact)


def neardup_persisted(spark: SparkSession, emb: DataFrame, path: str) -> DataFrame:
    """q_neardup_embedding over a standing label-carrying index."""
    if not read_meta(spark, path)["has_label"]:
        raise ValueError(f"neardup needs an index built with label_col: {path}")
    sigs = load_signatures(spark, path)
    exact = load_capped_bands(spark, path, label=True)
    return S._neardup_from_index(emb, sigs, exact)


def neardup_incremental(
    spark: SparkSession,
    new_emb: DataFrame,
    registry_emb: DataFrame,
    path: str,
) -> DataFrame:
    """Batch×registry near-dup screen against the STANDING label index —
    the ingest gate: which incoming vectors near-duplicate something
    already in the registry. The batch pays its own signature kernel AT
    THE INDEX'S config (forced from meta — never the batch's own
    corpus-derived dial, which would disagree with the standing planes'
    width); the registry side is the pre-capped stored band table. The
    join is batch-probes × registry-bands ONLY — never
    registry×registry, the same discipline as dedup_incremental_lsh.
    Output: (label, vec_new, vec_reg, score) at score >= NEARDUP_COSINE.
    ``registry_emb`` re-attaches the registry vectors for exact scoring
    (the index stores signatures, not embeddings — at 100 TB that is the
    standing corpus table the index was built from)."""
    meta = read_meta(spark, path)
    if not meta["has_label"]:
        raise ValueError(f"incremental neardup needs a label index: {path}")
    if int(meta["n_vectors"]) == 0:
        # an EMPTY registry records nd_bits 0 (no derived config exists);
        # nothing can near-duplicate it — typed empty result
        return spark.createDataFrame(
            [], "label int, vec_new long, vec_reg long, score double"
        )
    cfg = _forced_cfg(spark, int(meta["nd_bits"]), int(meta["nd_tables"]))
    # barrier=False: the batch signatures feed ONLY the probe explode
    batch_sigs = S._nd_sigs(new_emb, ["vec_id", "label"], cfg=cfg, barrier=False)
    probes = S._nd_probes(batch_sigs, "vec_new", extra=("label",))
    exact = load_capped_bands(spark, path, label=True)
    cand = (
        probes.join(exact, ["tab", "bv", "label"])
        .filter(F.col("vec_new") != F.col("vec_b"))
        .select("label", "vec_new", F.col("vec_b").alias("vec_reg"))
        .distinct()
    )
    ea = new_emb.select(
        F.col("vec_id").alias("vec_new"),
        F.col("embedding").alias("ea"),
        F.expr(S._norm_spark("embedding")).alias("norm_a"),
    )
    eb = registry_emb.select(
        F.col("vec_id").alias("vec_reg"),
        F.col("embedding").alias("eb"),
        F.expr(S._norm_spark("embedding")).alias("norm_b"),
    )
    return (
        cand.join(ea, "vec_new")
        .join(eb, "vec_reg")
        .select(
            "label",
            "vec_new",
            "vec_reg",
            F.expr(
                f"round({S._dot_spark('ea', 'eb')} / (norm_a * norm_b), 6)"
            ).alias("score"),
        )
        .filter(F.col("score") >= S.NEARDUP_COSINE)
    )


def freshness_audit(spark: SparkSession, emb: DataFrame, path: str) -> dict:
    """Is the standing LSH index stale against the live corpus? Same
    contract as operators/ivf_index.freshness_audit: ``n_missing`` > 0 →
    the delta needs indexing (signatures for just those rows, bands
    appended — the widen kernel's sibling move); ``n_orphaned`` > 0 →
    corpus rewritten: rebuild. One id-column-only job
    (persisted_index.coverage).

    r12 (verdict item 3): the audit also closes the WIDTH loop —
    ``recommended_bits`` is the corpus-count-derived policy width for
    the LIVE corpus (``S.nd_recommended_bits``, the lsh_width_sweep
    dial applied), and ``stale_width`` flips when the live corpus has
    outgrown the stored band width. The fix is ``widen_ann_index`` to
    ``recommended_bits`` (~2x cheaper than a rebuild, byte-identical —
    SOAK_r11), which restamps the meta and clears the flag. An empty
    live corpus never raises the flag (nothing to probe)."""
    meta = read_meta(spark, path)
    cov = P.coverage(meta["n_vectors"], emb, load_signatures(spark, path))
    rec = S.nd_recommended_bits(cov["n_live"])
    return {
        **cov,
        "nd_bits": meta["nd_bits"],
        "recommended_bits": rec,
        "stale_width": bool(cov["n_live"]) and rec > meta["nd_bits"],
    }


def register_bands_bucketed(
    spark: SparkSession, path: str, table: str, n_buckets: int = 32
) -> None:
    """Catalog-bucketed twin of ``{path}/bands``: the same rows saved as
    a managed table BUCKETED by (tab, bv), so every probe join against
    it reads bucket-aligned splits and shuffles ONLY the probe side —
    the 1000-executor layout for a standing index probed by many
    queries. (Plain-path Parquet cannot record bucketing metadata;
    operators/bucketing.py documents the rules.)"""
    spark.read.parquet(f"{path}/bands").write.mode("overwrite").bucketBy(
        n_buckets, "tab", "bv"
    ).sortBy("tab", "bv").saveAsTable(table)


def _widen_kernel(old_bits: int, old_tables: int, new_bits: int, new_tables: int):
    """mapInPandas kernel for the incremental widen: input rows carry
    the OLD index's dot arrays d0..d{old_tables-1} plus the embedding;
    output is the full new-config signature row. Only the new planes —
    (t < old_tables, old_bits <= f < new_bits) and (old_tables <= t <
    new_tables, f < new_bits) — are computed; old dots are reused
    verbatim, so the widened index is byte-identical to a from-scratch
    build at the new config (each plane column's fold is independent in
    the fused accumulator — see _nd_sig_batches)."""
    import numpy as np

    # new-plane matrix, indexed by the same frozen layout the full
    # kernel uses; columns ordered (t, f) over the NEW region only
    new_cols: list[tuple[int, int]] = []
    for t in range(new_tables):
        lo = old_bits if t < old_tables else 0
        for f in range(lo, new_bits):
            new_cols.append((t, f))
    planes = np.empty((S.EMB_DIM, len(new_cols)), dtype=np.float64)
    for j, (t, f) in enumerate(new_cols):
        planes[:, j] = S._ND_PLANES[S._ND_PLANE_IDX[(t, f)]]
    col_of = {tf: j for j, tf in enumerate(new_cols)}

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            acc = np.zeros((n, len(new_cols)), dtype=np.float64)
            for i in range(S.EMB_DIM):
                acc += v[:, i : i + 1] * planes[i]
            out = {c: pdf[c] for c in pdf.columns if c == "vec_id" or c == "label"}
            out["nd_bits"] = np.full(n, new_bits, dtype=np.int32)
            out["nd_tables"] = np.full(n, new_tables, dtype=np.int32)
            weights = (1 << np.arange(new_bits, dtype=np.int64)).astype(np.int32)
            k = min(S.ND_PROBE_K, new_bits)
            for t in range(S.ND_BANDS):
                if t >= new_tables:
                    out[f"t{t}"] = pd.array([None] * n, dtype="Int32")
                    out[f"p{t}"] = pd.Series([None] * n, dtype=object)
                    out[f"d{t}"] = pd.Series([None] * n, dtype=object)
                    continue
                if t < old_tables:
                    d_old = np.stack(pdf[f"d{t}"].to_numpy()).astype(np.float64)
                    d_new = acc[:, [col_of[(t, f)] for f in range(old_bits, new_bits)]]
                    d = np.concatenate([d_old, d_new], axis=1)
                else:
                    d = acc[:, [col_of[(t, f)] for f in range(new_bits)]]
                out[f"t{t}"] = ((d > 0.0).astype(np.int32) @ weights).astype(np.int32)
                order = np.argsort(np.abs(d), axis=1, kind="stable")[:, :k].astype(
                    np.int32
                )
                out[f"p{t}"] = pd.Series(list(order))
                out[f"d{t}"] = pd.Series(list(d))
            yield pd.DataFrame(out)

    return kernel


def widen_ann_index(
    spark: SparkSession,
    emb: DataFrame,
    path: str,
    out_path: str,
    bits: int,
    tables: int | None = None,
) -> dict:
    """Incrementally widen the index at ``path`` to (bits, tables),
    writing the result at ``out_path``. One equi-join re-attaches each
    vector's embedding to its stored dot arrays; the kernel computes
    ONLY the new planes. Requires bits >= the old width and tables >=
    the old table count (the frozen layout appends, never rewrites)."""
    meta = read_meta(spark, path)
    old_bits, old_tables = int(meta["nd_bits"]), int(meta["nd_tables"])
    if tables is None:
        tables = _derived_tables(bits)
    if bits < old_bits or tables < old_tables:
        raise ValueError(f"widen only: ({old_bits},{old_tables}) -> ({bits},{tables})")
    label = bool(meta["has_label"])
    cols = ["vec_id"] + (["label"] if label else [])
    old_sigs = load_signatures(spark, path)
    sigs = old_sigs.select(*cols, *[f"d{t}" for t in range(old_tables)])
    joined = sigs.join(emb.select("vec_id", "embedding"), "vec_id")
    sig_fields = (
        [f"t{t} int" for t in range(S.ND_BANDS)]
        + [f"p{t} array<int>" for t in range(S.ND_BANDS)]
        + [f"d{t} array<double>" for t in range(S.ND_BANDS)]
    )
    passthrough = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in old_sigs.schema
        if f.name in cols
    ]
    schema = ", ".join(
        passthrough + ["nd_bits int", "nd_tables int"] + sig_fields
    )
    widened = joined.mapInPandas(
        _widen_kernel(old_bits, old_tables, bits, tables), schema
    )
    n_back = int(P.counted_write(
        widened, lambda d: d.write.mode("overwrite").parquet(f"{out_path}/signatures")
    )["n"])
    _write_bands(spark.read.parquet(f"{out_path}/signatures"), label, out_path)
    return P.write_meta(out_path, {
        **meta,
        "nd_bits": bits,
        "nd_tables": tables,
        "n_vectors": n_back,
        # the corpus the index HOLDS is unchanged by a widen; the policy
        # width is restamped from it so a widen to >= this value clears
        # the audit's stale_width flag
        "recommended_bits": S.nd_recommended_bits(n_back),
    })
