"""Persisted MinHash-LSH text index: build once, probe every drop.

The in-plan text near-dup operators (plans/dedup: q_dedup_minhash_lsh,
q_dedup_incremental_lsh) recompute shingle hashes and MinHash
signatures inside every query — fine per query, but a continuously-fed
corpus at 100 TB pays that corpus scan once per DROP unless the
registry's signatures and band buckets are a standing table. This is
the text-side sibling of operators/ann_index (VERDICT r7 item 1's
build-once/probe-many discipline, applied to the MinHash family whose
config is FIXED — 16 md5-derived permutations, 4 bands x 4 rows — so
no widening machinery is needed; outgrowing the banding is a linear
rebuild by construction):

- ``{path}/signatures`` — (doc_id, sig_0..sig_15), the md5-derived
  MinHash signatures (identical arithmetic to plans/dedup, so every
  probe result is value-identical to the in-plan twin and SHARES its
  DuckDB oracle).
- ``{path}/bands`` — the exploded band-bucket table
  (band_idx, band_val, doc_id, bdf) with per-bucket fill counts
  PRECOMPUTED and stored UNCAPPED: the hot-bucket guard
  (plans/dedup.MAX_BAND_BUCKET) becomes a stored-column filter at probe
  time instead of a window over the standing table, and a future cap
  change needs no rebuild. Laid out by (band_idx, band_val) so a probe
  join's build side is collocated.
- ``{path}/meta.json`` — layout version, doc count, banding config,
  and the default cap: the compatibility contract a probe checks before
  trusting the index. Committed last by atomic rename and read without
  a Spark job (operators/persisted_index, the lifecycle all three
  persisted indexes share); ``path`` is driver-local.

Scale shape: the build is one corpus scan (the md5/shingle kernel paid
ONCE) + one band repartition; a registry-internal pair probe reads the
pre-capped bands and never recomputes a signature; an ingest probe
computes signatures for the BATCH only and equi-joins the standing
bands — batch x registry, never registry x registry.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans import dedup as D
from . import persisted_index as P

TEXT_INDEX_VERSION = 1
N_SIGS = len(D.MINHASH_A)


def _sigs_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, sig_0..sig_15): exactly q_dedup_minhash_lsh's signature
    arithmetic (word-3-gram shingles, md5-derived 32-bit hashes, fixed
    permutation table) including its NULL-banding guard — docs with no
    shingles are excluded before signing."""
    raw = (
        docs.select("doc_id", "text")
        .withColumn("toks", F.split("text", " "))
        .withColumn("sh", F.expr(D._SHINGLES_SPARK))
        .withColumn("hs", F.expr(f"transform(sh, s -> {D._h32_spark('s')})"))
    )
    signed = D._barrier(raw, ["doc_id"], ["hs"]).filter(F.size("hs") > 0)
    return signed.select(
        "doc_id",
        *[F.expr(D._minhash_sig_spark(j)).alias(f"sig_{j}") for j in range(N_SIGS)],
    )


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_val) — one row per (doc, band)."""
    band_cols = [
        F.concat_ws(
            "-",
            *[
                F.col(f"sig_{k}")
                for k in range(b * D.ROWS_PER_BAND, (b + 1) * D.ROWS_PER_BAND)
            ],
        ).alias(f"band_{b}")
        for b in range(D.N_BANDS)
    ]
    return sigs.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_val")
    )


def _write_bands(bands: DataFrame, dest: str) -> None:
    """Band rows with their per-bucket fill count ``bdf`` (one window),
    laid out by (band_idx, band_val) at ``dest``."""
    w = Window.partitionBy("band_idx", "band_val")
    bands.withColumn("bdf", F.count("*").over(w)).repartition(
        "band_idx", "band_val"
    ).write.mode("overwrite").parquet(dest)


def _commit_meta(path: str, n_docs: int) -> None:
    P.write_meta(path, {
        "version": TEXT_INDEX_VERSION,
        "n_docs": n_docs,
        "n_bands": D.N_BANDS,
        "rows_per_band": D.ROWS_PER_BAND,
        "default_cap": D.MAX_BAND_BUCKET,
    })


def build_text_index(docs: DataFrame, path: str) -> None:
    """Build the standing index at ``path`` (overwrite). One corpus scan
    computes and persists the signatures; the band table derives from
    the STORED signatures (the md5 kernel never runs twice)."""
    # doc count rides the WRITE (r13): the previous sigs.count()
    # re-scanned the just-written signatures — at 100 TB a full extra
    # pass of the standing table per build
    n_docs = P.counted_write(
        _sigs_from_docs(docs),
        lambda d: d.write.mode("overwrite").parquet(f"{path}/signatures"),
    )["n"]
    _write_bands(
        _band_rows(docs.sparkSession.read.parquet(f"{path}/signatures")),
        f"{path}/bands",
    )
    _commit_meta(path, int(n_docs))


def read_meta(spark: SparkSession, path: str) -> dict:
    return P.read_meta(path, TEXT_INDEX_VERSION)


def load_signatures(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/signatures")


def load_capped_bands(
    spark: SparkSession, path: str, cap: int = D.MAX_BAND_BUCKET
) -> DataFrame:
    """The band table with the hot-bucket guard applied as a stored-
    column filter (pushed into the Parquet scan — no window)."""
    return (
        spark.read.parquet(f"{path}/bands").filter(F.col("bdf") <= cap).drop("bdf")
    )


def _est_jaccard(cand: DataFrame, sa: DataFrame, sb: DataFrame, a: str, b: str):
    matches = F.lit(0) + sum(
        (F.col(f"la_{j}") == F.col(f"lb_{j}")).cast("int") for j in range(N_SIGS)
    )
    return (
        cand.join(sa, a)
        .join(sb, b)
        .select(a, b, F.round(matches / float(N_SIGS), 4).alias("est_jaccard"))
    )


def _renamed_sigs(sigs: DataFrame, id_alias: str, prefix: str) -> DataFrame:
    return sigs.select(
        F.col("doc_id").alias(id_alias),
        *[F.col(f"sig_{j}").alias(f"{prefix}_{j}") for j in range(N_SIGS)],
    )


def neardup_text_persisted(spark: SparkSession, path: str) -> DataFrame:
    """Registry-internal near-dup pairs from the standing index alone —
    value-identical to q_dedup_minhash_lsh over the same docs (shares
    its oracle); no signature, shingle, or window stage at probe time."""
    read_meta(spark, path)
    bands = load_capped_bands(spark, path)
    lhs = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_val")
    rhs = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_val")
    cand = (
        lhs.join(rhs, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sigs = load_signatures(spark, path)
    return _est_jaccard(
        cand,
        _renamed_sigs(sigs, "doc_a", "la"),
        _renamed_sigs(sigs, "doc_b", "lb"),
        "doc_a",
        "doc_b",
    )


def ingest_text_persisted(
    spark: SparkSession,
    batch_docs: DataFrame,
    path: str,
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """Ingest probe: the batch's signatures compute in-plan (batch-sized
    work), its band rows equi-join the standing pre-capped bands —
    batch x registry only. Value-identical to q_dedup_incremental_lsh
    when the index holds the registry slice (shares its oracle).
    Output: (batch_doc, registry_doc, est_jaccard).

    ``exclude_ids`` (a 1-column doc_id frame) removes those docs from
    the registry side by anti-join — the streaming gate's
    replay-stability primitive: re-probing after a crashed append sees
    the pre-batch MEMBERSHIP. The stored fill counts are not
    recomputed under exclusion, so a bucket a crashed append pushed
    over the cap stays suppressed until the next append recounts —
    a conservative (recall-reducing, never wrong-pair) degrade."""
    read_meta(spark, path)
    bsigs = _sigs_from_docs(batch_docs).localCheckpoint(eager=False)
    bexp = _band_rows(bsigs).select(
        F.col("doc_id").alias("batch_doc"), "band_idx", "band_val"
    )
    reg_bands = load_capped_bands(spark, path)
    reg_sigs = load_signatures(spark, path)
    if exclude_ids is not None:
        ids = exclude_ids.select("doc_id")
        reg_bands = reg_bands.join(ids, "doc_id", "left_anti")
        reg_sigs = reg_sigs.join(ids, "doc_id", "left_anti")
    reg = reg_bands.select(
        F.col("doc_id").alias("registry_doc"), "band_idx", "band_val"
    )
    cand = (
        bexp.join(reg, ["band_idx", "band_val"])
        .select("batch_doc", "registry_doc")
        .distinct()
    )
    return _est_jaccard(
        cand,
        _renamed_sigs(bsigs, "batch_doc", "la"),
        _renamed_sigs(reg_sigs, "registry_doc", "lb"),
        "batch_doc",
        "registry_doc",
    )


def freshness_audit(spark: SparkSession, path: str) -> dict:
    """Detects a crashed append (meta behind the stored rows) or band
    drift: {n_docs_meta, n_docs_stored, n_band_rows, consistent}. A
    consistent index has n_band_rows == n_docs_stored * n_bands and
    meta agreeing with storage."""
    meta = read_meta(spark, path)
    n_stored = load_signatures(spark, path).count()
    n_band_rows = spark.read.parquet(f"{path}/bands").count()
    return {
        "n_docs_meta": meta["n_docs"],
        "n_docs_stored": n_stored,
        "n_band_rows": n_band_rows,
        "consistent": meta["n_docs"] == n_stored
        and n_band_rows == n_stored * D.N_BANDS,
    }


def append_text_index(spark: SparkSession, new_docs: DataFrame, path: str) -> dict:
    """Incremental append: sign ONLY the new docs, append their
    signature and band rows, and rewrite the fill counts of exactly the
    buckets the new rows touch (merge-on-write at the bucket grain —
    untouched buckets' files are rewritten only because Parquet has no
    row-level update; on a table format this is a MERGE). The cap stays
    probe-time, so appended mass that tips a bucket over the guard
    takes effect on the next probe with no further maintenance.
    Returns {n_added, n_docs}."""
    meta = read_meta(spark, path)
    new_sigs = _sigs_from_docs(new_docs).localCheckpoint(eager=True)
    n_added = new_sigs.count()
    new_sigs.write.mode("append").parquet(f"{path}/signatures")
    # recount fills over old + new band rows (one window over the union;
    # the union reads stored band rows, never re-signs old docs)
    old = spark.read.parquet(f"{path}/bands").drop("bdf")
    staging = f"{path}/bands_staging"
    _write_bands(old.unionByName(_band_rows(new_sigs)), staging)
    spark.read.parquet(staging).write.mode("overwrite").parquet(f"{path}/bands")
    shutil.rmtree(staging, ignore_errors=True)
    # meta commits LAST (the incremental_migration commit-last discipline):
    # a crash mid-append leaves meta's n_docs behind the stored signature
    # count, which freshness_audit detects — append is NOT crash-atomic on
    # plain Parquet (a table format's MERGE would subsume this).
    n_docs = meta["n_docs"] + n_added
    _commit_meta(path, n_docs)
    return {"n_added": n_added, "n_docs": n_docs}
