"""Persisted ANN-LSH index (operators/ann_index): build-once/probe-many
equivalence, incremental widen bit-identity, and the bucketed-table
layout.

The contract under test: a standing index probed from Parquet gives
EXACTLY the rows the in-plan index computes (at the corpus-derived AND
at forced widths), and widening a narrow index recomputes only the new
planes yet lands byte-identical to a from-scratch build at the wide
config — the frozen plane layout's whole point."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.ann_index import (
    _forced_cfg,
    build_ann_index,
    knn_join_persisted,
    load_capped_bands,
    load_signatures,
    neardup_incremental,
    neardup_persisted,
    read_meta,
    register_bands_bucketed,
    widen_ann_index,
)
from migrate_blob_data_from_rdbms_to_amazon_s3_spark.plans import similarity as S


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _sig_rows(df, tables):
    cols = (
        ["vec_id", "nd_bits", "nd_tables"]
        + [f"t{t}" for t in range(tables)]
        + [f"p{t}" for t in range(tables)]
        + [f"d{t}" for t in range(tables)]
    )
    out = []
    for r in df.select(*cols).collect():
        out.append(
            tuple(
                tuple(v) if isinstance(v, list) else v
                for v in (r[c] for c in cols)
            )
        )
    return sorted(out)


def test_persisted_knn_equals_in_plan(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "idx")
    meta = build_ann_index(emb, path)
    assert meta["n_vectors"] == emb.count()
    got = _rows(knn_join_persisted(spark, emb, path))
    want = _rows(S._knn_topk(emb))
    assert got == want and len(got) > 0


def test_neardup_incremental_is_batch_x_registry(spark, sf_dir, tmp_path):
    """The ingest gate touches batch×registry pairs ONLY: every emitted
    pair has vec_new from the batch and vec_reg from the registry, the
    scores clear the threshold, and an empty batch / empty registry
    degrade typed."""
    emb = _emb(spark, sf_dir)
    n = emb.count()
    cut = 4 * n // 5
    registry = emb.filter(F.col("vec_id") < cut)
    batch = emb.filter(F.col("vec_id") >= cut)
    path = str(tmp_path / "idx")
    build_ann_index(registry, path, label_col="label")
    out = neardup_incremental(spark, batch, registry, path).collect()
    for r in out:
        assert r["vec_new"] >= cut and r["vec_reg"] < cut
        assert r["score"] >= S.NEARDUP_COSINE
    # empty batch -> empty result, full schema
    empty = neardup_incremental(spark, batch.filter(F.lit(False)), registry, path)
    assert empty.count() == 0
    assert [f.name for f in empty.schema] == ["label", "vec_new", "vec_reg", "score"]
    # empty registry (nd_bits 0 in meta) -> typed empty, no assertion trip
    p0 = str(tmp_path / "idx0")
    build_ann_index(emb.filter(F.lit(False)), p0, label_col="label")
    out0 = neardup_incremental(spark, batch, emb.filter(F.lit(False)), p0)
    assert out0.count() == 0
    assert [f.name for f in out0.schema] == ["label", "vec_new", "vec_reg", "score"]


def test_freshness_audit(spark, sf_dir, tmp_path):
    from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.ann_index import (
        freshness_audit,
    )

    emb = _emb(spark, sf_dir)
    n = emb.count()
    path = str(tmp_path / "idx")
    build_ann_index(emb.filter(F.col("vec_id") < n // 2), path)
    a = freshness_audit(spark, emb, path)
    assert a["n_missing"] == n - n // 2 and a["n_orphaned"] == 0 and a["stale"]
    full = str(tmp_path / "idx_full")
    build_ann_index(emb, full)
    assert freshness_audit(spark, emb, full)["stale"] is False


def test_width_policy_flag_flips_across_decade(spark, sf_dir, tmp_path):
    """r12: the audit's stale_width flag must flip when the live corpus
    outgrows the stored band width across a synthetic decade, and the
    widen path must clear it WITHOUT touching membership semantics."""
    from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.ann_index import (
        freshness_audit,
    )
    from migrate_blob_data_from_rdbms_to_amazon_s3_spark.plans.similarity import (
        nd_recommended_bits,
    )

    emb = _emb(spark, sf_dir)
    n = emb.count()
    path = str(tmp_path / "idx_pol")
    meta = build_ann_index(emb, path)  # corpus-derived width: policy-clean
    assert meta["recommended_bits"] == nd_recommended_bits(n)
    a0 = freshness_audit(spark, emb, path)
    assert a0["stale_width"] is False and a0["nd_bits"] == meta["nd_bits"]

    # grow the live corpus ~30x (stride-shifted copies, the soak move):
    # the policy width rises by ~5 bits and the flag must flip
    grown = emb
    for k in range(1, 30):
        grown = grown.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(k * 1_000_000))
        )
    n_grown = 30 * n
    a1 = freshness_audit(spark, grown, path)
    assert a1["n_live"] == n_grown and a1["n_missing"] == 29 * n
    assert a1["recommended_bits"] == nd_recommended_bits(n_grown)
    assert a1["recommended_bits"] > a1["nd_bits"]
    assert a1["stale_width"] is True

    # widen to the recommendation: width flag clears; membership
    # staleness (the 29n unindexed rows) is untouched — separate fix
    wide = str(tmp_path / "idx_pol_wide")
    widen_ann_index(spark, emb, path, wide, bits=a1["recommended_bits"])
    a2 = freshness_audit(spark, grown, wide)
    assert a2["stale_width"] is False
    assert a2["nd_bits"] == a1["recommended_bits"]
    assert a2["stale"] is True and a2["n_missing"] == 29 * n


def test_persisted_knn_equals_in_plan_forced_width(spark, sf_dir, tmp_path):
    # the equivalence must hold at a width the corpus would not derive:
    # force the SAME config on both sides and compare
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "idx10")
    build_ann_index(emb, path, bits=10, tables=10)
    got = _rows(knn_join_persisted(spark, emb, path))
    sigs = S._nd_sigs(emb, ["vec_id"], cfg=_forced_cfg(spark, 10, 10))
    want = _rows(S._knn_topk(emb, sigs=sigs))
    assert got == want and len(got) > 0


def test_persisted_neardup_equals_in_plan(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "idxnd")
    meta = build_ann_index(emb, path, label_col="label")
    assert meta["has_label"]
    got = _rows(neardup_persisted(spark, emb, path))
    want = _rows(
        __import__(
            "migrate_blob_data_from_rdbms_to_amazon_s3_spark.plans.similarity",
            fromlist=["q_neardup_embedding"],
        ).q_neardup_embedding(spark, sf_dir)
    )
    assert got == want


def test_widen_bit_identical_to_scratch(spark, sf_dir, tmp_path):
    """The headline invariant: incremental widen (old dots reused, only
    new planes computed) == from-scratch build at the wide config, for
    buckets, boundary arrays, AND raw dot arrays."""
    emb = _emb(spark, sf_dir)
    narrow, wide = str(tmp_path / "n"), str(tmp_path / "w")
    build_ann_index(emb, narrow, bits=6, tables=8)
    widen_ann_index(spark, emb, narrow, wide, bits=10, tables=12)
    meta = read_meta(spark, wide)
    assert (meta["nd_bits"], meta["nd_tables"]) == (10, 12)
    scratch = str(tmp_path / "s")
    build_ann_index(emb, scratch, bits=10, tables=12)
    got = _sig_rows(load_signatures(spark, wide), 12)
    want = _sig_rows(load_signatures(spark, scratch), 12)
    assert got == want and len(got) > 0
    # and the derived band tables agree too (incl. precomputed caps)
    gb = _rows(spark.read.parquet(f"{wide}/bands"))
    wb = _rows(spark.read.parquet(f"{scratch}/bands"))
    assert gb == wb


def test_widen_preserves_bucket_prefix(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    narrow, wide = str(tmp_path / "n"), str(tmp_path / "w")
    build_ann_index(emb, narrow, bits=8, tables=8)
    widen_ann_index(spark, emb, narrow, wide, bits=12, tables=12)
    old = load_signatures(spark, narrow).select(
        "vec_id", *[F.col(f"t{t}").alias(f"ot{t}") for t in range(8)]
    )
    new = load_signatures(spark, wide)
    joined = new.join(old, "vec_id")
    bad = joined.filter(
        " OR ".join(f"(t{t} & 255) != ot{t}" for t in range(8))
    ).count()
    assert bad == 0


def test_band_caps_precomputed(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "idx")
    build_ann_index(emb, path, label_col="label")
    bands = spark.read.parquet(f"{path}/bands")
    # bdf is the per-(tab, bv) fill; recompute and compare
    recomputed = bands.groupBy("tab", "bv").agg(
        F.count("*").alias("n"), F.max("bdf").alias("bdf"), F.min("bdf").alias("bdf2")
    )
    assert recomputed.filter("n != bdf OR n != bdf2").count() == 0
    relab = bands.groupBy("tab", "bv", "label").agg(
        F.count("*").alias("n"), F.max("bdf_label").alias("b1"), F.min("bdf_label").alias("b2")
    )
    assert relab.filter("n != b1 OR n != b2").count() == 0
    capped = load_capped_bands(spark, path, label=True)
    assert capped.columns == ["vec_b", "label", "tab", "bv"]


def test_version_gate(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "idx")
    build_ann_index(emb, path)
    with open(f"{path}/meta.json") as fh:
        row = json.load(fh)
    row["version"] = 99
    with open(f"{path}/meta.json", "w") as fh:
        json.dump(row, fh)
    with pytest.raises(ValueError, match="must be rebuilt"):
        read_meta(spark, path)


def test_caller_input_checks_raise_value_error(spark, sf_dir, tmp_path):
    """Out-of-range forced widths, a label probe of a label-less index
    and a narrowing widen are caller errors: ValueError, which
    ``python -O`` keeps (an assert would be stripped)."""
    with pytest.raises(ValueError, match="bits"):
        _forced_cfg(spark, S.ND_MAX_BITS + 1, S.ND_BANDS)
    with pytest.raises(ValueError, match="tables"):
        _forced_cfg(spark, S.ND_MIN_BITS, S.ND_BANDS + 1)
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "idx")
    build_ann_index(emb, path, bits=8, tables=8)
    with pytest.raises(ValueError, match="label"):
        neardup_persisted(spark, emb, path)
    with pytest.raises(ValueError, match="label"):
        neardup_incremental(spark, emb, emb, path)
    with pytest.raises(ValueError, match="widen only"):
        widen_ann_index(spark, emb, path, str(tmp_path / "w"), bits=6, tables=8)


def test_bucketed_registration(spark, sf_dir, tmp_path):
    """The catalog-bucketed twin: same rows, and the scan reports the
    bucket spec (the no-build-side-exchange layout for repeat probes)."""
    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "idx")
    build_ann_index(emb, path)
    register_bands_bucketed(spark, path, "ann_bands_test", n_buckets=8)
    try:
        t = spark.table("ann_bands_test")
        assert _rows(t) == _rows(spark.read.parquet(f"{path}/bands"))
        desc = spark.sql("DESCRIBE TABLE EXTENDED ann_bands_test").collect()
        txt = "\n".join(f"{r.col_name} {r.data_type}" for r in desc)
        assert "Num Buckets 8" in txt and "tab" in txt
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_bands_test")


def test_persisted_decon_equals_in_plan(spark, sf_dir, tmp_path):
    """The eval-slice-probed decontamination over the standing index
    returns exactly the in-plan query's rows (same probe_filter seam,
    persisted sigs/bands)."""
    from pyspark.sql import functions as F

    from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.ann_index import (
        load_capped_bands,
        load_signatures,
    )
    from migrate_blob_data_from_rdbms_to_amazon_s3_spark.plans.contamination import (
        DECON_EVAL_MOD,
        decon_from_scored,
    )

    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "idx_decon")
    build_ann_index(emb, path)
    pf = F.col("vec_id") % DECON_EVAL_MOD == 0
    got = _rows(decon_from_scored(S._knn_scored_pairs(
        emb, sigs=load_signatures(spark, path),
        exact=load_capped_bands(spark, path), probe_filter=pf)))
    want = _rows(decon_from_scored(S._knn_scored_pairs(emb, probe_filter=pf)))
    assert got == want and len(got) > 0
