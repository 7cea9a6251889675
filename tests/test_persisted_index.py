"""The persisted-index lifecycle (operators/persisted_index) shared by the
ANN-LSH, IVF and MinHash text indexes: one atomic JSON meta file read
without Spark, one counted write, one id-coverage audit."""

from __future__ import annotations

import ast
import json
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators import ann_index as A
from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators import ivf_index as I
from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators import persisted_index as P
from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators import text_index as X
from migrate_blob_data_from_rdbms_to_amazon_s3_spark.plans import dedup

EMPTY_EMB = "vec_id long, embedding array<float>, label int"
EMPTY_DOCS = "doc_id long, text string"


def _build(kind, spark, sf_dir, path, empty=False):
    """Build index ``kind`` at ``path``; returns (module, row-count key)."""
    if kind == "text":
        docs = (spark.createDataFrame([], EMPTY_DOCS) if empty
                else dedup._docs(spark, sf_dir))
        X.build_text_index(docs, path)
        return X, "n_docs"
    emb = (spark.createDataFrame([], EMPTY_EMB) if empty
           else spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    if kind == "ann":
        A.build_ann_index(emb, path, label_col="label")
        return A, "n_vectors"
    I.build_ivf_index(emb, path)
    return I, "n_vectors"


def _job_ids(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _rewrite_meta(path, **changes):
    file = os.path.join(path, P.META_FILE)
    with open(file) as fh:
        meta = json.load(fh)
    with open(file, "w") as fh:
        json.dump({**meta, **changes}, fh)


@pytest.mark.parametrize("kind", ["text", "ann", "ivf"])
def test_empty_corpus_build_records_zero_rows(spark, sf_dir, tmp_path, kind):
    path = str(tmp_path / kind)
    mod, key = _build(kind, spark, sf_dir, path, empty=True)
    assert mod.read_meta(spark, path)[key] == 0


def test_counted_write_falls_back_when_no_metrics_row(spark, tmp_path):
    """IVF's cell shape on an empty frame (observe, then repartition and
    a partitionBy write) posts no metrics row on Spark 4.1; the count
    still comes back 0 and the other aggregates None."""
    empty = spark.createDataFrame([], "vec_id long, cluster int")
    got = P.counted_write(
        empty,
        lambda d: d.repartition(F.col("cluster")).write.mode("overwrite")
        .partitionBy("cluster").parquet(str(tmp_path / "cells")),
        top=F.max("vec_id"),
    )
    assert got["n"] == 0 and got["top"] is None


@pytest.mark.parametrize("kind", ["text", "ann", "ivf"])
def test_read_meta_launches_no_spark_job(spark, sf_dir, tmp_path, kind):
    path = str(tmp_path / kind)
    mod, key = _build(kind, spark, sf_dir, path)
    meta = {}
    ids = _job_ids(spark, f"read-meta-{kind}",
                   lambda: meta.update(mod.read_meta(spark, path)))
    assert ids == [] and meta[key] > 0


@pytest.mark.parametrize("kind", ["text", "ann", "ivf"])
def test_wrong_version_or_layout_raises_value_error(spark, sf_dir, tmp_path, kind):
    path = str(tmp_path / kind)
    mod, _ = _build(kind, spark, sf_dir, path, empty=True)
    good = mod.read_meta(spark, path)
    _rewrite_meta(path, version=99)
    with pytest.raises(ValueError, match="must be rebuilt"):
        mod.read_meta(spark, path)
    if kind != "text":
        _rewrite_meta(path, version=good["version"], emb_dim=good["emb_dim"] + 1)
        with pytest.raises(ValueError, match="must be rebuilt"):
            mod.read_meta(spark, path)
    # the older layout: a Spark-written Parquet meta directory, no meta.json
    os.remove(os.path.join(path, P.META_FILE))
    spark.createDataFrame([(1, 0)], "version int, n_docs bigint").write.parquet(
        os.path.join(path, "meta")
    )
    with pytest.raises(ValueError, match="must be rebuilt"):
        mod.read_meta(spark, path)
    with open(os.path.join(path, P.META_FILE), "wb") as fh:
        fh.write(b"PAR1\x00\xff")
    with pytest.raises(ValueError, match="must be rebuilt"):
        mod.read_meta(spark, path)


def test_no_index_is_file_not_found(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        X.read_meta(spark, str(tmp_path / "none"))


def test_meta_write_interrupted_before_rename_keeps_previous(spark, sf_dir, tmp_path,
                                                             monkeypatch):
    docs = dedup._docs(spark, sf_dir)
    path = str(tmp_path / "text")
    X.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), path)
    before = X.read_meta(spark, path)

    def crash(*_):
        raise OSError("crash before the rename")

    monkeypatch.setattr(os, "rename", crash)
    with pytest.raises(OSError, match="crash before the rename"):
        X.append_text_index(spark, docs.filter(F.col("doc_id") % 2 == 1), path)
    monkeypatch.undo()
    assert X.read_meta(spark, path) == before
    # the stored rows ran ahead of the meta: the audit sees the gap
    assert not X.freshness_audit(spark, path)["consistent"]


def test_lifecycle_lives_in_one_module():
    """Under ``operators/``, the index meta's path, the counted write's
    ``except (PySparkException, Py4JError)`` fallback and the ``vec_id``
    full-outer coverage join appear only in ``persisted_index``."""
    ops = pathlib.Path(P.__file__).resolve().parent
    meta, fallback, coverage = [], [], []
    for path in sorted(ops.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            where = (path.name, node.lineno) if hasattr(node, "lineno") else None
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and node.value.rstrip("/").split("/")[-1] in ("meta", "meta.json")):
                meta.append(where)
            if isinstance(node, ast.ExceptHandler) and isinstance(node.type, ast.Tuple):
                names = {getattr(e, "id", None) for e in node.type.elts}
                if {"PySparkException", "Py4JError"} <= names:
                    fallback.append(where)
            if (isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "join"
                    and [getattr(a, "value", None) for a in node.args[1:]]
                    == ["vec_id", "full_outer"]):
                coverage.append(where)
    assert {f for f, _ in meta} == {"persisted_index.py"}
    assert [f for f, _ in fallback] == ["persisted_index.py"]
    assert [f for f, _ in coverage] == ["persisted_index.py"]
