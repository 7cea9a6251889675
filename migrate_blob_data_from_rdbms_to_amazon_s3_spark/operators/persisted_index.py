"""The one lifecycle of a persisted index: meta commit, counted write, coverage.

``operators/ann_index`` (hyperplane LSH), ``operators/ivf_index`` (IVF
cells) and ``operators/text_index`` (MinHash LSH) each keep a few
Parquet tables under one index directory, built once and then probed,
appended to or widened many times. The steps they share live here and
nowhere else:

- **The meta file.** ``{path}/meta.json`` is one JSON object: the layout
  version, the row count and the config a probe must agree with. It is
  written on the driver LAST, after every table of the index, by temp
  file + fsync + atomic rename (``mutation.commit_json``, the run
  ledger's commit). A crash or failed job before the rename leaves the
  previous meta in place and readable. ``read_meta`` is a plain file
  read, so no Spark job runs; it raises ``ValueError`` (rebuild the
  index) for a wrong layout version or embedding dim, or for a meta it
  cannot parse, such as the Spark-written ``meta/`` directory of the
  older layout.
- **The counted write.** A table's row count (and any other aggregate)
  is an ``Observation`` on its write, so nothing re-scans what was just
  written.
- **The coverage audit.** ``n_live``/``n_missing``/``n_orphaned`` of an
  index's ids against the live corpus, in one Spark job.

Index paths are driver-local POSIX paths, like the ledger's
``state_path``: the meta is a driver-side file, and
``text_index.append_text_index`` removes its staging directory with
``shutil``.
"""

from __future__ import annotations

import json
import os

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .mutation import commit_json

META_FILE = "meta.json"


def write_meta(path: str, meta: dict) -> dict:
    """Commit ``meta`` as the index's meta file; returns it."""
    commit_json(os.path.join(path, META_FILE), meta)
    return meta


def read_meta(path: str, version: int, **expect) -> dict:
    """The index's meta, checked against the engine's layout ``version``
    and each ``expect`` key (e.g. ``emb_dim``). ``FileNotFoundError``
    when there is no index at ``path``; ``ValueError`` when there is one
    this engine cannot read."""
    try:
        with open(os.path.join(path, META_FILE)) as fh:
            meta = json.load(fh)
    except FileNotFoundError:
        if not os.path.isdir(os.path.join(path, "meta")):
            raise
        meta = None  # the older layout's Spark-written meta directory
    except ValueError:  # not JSON, or not text
        meta = None
    want = {"version": version, **expect}
    if not isinstance(meta, dict) or any(meta.get(k) != v for k, v in want.items()):
        raise ValueError(
            f"index at {path}: meta {meta!r} does not match {want}; "
            f"the index must be rebuilt"
        )
    return meta


def counted_write(df: DataFrame, write, **aggs) -> dict:
    """Run ``write`` on ``df`` with its row count ``n`` and each of
    ``aggs`` (name → aggregate column) observed on the write itself.
    Returns ``{"n": ..., **aggs}``.

    A zero-row write can post no metrics row, and then ``obs.get``
    raises. On Spark 4.1 that happens for an empty frame observed before
    a ``repartition`` and a ``partitionBy`` write (IVF's cells), while an
    empty ``createDataFrame``, ``emptyRDD`` or all-filtered shuffle reads
    ``n`` 0. The count then comes from ``df`` itself, trivially cheap on
    that path, and every other aggregate is None. Any other error, a key
    typo included, surfaces."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("n"),
                     *[c.alias(k) for k, c in aggs.items()]))
    try:
        return obs.get
    except (PySparkException, Py4JError):
        return {"n": df.count(), **dict.fromkeys(aggs)}


def coverage(n_indexed: int, live: DataFrame, indexed: DataFrame) -> dict:
    """Does the index hold exactly the live corpus? ``n_missing`` > 0:
    live ids the index lacks (index the delta); ``n_orphaned`` > 0:
    indexed ids gone from the corpus (rebuild). One job: a full-outer
    join of the two ``vec_id`` sets aggregating membership markers, one
    id-only scan of each side. ``vec_id`` is unique on both sides by
    contract, so the outer join preserves rows."""
    r = (
        live.select("vec_id", F.lit(1).alias("__l"))
        .join(indexed.select("vec_id", F.lit(1).alias("__i")), "vec_id", "full_outer")
        .agg(
            F.count("__l").alias("n_live"),
            F.count(F.when(F.col("__i").isNull(), 1)).alias("n_missing"),
            F.count(F.when(F.col("__l").isNull(), 1)).alias("n_orphaned"),
        )
        .collect()[0]
    )
    n_missing, n_orphaned = int(r["n_missing"]), int(r["n_orphaned"])
    return {
        "n_indexed": int(n_indexed),
        "n_live": int(r["n_live"]),
        "n_missing": n_missing,
        "n_orphaned": n_orphaned,
        "stale": bool(n_missing or n_orphaned),
    }
