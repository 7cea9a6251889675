"""Seeded input generator for the three workloads.

Everything a run feeds the program, and everything its output checks
compare against, comes from here and from the seed alone:

- ``backfill_rows``: the in-row blob table with a fixed size mix (empty,
  2 KB, 64 KB, 1 MB, exactly the 10 MB cap, one row just over the cap)
  and the write receipt a correct migration must produce;
- ``cdc_stream``: an append-only change feed of inserts, updates and
  ``op='D'`` tombstones, with one update that grows a blob past the cap,
  and the live state expected after each pass;
- ``registry_tables``: small star-schema tables (orders, lineitem, part,
  supplier, documents) for the registry queries.

Category counts are fixed and only positions, keys and bytes vary with
the seed, so two seeds cost the program the same work.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

CAP = 10 * 1024 * 1024  # blob_pipeline.MAX_OBJECT_BYTES, restated independently
KB, MB = 1024, 1024 * 1024
OBJECT_SUFFIX = "image.png"  # the package's default s3_prefix


def object_key(order_id: str) -> str:
    return f"orders/{order_id}/{OBJECT_SUFFIX}"


def md5(b: bytes) -> str:
    return hashlib.md5(b).hexdigest()


@dataclass(frozen=True)
class Row:
    seq: int
    order_id: str
    description: str
    blob: bytes
    op: str = "I"  # I insert, U update, D tombstone


def _ids(rng: np.random.Generator, n: int) -> list[str]:
    raw = rng.integers(0, 2**63, size=(n, 2), dtype=np.int64)
    return [f"{a:016x}-{b:016x}" for a, b in raw]


def _desc(rng: np.random.Generator, tag: str) -> str:
    return f"{tag} {int(rng.integers(0, 10**6)):06d}"


# -- backfill -----------------------------------------------------------------

# (size in bytes, rows per 1000); the cap rows are one each at any size.
BACKFILL_MIX = [(0, 100), (2 * KB, 590), (64 * KB, 300), (1 * MB, 8)]


def backfill_sizes(n_rows: int) -> list[int]:
    """Blob sizes in seq order, before the seeded shuffle: the mix scaled
    to ``n_rows``, plus the exact-cap and over-cap rows."""
    body = n_rows - 2
    counts = [max(1, round(c * body / 1000)) for _, c in BACKFILL_MIX]
    counts[1] += body - sum(counts)  # 2 KB absorbs rounding
    sizes = [s for (s, _), c in zip(BACKFILL_MIX, counts) for _ in range(c)]
    return sizes + [CAP, CAP + 1]


def backfill_rows(seed: int, n_rows: int, n_blocks: int = 10) -> list[Row]:
    """``n_rows`` rows. Sizes are dealt round-robin into ``n_blocks``
    contiguous seq ranges and shuffled within each block, so every
    range-partitioned scan task gets the same mix whatever the seed."""
    rng = np.random.default_rng([seed, 1])
    sizes = sorted(backfill_sizes(n_rows), reverse=True)
    blocks = [sizes[i::n_blocks] for i in range(n_blocks)]
    ordered = []
    for b in blocks:
        ordered += [b[i] for i in rng.permutation(len(b))]
    ids = _ids(rng, n_rows)
    return [
        Row(i + 1, ids[i], _desc(rng, "order"), rng.bytes(s))
        for i, s in enumerate(ordered)
    ]


def expected_manifest(rows: list[Row]) -> list[tuple]:
    """The write receipt a correct migration of ``rows`` produces
    (blob_pipeline.WRITE_MANIFEST_SCHEMA): over-cap blobs are rejected and
    never written."""
    out = []
    for r in rows:
        if len(r.blob) > CAP:
            out.append((r.order_id, None, len(r.blob), None, "rejected_oversize"))
        else:
            out.append(
                (r.order_id, object_key(r.order_id), len(r.blob), md5(r.blob), "written")
            )
    return out


# -- CDC -----------------------------------------------------------------------

CDC_SIZES = [(0, 10), (2 * KB, 55), (16 * KB, 30), (64 * KB, 5)]  # per 100 rows


@dataclass
class CdcStream:
    rows: list[Row]           # all passes, seq ascending
    batch: int                # rows per pass
    n_passes: int
    # after pass k (1-based): order_id -> (description, seq, run_id)
    states: list[dict]
    # order_id -> latest blob among live upserts (for object checks)
    latest_blob: dict
    over_cap_insert: str      # key inserted over the cap (pass 1)
    grown_update: str         # key whose update grows past the cap

    def upto(self, k: int) -> int:
        """Highest seq of pass ``k``."""
        return k * self.batch


def cdc_stream(seed: int, n_passes: int = 8, batch: int = 100) -> CdcStream:
    """``n_passes`` increments of ``batch`` rows. Pass 1 inserts only and
    holds one over-cap insert; later passes mix 60 % inserts, 30 %
    updates and 10 % tombstones of keys still live. One update in the
    middle pass grows a blob to one byte past the cap. A deleted key never
    comes back."""
    rng = np.random.default_rng([seed, 2])
    size_pool = [s for s, c in CDC_SIZES for _ in range(c)]
    fresh = iter(_ids(rng, n_passes * batch))
    live: dict[str, tuple] = {}
    blobs: dict[str, bytes] = {}
    rows: list[Row] = []
    states: list[dict] = []
    over_cap_insert = grown_update = None
    seq = 0
    grow_pass = max(2, n_passes // 2 + 1)

    def emit(oid, op, size, tag):
        nonlocal seq
        seq += 1
        blob = rng.bytes(size) if op != "D" else b""
        r = Row(seq, oid, _desc(rng, tag), blob, op)
        rows.append(r)
        return r

    for k in range(1, n_passes + 1):
        run_id = k - 1
        if k == 1:
            plan = ["I"] * batch
        else:
            n_upd, n_del = int(batch * 0.3), int(batch * 0.1)
            plan = ["I"] * (batch - n_upd - n_del) + ["U"] * n_upd + ["D"] * n_del
            plan = [plan[i] for i in rng.permutation(len(plan))]
        # distinct earlier keys for this pass's updates and tombstones;
        # the over-cap insert and the grown key stay live (their pointers
        # are the defect this benchmark makes visible)
        pinned = {over_cap_insert, grown_update}
        candidates = sorted(o for o in live if o not in pinned)
        touched = iter(
            candidates[i] for i in rng.permutation(len(candidates))
        )
        sizes = [size_pool[i % len(size_pool)] for i in rng.permutation(len(plan))]
        for j, op in enumerate(plan):
            if op == "I":
                oid = next(fresh)
                size = sizes[j]
                if k == 1 and j == batch // 2:
                    size, over_cap_insert = CAP + 1, oid
                r = emit(oid, "I", size, "new")
            else:
                oid = next(touched)
                size = sizes[j]
                if op == "U" and k == grow_pass and grown_update is None:
                    size, grown_update = CAP + 1, oid
                r = emit(oid, op, size, "upd" if op == "U" else "del")
            if op == "D":
                live.pop(oid, None)
                blobs.pop(oid, None)
            else:
                live[oid] = (r.description, r.seq, run_id)
                blobs[oid] = r.blob
        states.append(dict(live))
    return CdcStream(rows, batch, n_passes, states, blobs, over_cap_insert, grown_update)


# -- registry fixture -----------------------------------------------------------

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "a the row key value table part hash scan join window agg merge batch "
    "sort line spark order data column query group filter stream fast slow "
    "small big customer vector"
).split()


def registry_tables(seed: int, scale: float = 0.01) -> dict:
    """pyarrow tables shaped like the driver fixtures at ``scale``
    (0.01 -> 15 000 orders, 60 000 lineitems, 2 000 parts, 100
    suppliers, 500 documents)."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 3])
    n_orders = int(1_500_000 * scale)
    n_parts = max(50, int(200_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_docs = max(50, int(50_000 * scale))
    day0 = np.datetime64("1995-01-01", "us")

    def days(n):
        return day0 + rng.integers(0, 2500, n).astype("timedelta64[D]")

    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, max(10, n_orders // 10), n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
            "o_orderdate": days(n_orders),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    lines_per = rng.integers(1, 8, n_orders)
    n_li = int(lines_per.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64), lines_per),
            "l_partkey": rng.integers(0, n_parts, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": np.concatenate([np.arange(1, c + 1) for c in lines_per]).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": days(n_li),
        }
    )
    part = pa.table(
        {
            "p_partkey": np.arange(n_parts, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(n_parts)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_parts)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n_parts),
            "p_size": rng.integers(1, 51, n_parts).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900, 2000, n_parts), 2),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }
    )
    # documents: random word runs from a small vocabulary; one in five is
    # a near-copy of an earlier document with a few words replaced
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(20, 70)))]
        texts.append(" ".join(words))
    documents = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_docs),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return {
        "orders": orders,
        "lineitem": lineitem,
        "part": part,
        "supplier": supplier,
        "documents": documents,
    }
