"""Distribution-method exact grouped quantiles.

Spark's ``percentile`` (and its frequency-weighted form) buffers every
value of a group inside ONE aggregation buffer — exact, but O(group)
executor memory, which is the documented cutover-to-approx reason in
``plans/analytics_ext.q_grouped_percentiles``. For FIXED-PRECISION
value domains (prices are cents-exact doubles in the fixtures — max
residual ~1e-9 — and in any ledger-derived table by construction) the
buffering is unnecessary: quantize values to integer grains, aggregate
the (group, grain) COUNT/WEIGHT distribution — bounded by the VALUE
DOMAIN, not the row count — and reproduce ``quantile_cont``'s linear
interpolation from cumulative counts. Exact result, map-side partial
aggregation, no per-group buffering anywhere.

This is the classic counting-distribution quantile (the same shape as
counting sort's histogram pass), generalized to frequency weights: the
expanded sequence x_0..x_{N-1} (each value repeated ``weight`` times,
N = total weight) has x_i = min{v : cumweight(v) >= i + 1}, so rank
r = (N-1)p is straddled by the rows whose running weight first reaches
floor(r)+1 and floor(r)+2, and quantile_cont = vlo + h (vhi - vlo),
h = r - floor(r).

Scale shape: one partial-aggregated groupBy at the (group, grain)
grain, a DISTRIBUTED prefix sum over the distinct grains
(range-partition -> per-partition totals -> tiny offsets window ->
within-partition running sum; no single-partition stage anywhere), and
one 2-rows-per-(group, p) conditional-min aggregation. At 100 TB every
stage is partitioned — even when the grain domain is as large as the
row count (e.g. per-customer revenue sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def distribution_quantiles(
    df: DataFrame,
    group_col: str | None,
    value_col: str,
    ps: tuple[float, ...],
    weight_col: str | None = None,
    scale: int = 100,
    grain_space: bool = False,
    wide_domain: bool = True,
    _global: bool = False,
    extra_aggs: dict | None = None,
    return_grain: bool = False,
):
    """Exact grouped ``quantile_cont`` without per-group buffering.

    Returns one row per group: ``(group_col, n_rows, total_weight,
    q0..q{len(ps)-1})`` with the quantiles as UNROUNDED doubles (callers
    round/alias). ``value_col`` must be exact at the 1/``scale`` grain
    (enforced nowhere — the caller owns the domain knowledge; prices
    are cents). Without ``weight_col`` every row weighs 1 and
    ``total_weight == n_rows``. The arithmetic (cent reconstruction,
    h = (N-1)p - floor((N-1)p), vlo + h (vhi - vlo), all DOUBLE) is
    written identically in the DuckDB oracle twins
    (``distribution_quantiles_duck``) so the engines can never disagree
    on an interpolation ulp.

    ``group_col=None`` computes GLOBAL quantiles (one output row).
    ``grain_space=True`` returns the quantiles in integer-grain units
    (no /scale reconstruction) — for THRESHOLD consumers (bucketing,
    clipping): comparing ``round(x * scale)`` grains against grain-space
    cuts makes tie behavior exact — a cut that falls on a data value is
    an exact integer double (h=0), and an interpolated cut (h>0) sits
    strictly between integers, so no comparison is ever decided by a
    reconstruction ulp.

    ``wide_domain`` picks the cumulative-sum strategy (identical values
    either way): True (default, safe) = the distributed prefix sum —
    required when the grain domain grows with the data (per-entity SUMS
    like customer revenue, durations); False = one window per group over
    the distinct grains — cheaper by several stages, correct ONLY when
    the value domain is bounded by catalog/config rather than corpus
    size (list prices, token counts vs a max-doc-length cap). Callers
    own that domain knowledge; say why at the call site.

    ``extra_aggs`` ({name: aggregate Column}) rides the SAME (group,
    grain) contraction that feeds the machinery — the aggregates are
    evaluated over the caller's raw rows per grain and carried on the
    materialized grain table. ``return_grain=True`` (wide_domain only)
    returns ``(result, grain)`` where ``grain`` is that one
    materialized contraction (``__c`` = integer grain, ``__cnt`` raw
    rows, ``__wsum`` total weight, plus the extra_aggs columns) — a
    caller whose OTHER consumers also read the grain distribution
    (distributed_global_rank's bucket counts, the two-sample cumulative
    table) shares this barrier instead of checkpointing its own copy of
    the same contraction: one materialization per query, not one per
    stage (r13, guide §1.2/§2.4 — each lazy localCheckpoint costs an
    eager Catalyst planning + subtree stage execution at build time)."""
    if not wide_domain and (return_grain or extra_aggs):
        # the narrow path never materializes a grain table to return or
        # to carry extra aggregates on
        raise ValueError("return_grain and extra_aggs need wide_domain=True")
    if group_col is None:
        # global quantiles: a constant group, dropped on the way out
        df = df.withColumn("__g", F.lit(0))
        out = distribution_quantiles(
            df,
            "__g",
            value_col,
            ps,
            weight_col,
            scale,
            grain_space,
            wide_domain,
            _global=True,
            extra_aggs=extra_aggs,
            return_grain=return_grain,
        )
        if return_grain:
            res, grain = out
            return res.drop("__g"), grain.drop("__g")
        return out.drop("__g")
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    # groupBy directly over df (not a pre-projection) so extra_aggs may
    # reference any caller column; column pruning keeps the scan narrow
    # either way, and the grouping key/aggregates are unchanged
    dist = df.groupBy(
        F.col(group_col),
        F.round(F.col(value_col) * scale).cast("long").alias("__c"),
    ).agg(
        F.count("*").alias("__cnt"),
        F.sum(w).alias("__wsum"),
        *[v.alias(k) for k, v in (extra_aggs or {}).items()],
    )
    # Distributed prefix sum (round 7): a Window.partitionBy(group)
    # cumsum puts each group's whole distinct-grain table on ONE task —
    # domain-bounded for prices/token-counts, but NOT for derived sums
    # (per-customer revenue has ~|customers| distinct grains). Classic
    # two-phase instead: range-partition the (group, grain) rows, take
    # per-partition totals (a tiny P x groups table), turn those into
    # per-partition starting offsets with a window over the TINY table,
    # and add a within-partition running sum — every window below is
    # partitioned on bounded input, nothing single-partitions raw data.
    if wide_domain:
        spark = df.sparkSession
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        # PIN the range exchange (r7 ADVICE): repartitionByRange samples
        # boundaries nondeterministically and spark_partition_id depends
        # on them, and ``tagged`` feeds TWO consumers (the offsets table
        # and the cum join). Without pinning, correctness silently rides
        # on Spark reusing one exchange for both branches — if the
        # exchange were ever recomputed (reuse disabled, plan
        # canonicalization divergence, lineage recomputation after
        # executor loss), the __pid assignments would diverge between
        # branches and the quantiles would be silently wrong. A lazy
        # localCheckpoint materializes the tagged table ONCE (it is the
        # post-aggregation distinct-grain table, far smaller than raw
        # input) so every consumer reads identical __pid tags.
        tagged = (
            dist.repartitionByRange(nparts, F.col(group_col), F.col("__c"))
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=False)
        )
        if _global:
            # the checkpoint's LogicalRDD hides the group column's
            # literal origin (0 AS __g); re-attach it as a literal so
            # every downstream aggregate keyed on it — including
            # CALLERS that broadcast the quantile result — keeps a
            # visible boundedness witness for the plan lint. Value
            # identical: the column was already the constant 0.
            tagged = tagged.withColumn(group_col, F.lit(0))
        wo = Window.partitionBy(group_col).orderBy("__pid")
        wg = Window.partitionBy(group_col)
        # FUSED offsets+totals (round 8, VERDICT r7 item 4): both are
        # group-grain reductions of the tiny per-partition-totals table
        # ptot, so the group totals ride the SAME window pass as the
        # offsets (identical partitioning spec — one exchange, one
        # sort) and the cum stage needs ONE join instead of two. This
        # removes a groupBy exchange and a join exchange from every
        # wide-domain quantile call. Values identical: __N/__nrows are
        # the same integer sums either way.
        #
        # At GLOBAL grain the group column is a folded constant, so the
        # joins have no selective equi-key — without a hint, join
        # selection over hintless lineage (the localCheckpoint above:
        # its LogicalRDD carries no size estimate) degrades to
        # CartesianProduct. offs (one row per range partition) is
        # provably tiny there, so hint it — derived through a shape the
        # plan-lint's boundedness walker can witness THROUGH the
        # checkpoint: a __pid-keyed aggregate with the constant group
        # column re-attached as a literal (identical values: grouping
        # by (__pid, const) == grouping by __pid). Grouped callers keep
        # real equi-keys, and sort-merge on the already-tiny offs table
        # is fine unhinted.
        if _global:
            ptot = (
                tagged.groupBy("__pid")
                .agg(F.sum("__wsum").alias("__pw"), F.sum("__cnt").alias("__pc"))
                .withColumn(group_col, F.lit(0))
            )
        else:
            ptot = tagged.groupBy("__pid", group_col).agg(
                F.sum("__wsum").alias("__pw"), F.sum("__cnt").alias("__pc")
            )
        offs = ptot.select(
            "__pid",
            group_col,
            (F.sum("__pw").over(wo) - F.col("__pw")).alias("__offw"),
            F.col("__pw"),
            (F.sum("__pc").over(wo) - F.col("__pc")).alias("__offc"),
            F.sum("__pw").over(wg).alias("__N"),
            F.sum("__pc").over(wg).alias("__nrows"),
        )
        # Straddle-partition pruning (r12, guide §2.3 — the same argument
        # as distributed_global_rank's offset<500 prune): the final agg
        # only reads, per (group, p, off), the SMALLEST grain whose
        # running weight reaches index i — and grains are range-ordered,
        # so that grain lives in the unique partition whose weight span
        # covers i (__offw < i <= __offw + __pw). Partitions after it
        # hold only larger grains (min unchanged); partitions before it
        # never reach i. Keeping just the <= 2|ps| straddle partitions
        # per group shrinks the cum join + window exchange below from
        # the full grain table to a bounded slice — at production
        # partition counts that is ~all of the machinery's second pass.
        # Degenerate guard: a zero-total-weight group (N=0) has straddle
        # indices <= 0, which every cumulative satisfies — the minimal
        # grain is then the group's FIRST grain, kept via the row-count
        # offset clause (__offc == 0). Values are identical either way;
        # tests/test_quantiles_distribution.py pins equality with
        # Spark's buffering percentile across both cumsum strategies.
        keep = None
        for p in ps:
            i0 = F.floor((F.col("__N") - 1) * F.lit(p)).cast("long")
            for off in (1, 2):
                i = i0 + off
                cond = (
                    (F.col("__offw") < i)
                    & ((F.col("__offw") + F.col("__pw")) >= i)
                ) | ((i <= 0) & (F.col("__offc") == 0))
                keep = cond if keep is None else (keep | cond)
        if keep is not None:
            offs = offs.filter(keep)
        offs = offs.drop("__pw", "__offc")
        if _global:
            offs = F.broadcast(offs)
        wp = Window.partitionBy("__pid", group_col).orderBy("__c")
        cum = (
            tagged.join(offs, ["__pid", group_col])
            .withColumn("__cum", F.col("__offw") + F.sum("__wsum").over(wp))
            .select(group_col, "__c", "__cum", "__N", "__nrows")
        )
    else:
        # domain-bounded grains: one window per group over the distinct
        # grains — the window input is |domain|-bounded whatever the
        # row count, so the single task per group is safe by the
        # caller's stated domain bound
        wc = Window.partitionBy(group_col).orderBy("__c")
        wn = Window.partitionBy(group_col)
        cum = dist.select(
            group_col,
            "__c",
            F.sum("__wsum").over(wc).alias("__cum"),
            F.sum("__wsum").over(wn).alias("__N"),
            F.sum("__cnt").over(wn).alias("__nrows"),
        )
    aggs = [F.max("__N").alias("__N"), F.max("__nrows").alias("__nrows")]
    for idx, p in enumerate(ps):
        for off, tag in ((1, "lo"), (2, "hi")):
            # smallest grain whose running weight covers 0-based index
            # floor((N-1)p) + (off-1); NULL past the last index (N=1)
            i = F.floor((F.col("__N") - 1) * F.lit(p)).cast("long") + off
            aggs.append(
                F.min(F.when(F.col("__cum") >= i, F.col("__c"))).alias(f"__{tag}{idx}")
            )
    agg = cum.groupBy(group_col).agg(*aggs)
    outs = [
        F.col(group_col),
        F.col("__nrows").alias("n_rows"),
        F.col("__N").alias("total_weight"),
    ]
    for idx, p in enumerate(ps):
        vlo = F.col(f"__lo{idx}").cast("double")
        vhi = F.coalesce(F.col(f"__hi{idx}"), F.col(f"__lo{idx}")).cast("double")
        if not grain_space:
            vlo = vlo / F.lit(float(scale))
            vhi = vhi / F.lit(float(scale))
        h = (F.col("__N") - 1) * F.lit(p) - F.floor((F.col("__N") - 1) * F.lit(p))
        outs.append((vlo + h * (vhi - vlo)).alias(f"q{idx}"))
    result = agg.select(*outs)
    if return_grain:
        return result, tagged
    return result


def distribution_quantiles_duck(
    src_sql: str,
    group_col: str | None,
    value_sql: str,
    ps: tuple[float, ...],
    weight_sql: str | None = None,
    scale: int = 100,
    grain_space: bool = False,
) -> str:
    """DuckDB twin of ``distribution_quantiles`` — identical quantize /
    cumulate / straddle / interpolate arithmetic, so a Spark plan built
    on the helper hash-matches an oracle built on this. Returns a SELECT
    producing ``(group_col?, n_rows, total_weight, q0..q{len(ps)-1})``
    over ``src_sql`` (any relation expression)."""
    g = f"{group_col}, " if group_col else ""
    gby = f"GROUP BY {group_col}" if group_col else ""
    part = f"PARTITION BY {group_col}" if group_col else ""
    w = f"CAST({weight_sql} AS BIGINT)" if weight_sql else "CAST(1 AS BIGINT)"
    straddles, interps = [], []
    for idx, p in enumerate(ps):
        i = f"CAST(floor((__N - 1) * CAST({p!r} AS DOUBLE)) AS BIGINT)"
        straddles.append(
            f"MIN(CASE WHEN __cum >= {i} + 1 THEN __c END) AS __lo{idx}, "
            f"MIN(CASE WHEN __cum >= {i} + 2 THEN __c END) AS __hi{idx}"
        )
        div = "" if grain_space else f" / {scale}"
        h = (
            f"((__N - 1) * CAST({p!r} AS DOUBLE)"
            f" - floor((__N - 1) * CAST({p!r} AS DOUBLE)))"
        )
        interps.append(
            f"CAST(__lo{idx} AS DOUBLE){div} + {h} * "
            f"(CAST(COALESCE(__hi{idx}, __lo{idx}) AS DOUBLE){div}"
            f" - CAST(__lo{idx} AS DOUBLE){div}) AS q{idx}"
        )
    return f"""
        SELECT {g}__nrows AS n_rows, __N AS total_weight, {", ".join(interps)}
        FROM (
            SELECT {g}MAX(__N) AS __N, MAX(__nrows) AS __nrows,
                   {", ".join(straddles)}
            FROM (
                SELECT {g}__c,
                       SUM(__wsum) OVER ({part} ORDER BY __c) AS __cum,
                       SUM(__wsum) OVER ({part}) AS __N,
                       SUM(__cnt) OVER ({part}) AS __nrows
                FROM (
                    SELECT {g}CAST(round(({value_sql}) * {scale}) AS BIGINT) AS __c,
                           COUNT(*) AS __cnt, SUM({w}) AS __wsum
                    FROM ({src_sql})
                    GROUP BY {g}__c
                )
            ) {gby}
        ) """
