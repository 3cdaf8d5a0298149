"""Distributed global ranking without a single-partition sort (round 5d).

``row_number() OVER (ORDER BY v)`` with no PARTITION BY moves the whole
table through one task — the classic Spark scaling cliff (WindowExec
warns, and at 100 TB it simply doesn't run).  The exact rewrite:

1. assign each row an equal-width value bucket between the column's
   min and max (``_with_buckets``: a 1-row min/max aggregate inside the
   same plan, so building launches no Spark job; equal values always
   share a bucket, so bucket order refines to total order);
2. per-bucket offsets = running sum over the bucket COUNTS — a window
   over <= n_buckets rows (bounded; with the probe's keyless min/max
   merge, the only single-partition steps);
3. global rank = offset + row_number within the bucket (window
   partitioned by bucket).

Ranks are EXACT and identical to the naive global window for any
bucketing — buckets only balance work.  Equal-width buckets balance
worse than quantile boundaries on heavy-tailed columns: at sf0.1 the
largest bucket holds 10.1 % of xq7's per-customer revenues (3.2 % with
the approxQuantile boundaries this module used before) and 4.0 % of
xt24's ``-n_chars`` (3.3 %).  A bucket holding one hot value processes
that value's rows in one task, same as any rank-by definition must.

``global_rank``, ``global_prefix_max`` and ``weighted_quantile_crossing``
share the one bucket assigner.  Used by xq7_gini_revenue; the same
primitive serves ECDF, exact top-percent cuts, and rank-based
statistics at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize


def _with_buckets(
    df: DataFrame,
    value_col: str,
    n_buckets: int,
) -> DataFrame:
    """Attach ``__bucket``: the equal-width bin index of ``value_col``
    between its min and max, from a 1-row min/max aggregate
    broadcast-cross-joined onto the rows (codegen'd floor arithmetic, no
    Python, no sketch, no eager job — probing, bucket counting and
    ranking all run in the caller's one Spark job).

    The bin arithmetic runs in double: ``v``, min and max are cast
    BEFORE subtracting.  In the column's own type a ``long`` range wider
    than 2^63 (``xxhash64`` keys) would wrap silently with ANSI off and
    put every row into one bucket.  The cast is monotone, so equal values
    still share a bucket and bucket order still refines value order.

    NULL ``value_col`` rows land in a dedicated bucket -1 that sorts
    before every value bucket — NULLS FIRST, matching Spark's default
    ascending ``ORDER BY`` the naive global window would apply (a NULL
    bucket id would fail the offsets join and silently drop those rows —
    ADVICE r5).  A constant column (max == min) degenerates to one
    bucket, never a NULL bucket.

    A plan-embedded ``percentile_approx`` variant was MEASURED SLOWER
    (2.44 s vs 1.34 s on xq8 at sf0.1): Catalyst does not reuse the
    aggregate across the branches that embed the bucketed frame, so the
    sketch pass ran once per branch.  min/max pays the same per-branch
    duplication, but each pass is a cheap codegen'd hash aggregate."""
    mm = df.agg(
        F.min(value_col).cast("double").alias("__lo"),
        F.max(value_col).cast("double").alias("__hi"),
    )
    v = F.col(value_col)
    span = F.col("__hi") - F.col("__lo")
    idx = F.floor(
        (v.cast("double") - F.col("__lo")) / (span / n_buckets)
    ).cast("int")
    bucket = F.when(v.isNull(), F.lit(-1)).otherwise(
        F.when(span <= 0, F.lit(0)).otherwise(
            F.least(F.lit(n_buckets - 1), F.greatest(F.lit(0), idx))
        )
    )
    return (
        df.crossJoin(F.broadcast(mm))
        .withColumn("__bucket", bucket)
        .drop("__lo", "__hi")
    )


def global_rank(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    n_buckets: int = 32,
    rank_col: str = "rank",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Attach a 1-based dense row number ordered by
    (value_col, *tiebreak_cols) — globally, or WITHIN each distinct
    ``group_cols`` tuple when given (the scale-safe replacement for
    ``row_number() OVER (PARTITION BY g ORDER BY v)`` when single groups
    are too big for one task).  Requires (value_col, tiebreaks) unique
    per row (per group) for a deterministic total order; rank-position
    consumers that only read the VALUE at a rank (quantiles) tolerate
    duplicate values with an empty tiebreak.

    One equal-width bucketing (``_with_buckets``, probed inside the
    plan — building launches no Spark job) serves every group; buckets
    only balance work, never affect correctness.  The offsets frame
    grows to (groups × buckets) rows, still bounded commit metadata for
    the grouped-aggregate cardinalities this serves.  Balance trade-off:
    on heavy-tailed columns the largest bucket holds more rows than
    quantile boundaries would give it (xq7 at sf0.1: 10.1 % vs 3.2 %;
    xt24: 4.0 % vs 3.3 %), which fattens one in-bucket window task."""
    g = list(group_cols or [])
    with_bucket = _with_buckets(df, value_col, n_buckets)
    counts = with_bucket.groupBy(*g, "__bucket").agg(
        F.count("*").alias("__n")
    )
    w_off = Window.partitionBy(*g).orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        *g,
        "__bucket",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__offset"),
    )
    w_in = Window.partitionBy(*g, "__bucket").orderBy(
        value_col, *tiebreak_cols
    )
    return (
        with_bucket.join(F.broadcast(offsets), g + ["__bucket"])
        .withColumn(
            rank_col, F.col("__offset") + F.row_number().over(w_in)
        )
        .drop("__bucket", "__offset")
    )


def weighted_quantile_crossing(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    q_num: int = 1,
    q_den: int = 2,
    n_buckets: int = 32,
    out_col: str = "weighted_median",
    total_col: str = "w_total",
) -> DataFrame:
    """One-row frame (out_col, total_col): the smallest value whose
    cumulative weight in value order reaches q_num/q_den of the total —
    the weighted median for the default 1/2, tested as
    ``q_den·cum ≥ q_num·W`` in exact integer arithmetic.

    Bucket-targeted: per-bucket weight
    totals (map-side-combined aggregate, tiny) locate the single
    crossing bucket via the bounded offsets frame; only THAT bucket's
    rows (≈1/n_buckets of the data) take the in-bucket cumulative
    window.  No full-data shuffle, no prefix sum over every row —
    against ``SUM(w) OVER (ORDER BY v)``'s single-partition sort.

    Buckets come from the shared in-plan assigner (``_with_buckets``):
    no eager driver-side job — the r8 profile showed the former eager
    approxQuantile probe was 0.58 s of xq8's 1.00 s wall at sf0.1.  On
    heavy-tailed values the equal-width crossing bucket can hold more
    than 1/n_buckets of the rows (see the module docstring); the
    answer is unaffected.

    Duplicate values need no pre-aggregation: the filtered set is a
    suffix of the value order, so MIN(value) over it is the crossing
    value regardless of tie order inside the window."""
    src = df.select(value_col, weight_col).filter(
        F.col(value_col).isNotNull()
    )
    wb = _with_buckets(src, value_col, n_buckets)
    bt = wb.groupBy("__bucket").agg(F.sum(weight_col).alias("__w"))
    w_off = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = bt.select(
        "__bucket",
        "__w",
        F.coalesce(F.sum("__w").over(w_off), F.lit(0)).alias("__off"),
    )
    tot = bt.agg(F.sum("__w").alias("__tot"))
    target = (
        offs.crossJoin(F.broadcast(tot))  # 1-row total
        .filter(
            q_den * (F.col("__off") + F.col("__w"))
            >= q_num * F.col("__tot")
        )
        .orderBy("__bucket")
        .limit(1)  # bounded: <= n_buckets rows enter this sort
        .select("__bucket", "__off", "__tot")
    )
    w_in = (
        Window.partitionBy("__bucket")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        wb.join(F.broadcast(target), "__bucket")
        .withColumn(
            "__cum", F.col("__off") + F.sum(weight_col).over(w_in)
        )
        .filter(q_den * F.col("__cum") >= q_num * F.col("__tot"))
        .agg(
            F.min(value_col).alias(out_col),
            F.first("__tot").alias(total_col),
        )
    )


def global_prefix_max(
    df: DataFrame,
    order_col: str,
    value_col: str,
    tiebreak_cols: list[str] | None = None,
    n_buckets: int = 32,
    out_col: str = "prev_max",
) -> DataFrame:
    """Attach the running MAX of ``value_col`` over all rows STRICTLY
    BEFORE each row in global (order_col, *tiebreak_cols) order — NULL
    for the first row.  The naive ``MAX(v) OVER (ORDER BY o ROWS
    UNBOUNDED PRECEDING AND 1 PRECEDING)`` is a single-partition sort;
    this is the same bucket decomposition as global_rank with a
    MAX carry: per-bucket maxima, an exclusive running max over the
    bounded bucket frame, and an intra-bucket exclusive-max window
    partitioned by bucket.  Same in-plan equal-width bucketing and the
    same balance trade-off as global_rank; building launches no Spark
    job.

    The exclusive frame is what 2D skyline/Pareto pruning needs: a
    point survives iff its second dimension exceeds every strictly
    earlier point's."""
    with_bucket = _with_buckets(df, order_col, n_buckets)
    totals = with_bucket.groupBy("__bucket").agg(
        F.max(value_col).alias("__m")
    )
    w_off = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__bucket", F.max("__m").over(w_off).alias("__carry")
    )
    w_in = (
        Window.partitionBy("__bucket")
        .orderBy(order_col, *(tiebreak_cols or []))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra = F.max(value_col).over(w_in)
    return (
        with_bucket.join(F.broadcast(offsets), "__bucket")
        .withColumn(out_col, F.greatest(F.col("__carry"), intra))
        .withColumn(
            out_col,
            F.coalesce(
                F.col(out_col), F.col("__carry"), intra
            ),
        )
        .drop("__bucket", "__carry")
    )


def grouped_quantiles_band(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    quantiles: dict[str, float],
    accuracy: int = 2000,
) -> DataFrame:
    """Exact continuous quantiles per group (``quantile_cont`` semantics:
    linear interpolation at position q·(n−1), NULL values excluded —
    matching SQL ``percentile``) in TWO table scans, zero windows, zero
    joins on the data — the sketch-steered band rewrite.  The
    scale-safe replacement for ``percentile(col, array(...))`` GROUP BY,
    which buffers an entire group in one task's aggregation buffer.

    Pass 1 (one scan): per group, a Greenwald-Khanna sketch
    (``percentile_approx``, rank error ≤ n/accuracy guaranteed) locates
    a VALUE BAND [blo, bhi] around each target quantile, probed at
    q ± 4/accuracy; plus the exact group count.  Pass 2 (one scan, the
    band frame broadcast back on the group key): one combined aggregate
    computes, per quantile, the exact ``count(v < blo)`` and a bounded
    ``collect_list`` of the in-band values.  The final projection sorts
    each ≤ O(n/accuracy)-element band array and indexes the two straddle
    ranks — exact order statistics, so the OUTPUT is deterministic even
    though the sketch's merge order is not (the band only steers).

    Rank-slack proof, dual regime (margins must be literals — Spark
    requires a foldable percentage — so the regime switch is in-plan):
    - n ≥ 2·accuracy: ε·n ≥ 2 where ε = 1/accuracy.  blo probed at
      q−4ε has true rank ≤ (q−3ε)n ≤ qn−3 < r_lo; bhi probed at q+4ε
      has rank ≥ (q+3ε)n ≥ qn+3 > r_lo+1.  Both straddle ranks land
      inside the band with ≥1 rank of slack.
    - n < 2·accuracy: the sketch bound εn < 2 cannot cover the ±2-rank
      gap between the q·n and q·(n−1) conventions, so the band widens
      to the WHOLE group — an exact bounded collect (< 2·accuracy
      values, the same order of state as the sketch itself).

    Per-group state is ≤ max(10n/accuracy + tie mass, 2·accuracy)
    values — tunable; heavy ties at a band edge widen the collect by
    the tie mass (equal values are interchangeable at a rank, but all
    must be carried to index through them).

    ALL band probes ride ONE sketch per group — ``percentile_approx``
    with an array percentage (measured at the x10 replica: 4 separate
    sketch aggregates 2.20 s vs one 4-probe sketch 0.80 s at
    accuracy 10000, 0.44 s at 1000 — sketch maintenance, not probing,
    is the cost).  Default accuracy 2000 balances sketch insert cost
    against band collect size.

    EAGER/SNAPSHOT CONTRACT: building this plan runs one Spark job (the
    band scan is collected to the driver so the ≤64-group literal path
    can inline bounds as codegen'd literals; the >64-group path
    materializes the same frame).  The returned DataFrame therefore
    snapshots the SOURCE AS OF BUILD TIME for its band bounds and group
    counts: re-executing it after the underlying data changes reuses
    the stale bounds (the in-band confirm re-reads live data, so the
    result could be silently wrong, not just stale).  Rebuild the plan
    after any source mutation.  This is an intentional exception to the
    repo's "never an action in the plan-building path" pattern — the
    literal inlining is worth 3× on the hot pass (see measurements
    above) and the band grain is bounded by the grouping semantics.

    r11 (ADVICE r10): violation is now DETECTED at runtime — the confirm
    pass carries a live per-group count and every output value is gated
    on ``assert_true(live == snapshot)``, so executing a stale plan
    against mutated data fails the job with an explicit message instead
    of returning wrong quantiles (tests/test_band_paths.py).
    """
    g = list(group_cols)
    src = df.select(*g, value_col).filter(F.col(value_col).isNotNull())
    eps = 1.0 / accuracy
    names = list(quantiles)
    probes: list[float] = []
    for q in quantiles.values():
        probes.append(max(0.0, q - 4 * eps))
        probes.append(min(1.0, q + 4 * eps))
    # __chk: order-independent value checksum (bit_xor of xxhash64) —
    # with the count alone, an equal-count substitution (swap one
    # in-group value for another) passed the staleness guard silently
    # (ADVICE r11); the xor rides the same codegen aggregate for ~one
    # hash per row.  Residual blind spot: a mutation whose added AND
    # removed multisets each xor to the same value (e.g. swapping a
    # duplicate PAIR {a,a} for {b,b}) — count and xor both unchanged.
    bands = src.groupBy(*g).agg(
        F.count("*").alias("__tot"),
        F.bit_xor(F.xxhash64(value_col)).alias("__chk"),
        F.min(value_col).alias("__mn"),
        F.max(value_col).alias("__mx"),
        F.percentile_approx(
            value_col, F.array(*[F.lit(p) for p in probes]), F.lit(accuracy)
        ).alias("__bp"),
    )
    v = F.col(value_col)

    # Pass-2 structure (r9, measured at the x100 exact_median):
    # 1. SPLIT aggregates — a single aggregate carrying both the
    #    below-band sums AND the in-band collect_lists ran as ONE
    #    ObjectHashAggregate (collect_list is TypedImperative, dropping
    #    the sums out of whole-stage codegen too: ~10 s interpreted).
    #    Counts now ride a codegen HashAggregate over the full frame;
    #    collects run on a band-PREFILTERED frame that only ever holds
    #    the O(n/accuracy + ties) in-band rows.
    # 2. LITERAL band frame for bounded group counts — re-attaching the
    #    group-grain band row by broadcast join cost ~62 ns/row (a 3-row
    #    build measured 0.9 → 4.6 s on a 60 M-row sum pass: probe + row
    #    concat per row), and the un-materialized band frame re-ran the
    #    full GK sketch scan inside EVERY consumer.  For ≤ 64 groups the
    #    band row collapses to null-safe when-chains of literals — no
    #    join, no recompute, every hot pass pure codegen.  12.5 → ~4 s.
    #    Above 64 groups (or when a value resists F.lit) the broadcast-
    #    join form below is the scale path — when-chain width is per-row
    #    compare COUNT, fine at 64, wrong at 10^6 groups.
    band_rows = bands.collect()  # one job; grain = group count (bounded
    # by the caller's grouping semantics, same readout the sketch makes)
    literal_ok = 0 < len(band_rows) <= 64

    def _match(row):
        cond = None
        for k in g:
            e = F.col(k).eqNullSafe(F.lit(row[k]))
            cond = e if cond is None else (cond & e)
        return cond

    def _chain(rows, fn):
        """when-chain over groups: fn(row) -> literal value."""
        if not g:
            return F.lit(fn(rows[0]))
        e = None
        for row in rows:
            val = F.lit(fn(row))
            e = F.when(_match(row), val) if e is None else e.when(
                _match(row), val
            )
        return e

    if literal_ok:
        try:
            blos, bhis = {}, {}
            for i, name in enumerate(names):
                def lo_of(row, i=i):
                    if row["__tot"] < 2 * accuracy:
                        return row["__mn"]
                    return row["__bp"][2 * i]

                def hi_of(row, i=i):
                    if row["__tot"] < 2 * accuracy:
                        return row["__mx"]
                    return row["__bp"][2 * i + 1]

                blos[name] = _chain(band_rows, lo_of)
                bhis[name] = _chain(band_rows, hi_of)
            tot_expr = _chain(band_rows, lambda r: r["__tot"])
            chk_expr = _chain(band_rows, lambda r: r["__chk"])
        except Exception:  # noqa: BLE001 — unliteralizable value type
            literal_ok = False

    if not literal_ok:
        # the band scan must not re-run per consumer; the materialized
        # frame replaces the collected literals
        bands = materialize(bands)
        if g:
            # NULL-SAFE band attach: a NULL group key is a legal grouping
            # value (groupBy puts all NULLs in one group), and a plain
            # equi-join here would silently drop every such row ONLY on
            # this >64-group path — the literal path's eqNullSafe
            # when-chains and the final rejoin already handle it.  Same
            # input must yield the same group set regardless of group
            # cardinality (tests/test_band_paths.py::
            # test_fallback_path_null_group_key).
            battach = bands
            for k in g:
                battach = battach.withColumnRenamed(k, f"__b_{k}")
            jcond = None
            for k in g:
                e = F.col(k).eqNullSafe(F.col(f"__b_{k}"))
                jcond = e if jcond is None else (jcond & e)
            # LEFT join (ADVICE r11): a live group ABSENT from the
            # snapshot (added after build) must reach the guard — the
            # old inner join silently dropped its rows here, so the new
            # group never surfaced at all.  With the left join its rows
            # carry NULL __tot/__chk, the guard condition evaluates
            # NULL, and assert_true(NULL) fails the job.
            joined = src.join(F.broadcast(battach), jcond, "left").drop(
                *[f"__b_{k}" for k in g]
            )
        else:
            joined = src.crossJoin(F.broadcast(bands))
        small = F.col("__tot") < F.lit(2 * accuracy)
        blos, bhis = {}, {}
        for i, name in enumerate(names):
            blos[name] = F.when(small, F.col("__mn")).otherwise(
                F.element_at("__bp", 2 * i + 1)
            )
            bhis[name] = F.when(small, F.col("__mx")).otherwise(
                F.element_at("__bp", 2 * i + 2)
            )
        tot_expr = F.col("__tot")
        chk_expr = F.col("__chk")
        src = joined

    # live per-group count + value checksum alongside the snapshots:
    # the runtime staleness guard (ADVICE r10/r11) — see the
    # assert_true below
    cnt_aggs = [
        F.first(tot_expr).alias("__tot"),
        F.count("*").alias("__tot_live"),
        F.first(chk_expr).alias("__chk"),
        F.bit_xor(F.xxhash64(v)).alias("__chk_live"),
    ]
    in_any_band = None
    for name in names:
        blo, bhi = blos[name], bhis[name]
        cnt_aggs.append(F.sum((v < blo).cast("long")).alias(f"__nb_{name}"))
        band_pred = (v >= blo) & (v <= bhi)
        in_any_band = (
            band_pred if in_any_band is None else (in_any_band | band_pred)
        )
    counts = (
        src.groupBy(*g).agg(*cnt_aggs) if g else src.groupBy().agg(*cnt_aggs)
    )
    col_aggs = []
    for name in names:
        blo, bhi = blos[name], bhis[name]
        col_aggs.append(
            F.sort_array(
                F.collect_list(F.when((v >= blo) & (v <= bhi), v))
            ).alias(f"__band_{name}")
        )
    jf = src.filter(in_any_band)
    collects = (
        jf.groupBy(*g).agg(*col_aggs) if g else jf.groupBy().agg(*col_aggs)
    )
    # group keys are the aggregate's own grain — the rejoin is tiny and
    # broadcast.  A group whose every row fell outside all bands cannot
    # exist (each band contains its straddle ranks by construction), but
    # a left join keeps the failure mode visible (NULL band → NULL out)
    # rather than silently dropping the group.  NULL-SAFE key equality:
    # a NULL group key is a legal grouping value on both sides, and a
    # plain equi-join would orphan its counts row from its collects row
    # (caught by tests/test_band_paths.py::test_literal_path_null_group_key).
    if g:
        right = collects
        for k in g:
            right = right.withColumnRenamed(k, f"__r_{k}")
        cond = None
        for k in g:
            e = F.col(k).eqNullSafe(F.col(f"__r_{k}"))
            cond = e if cond is None else (cond & e)
        got = counts.join(F.broadcast(right), cond, "left").drop(
            *[f"__r_{k}" for k in g]
        )
    else:
        got = counts.crossJoin(F.broadcast(collects))
    # RUNTIME STALENESS GUARD (ADVICE r10, strengthened r11→r12): the
    # band bounds, __tot and __chk are a BUILD-TIME snapshot; the
    # confirm pass reads LIVE data.  If the source mutated between
    # build and execution the result would be silently wrong — so every
    # output value is gated on BOTH the live per-group count and the
    # live value checksum matching their snapshots (assert_true returns
    # NULL on success and fails the job otherwise; per-GROUP-row cost
    # plus one hash per row in the counts aggregate).  Detection scope:
    # any add/remove of non-null values within a snapshotted group
    # (count), any equal-count substitution of values (checksum), a
    # wholly NEW group on either path (its snapshot columns are NULL —
    # unmatched when-chain on the literal path, LEFT-join miss on the
    # fallback path — and assert_true(NULL) throws).  A group fully
    # REMOVED from the source yields no live row at all: detectable
    # only by the caller (the output loses that group's row), not by a
    # row-level guard.  Residual blind spot: mutations whose added and
    # removed value multisets have equal size and equal xor (see the
    # __chk comment at the bands aggregate).
    stale_ok = F.assert_true(
        (F.col("__tot_live") == F.col("__tot"))
        & (F.col("__chk_live") == F.col("__chk")),
        F.lit(
            "grouped_quantiles_band: source changed since the plan was "
            "built (band bounds are a build-time snapshot) — rebuild the "
            "plan after any source mutation"
        ),
    )
    out = list(g)
    for name, q in quantiles.items():
        pos = F.lit(q) * (F.col("__tot") - 1).cast("double")
        lo_rank = F.floor(pos) + 1  # 1-based global rank of the floor value
        frac = pos - F.floor(pos)
        arr = F.col(f"__band_{name}")
        v_lo = F.element_at(arr, (lo_rank - F.col(f"__nb_{name}")).cast("int"))
        v_hi = F.element_at(
            arr, (lo_rank + 1 - F.col(f"__nb_{name}")).cast("int")
        )
        # frac == 0 is exact (q·(n−1) hits an integer only when the double
        # product is integral), and v_lo·1.0 ≡ v_lo bitwise — emit v_lo
        # directly so a missing rank-(lo+1) row can never inject a NULL.
        expr = F.when(frac == 0, v_lo.cast("double")).otherwise(
            v_lo.cast("double") * (F.lit(1.0) - frac)
            + v_hi.cast("double") * frac
        )
        out.append(F.when(stale_ok.isNull(), expr).alias(name))
    return got.select(*out)


def order_statistic_tuples(
    df: DataFrame,
    value_cols: list[str],
    tiebreak_col: str,
    rank_fracs: dict[str, tuple[int, int]],
    accuracy: int = 2000,
) -> DataFrame:
    """Exact (value, tiebreak) tuples at global rank positions
    ``(n·num) div den`` for EVERY dimension in ``value_cols`` — ONE row
    out, one struct column ``{vc}_{name}`` per (dimension, cut).
    Targets are RATIONAL on purpose: ``floor(n·(1/3))`` in doubles can
    land one rank off ``n div 3`` when the truncated binary fraction
    rounds down across an integer; integer arithmetic is
    convention-exact against a ``CAST(x // 3 AS ...)`` oracle.  Same
    sketch-band + in-band-confirm plan as
    :func:`grouped_quantiles_band` (two scans, zero windows).

    The boundary consumer's contract: ``row_number() OVER (ORDER BY v,
    tb)`` ≤ floor(frac·n)  ⇔  struct(v, tb) ≤ the returned boundary
    tuple (row_number over a UNIQUE (v, tb) order is exactly the tuple's
    rank).  A caller classifying rows into rank buckets (terciles,
    deciles at fixed fracs) therefore needs only these boundary tuples
    broadcast back — per-row classification is a codegen'd struct
    comparison, no rank column ever materializes.

    Band regime as in grouped_quantiles_band: whole-domain collect for
    n < 2·accuracy, sketch band at frac ± 4/accuracy otherwise (the
    target rank (n·num) div den sits strictly inside by ≥ 2 ranks).
    Ties in a value column are resolved by the in-band sort on (v, tb);
    the band is value-only, so all tuples sharing a boundary value ride
    the collect — tie mass bounds the state, exactly as the grouped
    form.  A rank target of 0 (num = 0, or n < den/num) has no boundary
    tuple: the struct is NULL and the caller must coalesce its
    comparison (no row has rank ≤ 0).

    ALL dimensions and ALL cut fractions share ONE bands pass and ONE
    confirm pass — per dimension a single array-probe sketch (sketch
    maintenance dominates; see grouped_quantiles_band).  Per-dimension
    NULL values are excluded from that dimension's count/band (aggregate
    semantics), matching a per-dimension ``WHERE v IS NOT NULL`` rank.

    EAGER/SNAPSHOT CONTRACT (same as :func:`grouped_quantiles_band`):
    plan construction collects the one-row band frame and inlines every
    bound, count, and rank target as a literal — including ``n`` itself.
    The returned DataFrame snapshots the source as of build time;
    re-executing after a source mutation mixes stale bounds/targets with
    live in-band data.  Rebuild after any mutation.  r11 (ADVICE r10):
    as in grouped_quantiles_band, violation now fails at runtime — the
    confirm aggregate carries live counts and every output is gated on
    ``assert_true(live == snapshot)``."""
    eps = 1.0 / accuracy
    src = df.select(*value_cols, F.col(tiebreak_col).alias("__tb"))
    probes: list[float] = []
    for num, den in rank_fracs.values():
        q = num / den
        probes.append(max(0.0, q - 4 * eps))
        probes.append(min(1.0, q + 4 * eps))
    def _vchk(vc: str) -> F.Column:
        # order-independent per-dimension value checksum (r12, same
        # rationale as grouped_quantiles_band's __chk): NULLs are
        # excluded so the checksum tracks exactly the values __n_{vc}
        # counts (bit_xor ignores NULL inputs; the when() maps null
        # rows to NULL)
        v = F.col(vc)
        return F.bit_xor(F.when(v.isNotNull(), F.xxhash64(v)))

    band_aggs = [F.count("*").alias("__tot")]
    for vc in value_cols:
        band_aggs += [
            F.count(vc).alias(f"__n_{vc}"),
            _vchk(vc).alias(f"__chk_{vc}"),
            F.min(vc).alias(f"__mn_{vc}"),
            F.max(vc).alias(f"__mx_{vc}"),
            F.percentile_approx(
                vc, F.array(*[F.lit(p) for p in probes]), F.lit(accuracy)
            ).alias(f"__bp_{vc}"),
        ]
    bands = src.groupBy().agg(*band_aggs)
    # The band frame is ONE row — read it out and inline every bound as
    # a literal (r9; same two defects grouped_quantiles_band had): the
    # un-materialized crossJoin re-ran the sketch scan inside the
    # confirm job, and one ObjectHashAggregate carrying sums +
    # collect_lists evaluated every row interpreted.  Now: counts ride a
    # codegen HashAggregate over literal comparisons, collects see only
    # the band-prefiltered rows, targets are exact driver-side integer
    # arithmetic.  Measured on xq11 (3 dimensions × 2 cuts over the
    # per-customer grain): 8.8 → ~5 s at the x100 replica.
    brow = bands.collect()[0]
    bounds: dict[tuple[str, str], tuple] = {}
    for vc in value_cols:
        n_vc = brow[f"__n_{vc}"]
        small = n_vc < 2 * accuracy
        for i, name in enumerate(rank_fracs):
            bp = brow[f"__bp_{vc}"]
            blo_v = brow[f"__mn_{vc}"] if small else (bp[2 * i] if bp else None)
            bhi_v = (
                brow[f"__mx_{vc}"] if small else (bp[2 * i + 1] if bp else None)
            )
            bounds[(vc, name)] = (blo_v, bhi_v)
    # live counts alongside the snapshot literals: the runtime staleness
    # guard (ADVICE r10) — see the assert_true gating below
    cnt_aggs = [F.count("*").alias("__tot_live")]
    for vc in value_cols:
        cnt_aggs += [
            F.count(vc).alias(f"__n_live_{vc}"),
            _vchk(vc).alias(f"__chk_live_{vc}"),
        ]
    in_any_band = None
    for vc in value_cols:
        v = F.col(vc)
        for name in rank_fracs:
            blo_v, bhi_v = bounds[(vc, name)]
            cnt_aggs.append(
                F.sum((v < F.lit(blo_v)).cast("long")).alias(
                    f"__nb_{vc}_{name}"
                )
            )
            band_pred = (v >= F.lit(blo_v)) & (v <= F.lit(bhi_v))
            in_any_band = (
                band_pred
                if in_any_band is None
                else (in_any_band | band_pred)
            )
    counts = src.groupBy().agg(*cnt_aggs)
    col_aggs = []
    for vc in value_cols:
        v = F.col(vc)
        for name in rank_fracs:
            blo_v, bhi_v = bounds[(vc, name)]
            col_aggs.append(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            (v >= F.lit(blo_v)) & (v <= F.lit(bhi_v)),
                            F.struct(
                                v.alias("v"), F.col("__tb").alias("tb")
                            ),
                        )
                    )
                ).alias(f"__band_{vc}_{name}")
            )
    collects = src.filter(in_any_band).groupBy().agg(*col_aggs)
    got = counts.crossJoin(F.broadcast(collects))
    _stale_msg = (
        "order_statistic_tuples: source changed since the plan was built "
        "(bounds/targets are a build-time snapshot) — rebuild the plan "
        "after any source mutation"
    )
    tot_ok = F.assert_true(
        F.col("__tot_live") == F.lit(brow["__tot"]), F.lit(_stale_msg)
    )
    out = [
        F.when(tot_ok.isNull(), F.lit(brow["__tot"]))
        .cast("long")
        .alias("n")
    ]
    for vc in value_cols:
        # count + checksum (r12): count alone passed an equal-count
        # value substitution silently; NULL-safe equality on the
        # checksum — both sides are NULL when the dimension has no
        # non-null values at all, which is a MATCH, not a mutation
        vc_ok = F.assert_true(
            (F.col(f"__n_live_{vc}") == F.lit(brow[f"__n_{vc}"]))
            & F.col(f"__chk_live_{vc}").eqNullSafe(
                F.lit(brow[f"__chk_{vc}"])
            ),
            F.lit(_stale_msg),
        )
        for name, (num, den) in rank_fracs.items():
            target = (brow[f"__n_{vc}"] * num) // den  # exact int, driver
            idx = (F.lit(target) - F.col(f"__nb_{vc}_{name}")).cast("int")
            out.append(
                # the when() keeps the struct type even when target <= 0
                # is decided at the driver (a bare F.lit(None) would be
                # NullType and break callers' struct comparisons)
                F.when(F.lit(target <= 0), F.lit(None))
                .otherwise(
                    F.when(
                        vc_ok.isNull(),
                        F.element_at(F.col(f"__band_{vc}_{name}"), idx),
                    )
                )
                .alias(f"{vc}_{name}")
            )
    return got.select(*out)
