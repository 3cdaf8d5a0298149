"""Exact order statistics without a single-partition sort or a
whole-group buffer: two primitives.

**Bucketed two-level rank** (round 5d).  ``row_number() OVER (ORDER BY
v)`` with no PARTITION BY moves the whole table through one task — the
classic Spark scaling cliff (WindowExec warns, and at 100 TB it simply
doesn't run).  The exact rewrite:

1. assign each row an equal-width value bucket between the column's
   min and max (``_with_buckets``: a 1-row min/max aggregate inside the
   same plan, so building launches no Spark job; equal values always
   share a bucket, so bucket order refines to total order);
2. per-bucket offsets = running sum over the bucket COUNTS — a window
   over <= ``_N_BUCKETS`` rows (bounded; with the probe's keyless
   min/max merge, the only single-partition steps);
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
share the one bucket assigner.

**Sketch band + in-band confirm** (round 9).  Order statistics at known
fractions need no rank column at all: one scan brackets each target
rank in a value band with a per-group GK sketch, a second scan counts
the values below the band exactly and collects the bounded in-band
values, and the target rank indexes the sorted band.  One private core,
``_sketch_band``, runs this plan for any group keys, value columns and
target fractions, with one band attach and one staleness guard;
``grouped_quantiles_band`` (payload ``v``, ``quantile_cont``
interpolation) and ``order_statistic_tuples`` (payload ``struct(v,
tb)``, exact integer rank targets) are its two final projections.
``sketch_band_edges`` holds the rank-slack rule and the whole-domain
regime, shared with xq12's own confirm pass.  Building a band plan runs
one job (the band collect) and snapshots the source; see
``_sketch_band`` for the contract and its runtime guard.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


_N_BUCKETS = 32  # equal-width bins of the bucketed rank
_LITERAL_GROUPS = 64  # band rows inlined as when-chains, else joined


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
    with_bucket = _with_buckets(df, value_col, _N_BUCKETS)
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
    rows (≈1/_N_BUCKETS of the data) take the in-bucket cumulative
    window.  No full-data shuffle, no prefix sum over every row —
    against ``SUM(w) OVER (ORDER BY v)``'s single-partition sort.

    Buckets come from the shared in-plan assigner (``_with_buckets``):
    no eager driver-side job — the r8 profile showed the former eager
    approxQuantile probe was 0.58 s of xq8's 1.00 s wall at sf0.1.  On
    heavy-tailed values the equal-width crossing bucket can hold more
    than 1/_N_BUCKETS of the rows (see the module docstring); the
    answer is unaffected.

    Duplicate values need no pre-aggregation: the filtered set is a
    suffix of the value order, so MIN(value) over it is the crossing
    value regardless of tie order inside the window."""
    src = df.select(value_col, weight_col).filter(
        F.col(value_col).isNotNull()
    )
    wb = _with_buckets(src, value_col, _N_BUCKETS)
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
        .limit(1)  # bounded: <= _N_BUCKETS rows enter this sort
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
    with_bucket = _with_buckets(df, order_col, _N_BUCKETS)
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



def sketch_band_edges(
    v: Column, fracs: list[float], accuracy: int
) -> list[tuple[Column, Column]]:
    """Aggregate expressions for the value band [lo, hi] that holds the
    order statistics at each fraction of ``fracs``, per group of the
    aggregate they ride — the one home of the rank-slack rule and the
    whole-domain regime.

    ALL probes ride ONE sketch: ``percentile_approx`` with an array
    percentage, probed at q ± 4/accuracy clipped to [0, 1] (measured at
    the x10 replica: 4 separate sketch aggregates 2.20 s vs one 4-probe
    sketch 0.80 s at accuracy 10000, 0.44 s at 1000 — sketch
    maintenance, not probing, is the cost).  Catalyst deduplicates the
    count, min, max and sketch across the returned expressions.

    Rank-slack proof, dual regime (margins must be literals — Spark
    requires a foldable percentage — so the regime switch is in-plan):
    - n ≥ 2·accuracy: ε·n ≥ 2 where ε = 1/accuracy.  lo probed at q−4ε
      has true rank ≤ (q−3ε)n ≤ qn−3; hi probed at q+4ε has rank
      ≥ (q+3ε)n ≥ qn+3.  The straddle ranks of q·(n−1) and the rank
      target (n·num) div den both land inside with ≥ 1 rank of slack.
    - n < 2·accuracy: the sketch bound εn < 2 cannot cover the ±2-rank
      gap between the q·n and q·(n−1) conventions, so the band widens
      to the WHOLE domain [min, max] — an exact bounded collect
      (< 2·accuracy values, the same order of state as the sketch).
    n counts the non-NULL values; a group with none gets NULL edges."""
    eps = 1.0 / accuracy
    probes = [
        p for q in fracs for p in (max(0.0, q - 4 * eps), min(1.0, q + 4 * eps))
    ]
    bp = F.percentile_approx(v, F.array(*map(F.lit, probes)), F.lit(accuracy))
    whole = F.count(v) < 2 * accuracy
    return [
        (
            F.when(whole, F.min(v)).otherwise(F.element_at(bp, 2 * i + 1)),
            F.when(whole, F.max(v)).otherwise(F.element_at(bp, 2 * i + 2)),
        )
        for i in range(len(fracs))
    ]


def _checksum(v: Column) -> Column:
    # order-independent checksum of the non-NULL values (bit_xor
    # ignores the NULL the when() maps NULL rows to): a count alone
    # misses an equal-count substitution of values.  Residual blind
    # spot: a mutation whose added AND removed
    # multisets each xor to the same value (swapping a duplicate PAIR
    # {a,a} for {b,b}) — count and xor both unchanged.
    return F.bit_xor(F.when(v.isNotNull(), F.xxhash64(v)))


def _key_match(keys: list[str], other: list) -> Column:
    """Null-safe equality of ``keys`` with ``other`` (columns or
    literals): a NULL group key is a legal grouping value (groupBy puts
    all NULLs in one group), and a plain equality would drop that group
    on exactly one attach path (tests/test_band_paths.py::
    test_fallback_path_null_group_key)."""
    return reduce(and_, [F.col(k).eqNullSafe(o) for k, o in zip(keys, other)])


def _sketch_band(
    df: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
    fracs: list[float],
    tiebreak: str | None,
    accuracy: int,
) -> DataFrame:
    """The shared core of the exact order statistics: per group and
    value column ``j``, the guarded non-NULL count ``__n{j}`` and, per
    fraction ``i``, the exact count of values below the band
    ``__nb{j}_{i}`` and the sorted in-band payloads ``__band{j}_{i}``
    (``v``, or ``struct(v, tb)`` with a tiebreak).  The order statistic
    of rank r is then ``element_at(__band, r − __nb)``.

    Pass 1 (one scan, one aggregate): per (group, value column) the
    non-NULL count, a checksum of the non-NULL values and the band edges
    of :func:`sketch_band_edges`; the band frame is collected (one job,
    grain = group count).  Band attach, by one predicate:
    - ≤ ``_LITERAL_GROUPS`` band rows: every band column becomes a
      null-safe when-chain of literals on the group key — no join, no
      recompute, every hot pass pure codegen (r9 at the x100
      exact_median: a broadcast re-attach cost ~62 ns/row, and the
      un-materialized band frame re-ran the sketch scan inside every
      consumer; 12.5 → ~4 s).  Deleting this path, so that every call
      took the join form, made exact_median_percentiles slower
      (1.395 → 1.564 s at sf0.1, 6 → 8 jobs).  No group keys means one
      band row, so plain literals.
    - more: the collected band rows become a local frame, attached by a
      null-safe LEFT broadcast join — when-chain width is a per-row
      compare count, fine at 64 and wrong at 10^6 groups.  Building the
      frame from the rows already on the driver re-runs no scan.
    Pass 2 (one scan): SPLIT aggregates (r9) — below-band counts ride a
    codegen HashAggregate over all rows; the ``collect_list`` aggregate
    (TypedImperative, so an interpreted ObjectHashAggregate) sees only
    the band-prefiltered rows.  The two meet on the group grain by a
    null-safe LEFT broadcast join, so a group whose every value is NULL
    keeps its row with NULL bands, as SQL ``percentile`` keeps it.

    EAGER/SNAPSHOT CONTRACT: the band edges, counts and checksums are a
    build-time snapshot of the source, while pass 2 reads live data.
    The staleness guard gates every ``__n{j}`` on live count ==
    snapshot count and live checksum <=> snapshot checksum (NULL-safe:
    a column with no non-NULL values has a NULL checksum on both sides)
    for every value column; ``assert_true`` fails the job otherwise.
    It catches any add/remove of values in a snapshotted group, an
    equal-count substitution (see ``_checksum``), and a wholly NEW group
    (its snapshot columns are NULL — unmatched when-chain or LEFT-join
    miss — and the guard evaluates NULL).  A group REMOVED from the
    source yields no live row, visible to the caller only as a missing
    output row.  Rebuild the plan after any source mutation."""
    g = list(group_cols)
    tb = [F.col(tiebreak).alias("__tb")] if tiebreak else []
    src = df.select(*g, *value_cols, *tb)
    band_aggs = []
    for j, vc in enumerate(value_cols):
        v = F.col(vc)
        band_aggs += [F.count(v).alias(f"__n{j}"), _checksum(v).alias(f"__chk{j}")]
        for i, (lo, hi) in enumerate(sketch_band_edges(v, fracs, accuracy)):
            band_aggs += [lo.alias(f"__lo{j}_{i}"), hi.alias(f"__hi{j}_{i}")]
    bands = src.groupBy(*g).agg(*band_aggs)
    snap_cols = bands.columns[len(g):]
    band_rows = bands.collect()  # one job; grain = group count
    # the guard's snapshot columns: a literal chain reads only the group
    # key, so it evaluates on the output grain; the join form carries
    # them through the count aggregate
    guard_cols = [f"__{p}{j}" for j in range(len(value_cols)) for p in ("n", "chk")]
    if len(band_rows) <= _LITERAL_GROUPS:
        live, carried = src, []
        if g:
            hits = [_key_match(g, [F.lit(r[k]) for k in g]) for r in band_rows]
            snap = {}
            for c in snap_cols:
                chain = F.lit(None)  # a group absent from the snapshot
                for i, (hit, r) in enumerate(zip(hits, band_rows)):
                    val = F.lit(r[c])
                    chain = chain.when(hit, val) if i else F.when(hit, val)
                snap[c] = chain
        else:
            snap = {c: F.lit(band_rows[0][c]) for c in snap_cols}
    else:
        keyed = df.sparkSession.createDataFrame(band_rows, bands.schema)
        keyed = keyed.select(*[F.col(k).alias(f"__b_{k}") for k in g], *snap_cols)
        live = src.join(
            F.broadcast(keyed), _key_match(g, [F.col(f"__b_{k}") for k in g]),
            "left",
        )
        snap = {c: F.col(c) for c in snap_cols}
        carried = [F.first(c).alias(c) for c in guard_cols]

    cnt_aggs, col_aggs, in_band = carried, [], []
    for j, vc in enumerate(value_cols):
        v = F.col(vc)
        cnt_aggs += [
            F.count(v).alias(f"__nl{j}"),
            _checksum(v).alias(f"__chkl{j}"),
        ]
        payload = F.struct(v.alias("v"), F.col("__tb").alias("tb")) if tb else v
        for i in range(len(fracs)):
            lo, hi = snap[f"__lo{j}_{i}"], snap[f"__hi{j}_{i}"]
            cnt_aggs.append(F.sum((v < lo).cast("long")).alias(f"__nb{j}_{i}"))
            hit = (v >= lo) & (v <= hi)
            in_band.append(hit)
            col_aggs.append(
                F.sort_array(F.collect_list(F.when(hit, payload))).alias(
                    f"__band{j}_{i}"
                )
            )
    counts = live.groupBy(*g).agg(*cnt_aggs)
    collects = live.filter(reduce(or_, in_band)).groupBy(*g).agg(*col_aggs)
    if g:
        right = collects.select(
            *[F.col(k).alias(f"__r_{k}") for k in g], *collects.columns[len(g):]
        )
        got = counts.join(
            F.broadcast(right), _key_match(g, [F.col(f"__r_{k}") for k in g]),
            "left",
        )
    else:
        got = counts.crossJoin(F.broadcast(collects))
    fresh = reduce(
        and_,
        [
            (F.col(f"__nl{j}") == snap[f"__n{j}"])
            & F.col(f"__chkl{j}").eqNullSafe(snap[f"__chk{j}"])
            for j in range(len(value_cols))
        ],
    )
    ok = F.assert_true(
        fresh,
        F.lit(
            "sketch-band order statistics: source changed since the plan "
            "was built (band bounds are a build-time snapshot) — rebuild "
            "the plan after any source mutation"
        ),
    ).isNull()
    return got.select(
        *g,
        *[
            F.when(ok, snap[f"__n{j}"]).alias(f"__n{j}")
            for j in range(len(value_cols))
        ],
        *[
            f"__{p}{j}_{i}"
            for j in range(len(value_cols))
            for i in range(len(fracs))
            for p in ("nb", "band")
        ],
    )


def grouped_quantiles_band(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    quantiles: dict[str, float],
    accuracy: int = 2000,
) -> DataFrame:
    """Exact continuous quantiles per group (``quantile_cont`` semantics:
    linear interpolation at position q·(n−1), NULL values excluded, a
    group of only NULLs gives NULL — matching SQL ``percentile``) in TWO
    table scans, zero windows, zero joins on the data.  The scale-safe
    replacement for ``percentile(col, array(...))`` GROUP BY, which
    buffers an entire group in one task's aggregation buffer.

    On the sketch-band core (:func:`_sketch_band`, payload ``v``): the
    final projection indexes the two straddle ranks of q·(n−1) in the
    sorted band and interpolates — exact order statistics, so the
    OUTPUT is deterministic even though the sketch's merge order is not
    (the band only steers).  Per-group state is ≤ max(10n/accuracy +
    tie mass, 2·accuracy) values; heavy ties at a band edge widen the
    collect by the tie mass.  Default accuracy 2000 balances sketch
    insert cost against band collect size.

    Building the plan runs the core's band job, and the result snapshots
    the source as of build time, guarded at run time (see
    :func:`_sketch_band`)."""
    core = _sketch_band(
        df, group_cols, [value_col], list(quantiles.values()), None, accuracy
    )
    n = F.col("__n0")
    out = []
    for i, (name, q) in enumerate(quantiles.items()):
        pos = F.lit(q) * (n - 1).cast("double")
        lo_rank = F.floor(pos) + 1  # 1-based global rank of the floor value
        frac = pos - F.floor(pos)
        arr, nb = F.col(f"__band0_{i}"), F.col(f"__nb0_{i}")
        v_lo = F.element_at(arr, (lo_rank - nb).cast("int")).cast("double")
        v_hi = F.element_at(arr, (lo_rank + 1 - nb).cast("int")).cast("double")
        # frac == 0 is exact (q·(n−1) hits an integer only when the double
        # product is integral), and v_lo·1.0 ≡ v_lo bitwise — emit v_lo
        # directly so a missing rank-(lo+1) row can never inject a NULL.
        expr = F.when(frac == 0, v_lo).otherwise(
            v_lo * (F.lit(1.0) - frac) + v_hi * frac
        )
        out.append(F.when(n > 0, expr).alias(name))
    return core.select(*group_cols, *out)


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
    rounds down across an integer; the in-plan integer ``div`` is
    convention-exact against a ``CAST(x // 3 AS ...)`` oracle.

    The boundary consumer's contract: ``row_number() OVER (ORDER BY v,
    tb)`` ≤ floor(frac·n)  ⇔  struct(v, tb) ≤ the returned boundary
    tuple (row_number over a UNIQUE (v, tb) order is exactly the tuple's
    rank).  A caller classifying rows into rank buckets (terciles,
    deciles at fixed fracs) therefore needs only these boundary tuples
    broadcast back — per-row classification is a codegen'd struct
    comparison, no rank column ever materializes.

    On the sketch-band core (:func:`_sketch_band`, no group keys,
    payload ``struct(v, tb)``): ALL dimensions and ALL cuts share ONE
    band pass and ONE confirm pass.  Ties in a value column are resolved
    by the in-band sort on (v, tb); the band is value-only, so all
    tuples sharing a boundary value ride the collect.  Per-dimension
    NULL values are excluded from that dimension's count and band,
    matching a per-dimension ``WHERE v IS NOT NULL`` rank.  A rank
    target of 0 (num = 0, or n < den/num) has no boundary tuple: the
    struct is NULL and the caller must coalesce its comparison (no row
    has rank ≤ 0).  Same snapshot contract and runtime staleness guard
    as :func:`grouped_quantiles_band`."""
    fracs = [num / den for num, den in rank_fracs.values()]
    core = _sketch_band(df, [], value_cols, fracs, tiebreak_col, accuracy)
    out = []
    for j, vc in enumerate(value_cols):
        n = F.col(f"__n{j}").cast("long")
        for i, (name, (num, den)) in enumerate(rank_fracs.items()):
            target = F.call_function("div", n * num, F.lit(den))
            idx = (target - F.col(f"__nb{j}_{i}")).cast("int")
            out.append(
                F.when(target > 0, F.element_at(F.col(f"__band{j}_{i}"), idx))
                .alias(f"{vc}_{name}")
            )
    return core.select(*out)
