"""Statistical profiling operators: equi-depth histograms, chi-square
independence, Benford leading-digit screens, and functional-dependency
conflict mining.

All four follow the same 100 TB shape: ONE full scan that reduces to a
bounded table (buckets, contingency cells, digits, conflicting keys),
then any cross-row mathematics (marginals, totals, expected counts)
re-derived from that bounded table — never a second pass over the
data.  Boundary vectors and marginal tables broadcast back when a
per-row assignment needs them.

No reference analog: the reference profiles null counts only
(``src/etl/silver_to_gold.py:46-52``); net-new analytics surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

__all__ = [
    "equidepth_histogram",
    "chi_square_independence",
    "benford_profile",
    "fd_conflicts",
    "basket_pairs",
    "cusum",
]


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    buckets: int = 10,
    round_to: int = 4,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of ``value_col``.

    Exact interior percentile boundaries (one single-row aggregate,
    broadcast back), then a map-side bucket assignment: bucket = how
    many boundaries the value exceeds.  No global sort, no NTILE
    window — the classic NTILE formulation funnels the whole table
    through ONE window partition, which is exactly the plan that dies
    at 100 TB.  At scale swap ``percentile`` for the mergeable
    ``percentile_approx`` sketch; the assignment pass is unchanged.

    Boundaries are rounded to ``round_to`` decimals BEFORE assignment
    so an oracle engine computing the same interpolation reproduces
    the same cut points bit-for-bit.

    ``exact=False`` switches the boundary pass to the mergeable
    Greenwald-Khanna ``percentile_approx`` sketch — fixed-size
    partials, no per-partition value buffering (measured 62 s -> 3.1 s
    at 20M rows on local[32], scripts/stress_stats.py); bucket DEPTHS
    then deviate from n/k only by the sketch's rank-error bound.  The
    assignment pass is identical either way.

    NULL ``value_col`` rows are dropped up front: ``percentile``
    ignores them anyway, and without the filter they would land in
    bucket 0 (a NULL comparison filters to an empty array, size 0)
    inflating its count while contributing nothing to lo/hi/mean.
    """
    df = df.where(F.col(value_col).isNotNull())
    qs = [i / buckets for i in range(1, buckets)]
    v = F.col(value_col)
    fn = "percentile" if exact else "percentile_approx"
    acc = "" if exact else f", {accuracy}"
    pct = F.expr(
        f"{fn}({value_col}, array({', '.join(str(q) for q in qs)}){acc})"
    )
    bounds = df.agg(
        F.transform(pct, lambda b: F.round(b, round_to)).alias("__bounds")
    )
    assigned = df.crossJoin(broadcast(bounds)).select(
        v.alias("__v"),
        F.size(F.filter("__bounds", lambda b: v > b)).alias("bucket"),
    )
    return (
        assigned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("__v"), round_to).alias("lo"),
            F.round(F.max("__v"), round_to).alias("hi"),
            F.round(F.avg("__v"), 6).alias("mean"),
        )
        .orderBy("bucket")
    )


def chi_square_independence(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Per-cell chi-square decomposition of a two-way contingency
    table: observed, expected under independence, the cell's
    contribution, and a key-ordered running sum of contributions whose
    last value is the table-wide statistic.

    Single scan -> cell counts; marginals and the grand total are
    exact integer re-aggregations OVER THE BOUNDED CELL TABLE (window
    sums over |rows|x|cols| cells), so the raw data is read once.
    """
    from pyspark.sql import Window

    cells = df.groupBy(
        F.col(row_col).alias("row_key"), F.col(col_col).alias("col_key")
    ).agg(F.count(F.lit(1)).alias("observed"))
    w_row = Window.partitionBy("row_key")
    w_col = Window.partitionBy("col_key")
    w_all = Window.partitionBy()
    with_marg = cells.select(
        "row_key",
        "col_key",
        "observed",
        F.sum("observed").over(w_row).alias("row_total"),
        F.sum("observed").over(w_col).alias("col_total"),
        F.sum("observed").over(w_all).alias("grand_total"),
    )
    expected = (
        F.col("row_total").cast("double")
        * F.col("col_total")
        / F.col("grand_total")
    )
    diff = F.col("observed") - expected
    # (o-e)*(o-e), not pow(o-e, 2): libm pow need not equal the exact
    # product, and the oracle engine must reproduce the double exactly
    contrib = diff * diff / expected
    per_cell = with_marg.select(
        "row_key",
        "col_key",
        "observed",
        F.round(expected, 6).alias("expected"),
        F.round(contrib, 6).alias("contrib"),
        contrib.alias("__contrib_raw"),
    )
    # the table statistic as an ORDERED running sum over the bounded
    # cell table — a fixed float reduction order every engine
    # reproduces (an unordered SUM() over derived float terms is not
    # portable); the last cell's value is the chi-square statistic
    w_cum = (
        Window.partitionBy()
        .orderBy("row_key", "col_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_cell.select(
        "row_key",
        "col_key",
        "observed",
        "expected",
        "contrib",
        F.round(F.sum("__contrib_raw").over(w_cum), 6).alias(
            "cum_chi_square"
        ),
    )


def finite(c: Column | str) -> Column:
    """TRUE iff the double is non-NULL and finite.  The measure twin
    of the vector contract (llm/similarity.vec_valid): a NaN/Inf
    metric is a corrupt record — it has no cents rendering (ANSI
    ``CAST(NaN AS BIGINT)`` raises where DuckDB's raises too), no
    leading digit, and no magnitude — so exact-integer money math
    filters it like a NULL.  Oracle twin: ``isfinite(col)``."""
    col = F.col(c) if isinstance(c, str) else c
    return col.isNotNull() & ~F.isnan(col) & (F.abs(col) != F.lit(float("inf")))


def _leading_digit_cents(v: Column) -> Column:
    """First significant digit of a positive 2-decimal price, via the
    exact integer cents rendering (portable across engines — no
    float pow/log in the digit path)."""
    cents = F.round(v * 100).cast("long").cast("string")
    return F.substring(cents, 1, 1).cast("int")


def benford_profile(df: DataFrame, value_col: str) -> DataFrame:
    """Leading-digit distribution of ``value_col`` vs Benford's law.

    The classic synthetic-data / fraud screen: natural multiplicative
    quantities put digit d first with probability log10(1 + 1/d).
    One scan -> 9-row digit table; shares derive from the bounded
    table via a window total.
    """
    from pyspark.sql import Window

    digits = (
        # finite(): NaN > 0 is TRUE on both engines (NaN sorts above
        # everything), so without the guard a NaN value reaches the
        # cents cast and ANSI raises CAST_OVERFLOW.
        df.where((F.col(value_col) > 0) & finite(value_col))
        .groupBy(_leading_digit_cents(F.col(value_col)).alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy())
    observed = F.col("n").cast("double") / total
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return digits.select(
        "digit",
        "n",
        F.round(observed, 6).alias("observed_share"),
        F.round(benford, 6).alias("benford_share"),
        F.round(F.abs(observed - benford), 6).alias("abs_gap"),
    ).orderBy("digit")


def fd_conflicts(
    df: DataFrame,
    determinant: Column | str,
    dependents: list[str],
    only_violations: bool = True,
) -> DataFrame:
    """Functional-dependency conflict mining: groups of rows sharing a
    determinant value whose dependent attributes disagree — e.g.
    duplicate documents (same content fingerprint) carrying
    conflicting language or source metadata.

    One hash aggregate on the determinant; ``count(distinct ...)`` per
    dependent inside it.  ``only_violations=False`` keeps every group
    so callers can report "FD verified clean" as a positive result.
    """
    det = F.col(determinant) if isinstance(determinant, str) else determinant
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for dep in dependents:
        aggs.append(F.countDistinct(F.col(dep)).alias(f"n_{dep}"))
    grouped = df.groupBy(det.alias("determinant")).agg(*aggs)
    if not only_violations:
        return grouped
    violation = None
    for dep in dependents:
        cond = F.col(f"n_{dep}") > 1
        violation = cond if violation is None else (violation | cond)
    return grouped.where(violation)


def basket_pairs(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """Market-basket co-occurrence: for every unordered item pair,
    how many groups contain both, with support and lift.

    Scale shape: distinct (group, item) projection, then per-group
    sorted item ARRAYS whose within-array pair expansion is a narrow
    nested ``transform`` — one shuffle on the group key instead of a
    self-join (measured 42-87 s -> 21 s at 20M rows on local[32],
    steadier too: no join-side skew).  Bounded because per-group item
    counts are small (order lines, basket sizes), so the expansion is
    O(groups x k^2), never all-pairs over items.  Per-item totals are
    an O(|items|) broadcast; lift is integer-moment math (exact
    counts, then one scalar division) so any oracle engine reproduces
    the doubles.
    """
    base = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("item")
    ).distinct()
    n_groups_row = base.agg(
        F.countDistinct("g").alias("__n_groups")
    )
    sets = base.groupBy("g").agg(
        F.sort_array(F.collect_set("item")).alias("s")
    )
    pairs = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(s, (x, i) ->"
                    " transform(slice(s, i + 2, size(s) - i - 1),"
                    " y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("item_a"), F.col("p.b").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("pair_groups"))
    )
    totals = base.groupBy("item").agg(F.count(F.lit(1)).alias("item_groups"))
    with_tot = (
        pairs.join(
            broadcast(totals.select(F.col("item").alias("item_a"),
                                    F.col("item_groups").alias("n_a"))),
            "item_a",
        )
        .join(
            broadcast(totals.select(F.col("item").alias("item_b"),
                                    F.col("item_groups").alias("n_b"))),
            "item_b",
        )
        .crossJoin(broadcast(n_groups_row))
    )
    support = F.col("pair_groups").cast("double") / F.col("__n_groups")
    lift = (
        F.col("pair_groups").cast("double")
        * F.col("__n_groups")
        / (F.col("n_a") * F.col("n_b"))
    )
    return with_tot.select(
        "item_a",
        "item_b",
        "pair_groups",
        "n_a",
        "n_b",
        F.round(support, 6).alias("support"),
        F.round(lift, 6).alias("lift"),
    )


def cusum(df: DataFrame, order_col: str, value_col: str) -> DataFrame:
    """CUSUM changepoint screen over an ordered series: the running
    sum of deviations from the series mean, plus a flag on the row
    where |CUSUM| peaks (the classic changepoint candidate).

    The input is expected to be an already-bounded series (e.g. daily
    aggregates), so the ordered running-sum window is over O(days)
    rows, not the raw data.  The running sum accumulates in series
    order — a FIXED float reduction order every engine reproduces.
    """
    from pyspark.sql import Window

    mean_row = df.agg(
        F.sum(F.col(value_col)).cast("double").alias("__tot"),
        F.count(F.lit(1)).alias("__n"),
    )
    dev = df.crossJoin(broadcast(mean_row)).select(
        F.col(order_col),
        F.col(value_col),
        (F.col(value_col) - F.col("__tot") / F.col("__n")).alias("__dev"),
    )
    w = (
        Window.partitionBy()
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dev.select(
        order_col,
        value_col,
        F.sum("__dev").over(w).alias("__cusum"),
    )
    w_all = Window.partitionBy()
    return cum.select(
        order_col,
        value_col,
        F.round("__cusum", 6).alias("cusum"),
        (F.abs("__cusum") == F.max(F.abs("__cusum")).over(w_all)).alias(
            "is_peak"
        ),
    )


# --- classical two-sample tests ---------------------------------------------


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups, as ONE
    hash-aggregate pass (conditional sums) — no per-group subqueries,
    no second scan.  At any scale this is a map-side-combinable
    aggregate: 6 partial sums per partition, merged on the driver.

    Moments come from the sum / sum-of-squares identities computed in
    the SAME textual order as the DuckDB oracle (the repo's
    fixed-order float rule; the regression/Pearson queries set the
    precedent).  Non-finite values are excluded by the caller's
    filter contract (operators/stats.finite).  Degenerate guards:
    either group with n < 2 (or zero pooled variance) yields NULL
    t/df, never an ANSI divide error."""
    a, b = F.lit(group_a), F.lit(group_b)
    v = F.col(value_col).cast("double")
    is_a = F.col(group_col) == a
    is_b = F.col(group_col) == b
    agg = df.where(is_a | is_b).agg(
        F.count(F.when(is_a, 1)).alias("n_a"),
        F.count(F.when(is_b, 1)).alias("n_b"),
        F.coalesce(F.sum(F.when(is_a, v)), F.lit(0.0)).alias("s_a"),
        F.coalesce(F.sum(F.when(is_b, v)), F.lit(0.0)).alias("s_b"),
        F.coalesce(F.sum(F.when(is_a, v * v)), F.lit(0.0)).alias("ss_a"),
        F.coalesce(F.sum(F.when(is_b, v * v)), F.lit(0.0)).alias("ss_b"),
    )
    m_a = F.try_divide(F.col("s_a"), F.col("n_a"))
    m_b = F.try_divide(F.col("s_b"), F.col("n_b"))
    var_a = F.try_divide(
        F.col("ss_a") - F.col("s_a") * F.col("s_a") / F.col("n_a"),
        F.col("n_a") - 1,
    )
    var_b = F.try_divide(
        F.col("ss_b") - F.col("s_b") * F.col("s_b") / F.col("n_b"),
        F.col("n_b") - 1,
    )
    se2 = var_a / F.col("n_a") + var_b / F.col("n_b")
    t = F.try_divide(m_a - m_b, F.sqrt(se2))
    dof = F.try_divide(
        se2 * se2,
        (var_a / F.col("n_a")) * (var_a / F.col("n_a"))
        / (F.col("n_a") - 1)
        + (var_b / F.col("n_b")) * (var_b / F.col("n_b"))
        / (F.col("n_b") - 1),
    )
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    return agg.select(
        F.col("n_a").alias("n_a"),
        F.col("n_b").alias("n_b"),
        F.round(m_a, 6).alias("mean_a"),
        F.round(m_b, 6).alias("mean_b"),
        F.round(F.when(ok, t), 6).alias("t_stat"),
        F.round(F.when(ok, dof), 4).alias("welch_df"),
    )


def rank_table_two_sample(
    df: DataFrame, group_col: str, value_col: str, group_a: str, group_b: str
) -> DataFrame:
    """Shared skeleton for rank statistics (Mann-Whitney, KS): one row
    per DISTINCT value with per-group counts and the running totals.

    The running-total window is unpartitioned BUT over the distinct
    value domain only — O(|distinct values|) rows (2-decimal metrics:
    bounded thousands), not O(events); the raw table never funnels
    through a single partition."""
    a, b = F.lit(group_a), F.lit(group_b)
    v = F.col(value_col).cast("double")
    per_v = (
        df.where((F.col(group_col) == a) | (F.col(group_col) == b))
        .groupBy(v.alias("v"))
        .agg(
            F.count(F.when(F.col(group_col) == a, 1)).alias("c_a"),
            F.count(F.when(F.col(group_col) == b, 1)).alias("c_b"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_v.select(
        "v",
        "c_a",
        "c_b",
        F.sum("c_a").over(w).alias("cum_a"),
        F.sum("c_b").over(w).alias("cum_b"),
        F.sum(F.col("c_a") + F.col("c_b")).over(w).alias("cum_all"),
    )


def mann_whitney_u(
    df: DataFrame, group_col: str, value_col: str, group_a: str, group_b: str
) -> DataFrame:
    """Mann-Whitney U (rank-sum) with the normal approximation and tie
    correction.  Average ranks come from the distinct-value running
    totals, so every product ``c_a * avg_rank`` is an exact multiple
    of 0.5 — the rank-sum reduction is order-independent in IEEE
    doubles (no float-order divergence between engines by
    construction)."""
    rt = rank_table_two_sample(df, group_col, value_col, group_a, group_b)
    avg_rank = (F.col("cum_all") - (F.col("c_a") + F.col("c_b"))) + (
        F.col("c_a") + F.col("c_b") + 1
    ) / F.lit(2.0)
    t_group = F.col("c_a") + F.col("c_b")
    agg = rt.agg(
        F.coalesce(F.sum(F.col("c_a")), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.sum(F.col("c_b")), F.lit(0)).cast("bigint").alias("n_b"),
        F.coalesce(F.sum(F.col("c_a") * avg_rank), F.lit(0.0)).alias("r_a"),
        F.coalesce(
            F.sum(t_group * t_group * t_group - t_group), F.lit(0)
        ).cast("bigint").alias("tie_sum"),
    )
    n = F.col("n_a") + F.col("n_b")
    u_a = F.col("r_a") - F.col("n_a") * (F.col("n_a") + 1) / F.lit(2.0)
    mu = F.col("n_a") * F.col("n_b") / F.lit(2.0)
    sigma = F.sqrt(
        F.col("n_a") * F.col("n_b") / F.lit(12.0)
        * ((n + 1) - F.col("tie_sum") / (n * (n - 1)))
    )
    ok = (F.col("n_a") >= 1) & (F.col("n_b") >= 1) & (n >= 2)
    return agg.select(
        "n_a",
        "n_b",
        F.round(u_a, 2).alias("u_stat"),
        F.round(F.when(ok, F.try_divide(u_a - mu, sigma)), 6).alias("z_score"),
    )


def ks_two_sample(
    df: DataFrame, group_col: str, value_col: str, group_a: str, group_b: str
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D over the distinct-value ECDF
    table (same bounded skeleton as Mann-Whitney).  D is a MAX of
    per-row |F_a - F_b| terms — reduction-order-free; each term is
    the same two exact-integer divisions on both engines.  The group
    totals are bounded scalars (two ints), collected driver-side like
    every other grand-total in the repo."""
    import math as _math

    rt = rank_table_two_sample(df, group_col, value_col, group_a, group_b)
    totals = rt.agg(
        F.coalesce(F.sum("c_a"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.sum("c_b"), F.lit(0)).cast("bigint").alias("n_b"),
    ).collect()[0]
    n_a, n_b = int(totals["n_a"]), int(totals["n_b"])
    if n_a == 0 or n_b == 0:
        return df.sparkSession.createDataFrame(
            [(n_a, n_b, None, None)],
            "n_a bigint, n_b bigint, d_stat double, ks_scaled double",
        )
    d = rt.agg(
        F.max(
            F.abs(
                F.col("cum_a") / F.lit(float(n_a))
                - F.col("cum_b") / F.lit(float(n_b))
            )
        ).alias("d_raw")
    )
    scale = _math.sqrt(n_a * n_b / (n_a + n_b))
    return d.select(
        F.lit(n_a).cast("bigint").alias("n_a"),
        F.lit(n_b).cast("bigint").alias("n_b"),
        F.round(F.col("d_raw"), 6).alias("d_stat"),
        F.round(F.col("d_raw") * F.lit(scale), 6).alias("ks_scaled"),
    )


def theil_sen_slope(
    daily: DataFrame, day_col: str = "day", y_col: str = "y"
) -> DataFrame:
    """Theil-Sen robust trend: the median of all pairwise slopes over
    an already-aggregated daily series.  The O(d²) pair join runs on
    the O(days) table — bounded by the calendar, never by the event
    count (the same contract as the repo's other daily statistics);
    the raw table is reduced FIRST.  Slopes divide by exact integer
    day gaps; the median interpolates the same IEEE doubles on both
    engines."""
    a = daily.select(F.col(day_col).alias("d1"), F.col(y_col).alias("y1"))
    b = daily.select(F.col(day_col).alias("d2"), F.col(y_col).alias("y2"))
    pairs = broadcast(a).join(b, F.col("d1") < F.col("d2"))
    slopes = pairs.select(
        F.try_divide(
            F.col("y2") - F.col("y1"), F.datediff(F.col("d2"), F.col("d1"))
        ).alias("slope")
    )
    return slopes.agg(
        F.count("slope").alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5)"), 6).alias("sen_slope"),
    )


def binary_changepoint(
    daily: DataFrame, day_col: str = "day", y_col: str = "y"
) -> DataFrame:
    """Single best change-point by between-segment sum-of-squares gain
    (binary segmentation, one split) over a daily series.

    The running total is a window cumsum in day order, LATTICE-ROUNDED
    (repo rule for iterative/cumulative float state): DuckDB evaluates
    window sums with a segment tree, Spark with a running accumulator
    — rounding the cumsum to 1e-4 absorbs the reduction-order noise so
    every downstream gain is computed from identical inputs.  Gains
    use the identity  cs²/i + (S−cs)²/(n−i) − S²/n  in fixed textual
    order; the argmax orders by the rounded gain with the day as the
    deterministic tie-break."""
    from pyspark.sql import Window

    tot = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.coalesce(F.sum(y_col), F.lit(0.0)), 4).alias("s"),
    ).collect()[0]
    n, s = int(tot["n"]), float(tot["s"])
    spark = daily.sparkSession
    if n < 2:
        return spark.createDataFrame(
            [], "split_day date, n_left bigint, gain double"
        )
    w = Window.orderBy(day_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        F.col(day_col).alias("split_day"),
        F.row_number().over(Window.orderBy(day_col)).alias("i"),
        F.round(F.sum(y_col).over(w), 4).alias("cs"),
    ).where(F.col("i") < n)
    gain = (
        F.col("cs") * F.col("cs") / F.col("i")
        + (F.lit(s) - F.col("cs")) * (F.lit(s) - F.col("cs"))
        / (F.lit(n) - F.col("i"))
        - F.lit(s) * F.lit(s) / F.lit(n)
    )
    return (
        cum.select(
            "split_day",
            F.col("i").cast("bigint").alias("n_left"),
            F.round(gain, 6).alias("gain"),
        )
        .orderBy(F.desc("gain"), F.asc("split_day"))
        .limit(1)
    )
