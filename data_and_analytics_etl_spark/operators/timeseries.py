"""Time-series resample with gap filling (hypertable-style rollup).

Spark's `window()` aggregates only buckets that HAVE data; dashboards
and downstream models need the empty buckets too. The scalable rewrite:

  1. bucket + aggregate (one shuffle on (key, bucket));
  2. per-key bounds (min/max bucket — reuses the same shuffle output);
  3. spine = explode(sequence(lo, hi, step)) per key — generated
     row-count is bounded by (range/step)·keys, no data shuffle;
  4. left join aggregates onto the spine (broadcast-friendly: the
     aggregated side is already small relative to raw data).

Everything is built-in expressions; no driver-side date loops.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def resample(df: DataFrame, key: str, ts_col: str, interval: str = "1 hour",
             value_col: str | None = None,
             materialize: bool = True) -> DataFrame:
    """Per-key fixed-interval rollup with empty buckets materialized.

    Output: (key, bucket_start, n, sum_value?) — one row per key per
    interval between that key's first and last event; gap buckets carry
    n=0 and NULL sum.

    ``materialize`` (default True) persists the aggregated frame
    (keys x buckets rows — tiny next to raw) before it fans into the
    spine-bounds branch and the join branch. Without it both branches
    re-scan the RAW input: column pruning narrows the spine branch's
    aggregate, so Catalyst's ReuseExchange sees two different subtrees
    and reuses nothing (plan-verified: 2 FileScans -> 1). Same rule as
    SCALE.md "Shared-subtree materialization".
    """
    step = F.expr(f"INTERVAL {interval}")
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col:
        # decimal sum: accumulation-order-independent across engines
        aggs.append(F.sum(F.col(value_col).cast("decimal(18,2)"))
                    .cast("double").alias("sum_value"))
    agged = (df.groupBy(F.col(key),
                        F.window(ts_col, interval)["start"].alias("bucket"))
             .agg(*aggs))
    if materialize:
        from pyspark import StorageLevel
        agged = agged.persist(StorageLevel.MEMORY_AND_DISK)
    spine = (agged.groupBy(key)
             .agg(F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi"))
             .select(key, F.explode(F.sequence(F.col("__lo"), F.col("__hi"),
                                               step)).alias("bucket")))
    out = (spine.join(agged, [key, "bucket"], "left")
           .withColumn("n", F.coalesce(F.col("n"), F.lit(0))))
    return out


def gap_fill(resampled: DataFrame, key: str, order_col: str = "bucket",
             value_cols: tuple[str, ...] = ("sum_value",)) -> DataFrame:
    """Forward-fill NULL gap buckets from the last observed value.

    Runs on ``resample`` output: per key, ordered by bucket, each value
    column gains a ``<col>_filled`` twin carrying the most recent
    non-null observation (leading gaps stay NULL — there is nothing to
    fill from). ``last(..., ignorenulls=True)`` over a running ROWS
    frame; the window shares the resample output's (key) partitioning,
    so the fill adds a sort but no extra shuffle beyond the window's
    own, and state per key is one scalar per filled column.
    """
    w = (Window.partitionBy(key).orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = resampled
    for c in value_cols:
        out = out.withColumn(f"{c}_filled",
                             F.last(F.col(c), ignorenulls=True).over(w))
    return out


def interpolate_linear(resampled: DataFrame, key: str,
                       order_col: str = "bucket",
                       value_col: str = "sum_value") -> DataFrame:
    """Linear interpolation of NULL gap buckets between the nearest
    observed neighbors — the smooth twin of :func:`gap_fill`'s step
    (forward-fill) semantics.

    Runs on :func:`resample` output: per key, ordered by bucket, each
    NULL value gains ``<col>_interp`` = prev + (next - prev)·frac where
    frac is the bucket's time position between the bracketing non-null
    observations (integer-µs arithmetic, one double division). Observed
    buckets pass through unchanged; leading/trailing gaps stay NULL
    (nothing to bracket them). Engine-exact: prev/next are the resample
    output's decimal-summed values and the interpolation is ONE double
    expression per row — no accumulation.

    Two running windows (backward last / forward first) over the same
    (key, bucket) ordering: one shuffle on the key, O(1) state per key.
    """
    back = (Window.partitionBy(key).orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fwd = (Window.partitionBy(key).orderBy(order_col)
           .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    v = F.col(value_col)
    us = F.unix_micros(F.col(order_col))
    obs_us = F.when(v.isNotNull(), us)
    prev_v = F.last(v, ignorenulls=True).over(back)
    prev_t = F.last(obs_us, ignorenulls=True).over(back)
    next_v = F.first(v, ignorenulls=True).over(fwd)
    next_t = F.first(obs_us, ignorenulls=True).over(fwd)
    frac = (us - prev_t).cast("double") / (next_t - prev_t)
    # Deliberately UNROUNDED: prev + (next-prev)*frac is a fixed chain of
    # correctly-rounded IEEE ops over engine-exact inputs, so the raw
    # double is bit-identical across engines — whereas round(x, 6) is
    # NOT cross-engine stable at half-way boundaries (Spark rounds the
    # exact binary value HALF_UP via BigDecimal, DuckDB rounds the
    # scaled double), and an interpolated value landed exactly on one
    # (…2.5e-6) in round-6 testing.
    interp = (F.when(v.isNotNull(), v)
              .when(prev_v.isNotNull() & next_v.isNotNull(),
                    prev_v + (next_v - prev_v) * frac))
    return resampled.withColumn(f"{value_col}_interp", interp)


def time_weighted_avg(df: DataFrame, key: str, ts_col: str,
                      value_col: str, tie_break: str | None = None,
                      ) -> DataFrame:
    """Per-key time-weighted mean under step-function (sample-and-hold)
    semantics: each observation's value holds until the key's next
    observation, so its weight is that interval's duration; the final
    observation of a key has no successor and contributes nothing (the
    standard twa contract for irregular telemetry).

    Engine-exact across Spark/DuckDB: weights are INTEGER microseconds
    (``unix_micros`` of the lead-gap), values quantize to integer cents,
    and the Σ(value·Δt) accumulator runs in DECIMAL(38,0) — the per-row
    product is bounded by ~5e4 cents × ~1e11 µs ≈ 5e15 « 2^63, so the
    row-side stays in codegen longs and only the partials touch decimal
    (the q1 two-stage rule). ONE shuffle on the key shared by the lead
    window and the final aggregate. Output: (key, twa, observed_us).

    NULL values are excluded up front (a NULL sample is a gap, not a
    zero); keys with fewer than two observations drop out (no interval
    to weight).
    """
    order = [F.col(ts_col)] + ([F.col(tie_break)] if tie_break else [])
    w = Window.partitionBy(key).orderBy(*order)
    src = df.filter(F.col(value_col).isNotNull())
    stepped = (src
               .withColumn("__next_us",
                           F.unix_micros(F.lead(ts_col).over(w)))
               .filter(F.col("__next_us").isNotNull())
               .withColumn("__dt", F.col("__next_us")
                           - F.unix_micros(F.col(ts_col)))
               .withColumn("__vc",
                           F.round(F.col(value_col) * 100).cast("long")))
    return (stepped.groupBy(key)
            .agg(F.sum((F.col("__vc") * F.col("__dt"))
                       .cast("decimal(38,0)")).alias("__num"),
                 F.sum(F.col("__dt").cast("decimal(38,0)"))
                 .alias("__den"))
            .select(F.col(key),
                    F.round((F.col("__num").cast("double") / 100.0)
                            / F.col("__den").cast("double"), 6)
                    .alias("twa"),
                    F.col("__den").cast("long").alias("observed_us")))


def ewma_bounded(df: DataFrame, key: str, order_cols: list[str],
                 value_col: str, lags: int = 8,
                 out_col: str = "ewma") -> DataFrame:
    """Truncated-history EWMA (alpha = 1/2) over the trailing ``lags`` rows.

    The classic recursive EWMA s_t = a·x_t + (1-a)·s_{t-1} is a sequential
    scan — the anti-pattern a distributed engine must avoid. With a = 1/2
    the weights are powers of two, so the bounded form

        ewma_t = Σ_{j<L} 2^(L-1-j)·x_{t-j}  /  Σ_{j<L} 2^(L-1-j)

    (missing lags at a sequence head drop out of BOTH sums — the standard
    ``adjust=True`` normalization) is exact INTEGER arithmetic over cent
    values until one final double division: bit-stable across engines,
    no pow(), no float accumulation. The L lag() calls share one window
    spec, so Catalyst plans a single Sort+Window over one shuffle on
    ``key``; per-row state is O(L) longs. The truncation error vs the
    unbounded EWMA is ≤ 2^-L of the oldest history — at L = 8 under 0.4%,
    decaying exponentially, which is why production metric pipelines use
    exactly this windowed form.
    """
    w = Window.partitionBy(key).orderBy(*order_cols)
    x_c = F.round(F.col(value_col) * 100).cast("long")
    num = F.lit(0)
    den = F.lit(0)
    for j in range(lags):
        weight = 1 << (lags - 1 - j)
        lx = F.lag(x_c, j).over(w) if j else x_c
        num = num + weight * F.coalesce(lx, F.lit(0))
        den = den + F.when(lx.isNotNull(), F.lit(weight)).otherwise(0)
    return df.withColumn(
        out_col, num.cast("double") / den / 100.0)


def interval_union_length(df: DataFrame, key: str, start_col: str,
                          end_col: str) -> DataFrame:
    """Per-key total covered time of a set of possibly-overlapping
    [start, end) intervals, with the island count — the gaps-and-islands
    sweep (uptime/SLA coverage, sensor on-time, session overlap).

    Classic rewrite of the sequential sweep-line: order a key's
    intervals by start; a row OPENS a new island iff its start exceeds
    the running max end of all earlier rows (an O(1)-state window);
    the island id is the running count of openers; coverage = Σ over
    islands of (max end − min start). Two windows sharing ONE (key,
    start) sort + one groupBy — a single shuffle on the key, exact
    integer-µs arithmetic throughout. Zero-length and fully-nested
    intervals fold into their island naturally.

    Output: (key, covered_us, n_islands) — covered seconds are the
    caller's division, kept integral here for cross-engine exactness.
    """
    s_us = F.unix_micros(F.col(start_col))
    e_us = F.unix_micros(F.col(end_col))
    w = Window.partitionBy(key).orderBy(s_us, e_us)
    prev_max = (F.max(e_us)
                .over(w.rowsBetween(Window.unboundedPreceding, -1)))
    opener = F.when(prev_max.isNull() | (s_us > prev_max), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = (df.withColumn("__island", F.sum(opener).over(run))
               .groupBy(key, "__island")
               .agg(F.min(s_us).alias("__lo"), F.max(e_us).alias("__hi")))
    return (islands.groupBy(key)
            .agg(F.sum(F.col("__hi") - F.col("__lo")).alias("covered_us"),
                 F.count(F.lit(1)).alias("n_islands")))


def rolling_anomaly_z(resampled: DataFrame, key: str,
                      order_col: str = "bucket",
                      value_col: str = "sum_value",
                      lookback: int = 24,
                      threshold: float = 3.0) -> DataFrame:
    """Rolling z-score anomaly flags over a resampled series: each
    bucket scored against the TRAILING ``lookback`` buckets' mean and
    sample std (the current bucket excluded, so an anomaly can't mask
    itself) — the monitoring primitive behind metric alerting.

    Engine-exact (the outlier_zscore rule applied to a moving frame):
    values quantize to integer cents; Σv and Σv² accumulate as
    DECIMAL(38,0) windowed sums over ROWS BETWEEN lookback PRECEDING
    AND 1 PRECEDING; mean/variance/z evaluate as ONE fixed double
    chain per row from those exact sums. NULL z for gap buckets, for
    fewer than 3 trailing observations, and for zero variance (an
    honest can't-score, never a fake 0). One shuffle on the key —
    the windows share the resample output's partitioning; state is
    O(lookback) longs per key.
    """
    v_c = F.round(F.col(value_col) * 100).cast("long")
    w = (Window.partitionBy(key).orderBy(order_col)
         .rowsBetween(-lookback, -1))
    s1 = F.sum(v_c.cast("decimal(38,0)")).over(w).cast("double")
    s2 = F.sum((v_c * v_c).cast("decimal(38,0)")).over(w).cast("double")
    n = F.count(v_c).over(w)
    mean = s1 / n
    var = (s2 - s1 * s1 / n) / (n - 1)
    z = F.when(v_c.isNotNull() & (n >= 3) & (var > 0),
               (v_c - mean) / F.sqrt(var))
    return (resampled
            .withColumn("zscore", z)
            .withColumn("is_anomaly",
                        F.when(z.isNotNull(),
                               F.abs(z) > threshold)))


def acf(resampled: DataFrame, key: str, order_col: str = "bucket",
        value_col: str = "sum_value", max_lag: int = 6) -> DataFrame:
    """Per-key autocorrelation function at lags 1..``max_lag``:
    Pearson correlation between the series and its lag-j shift over
    the buckets where BOTH are observed (gap buckets drop out of that
    lag's pair set only) — the seasonality/memory diagnostic that
    picks ``decompose_seasonal``'s period and validates
    ``rolling_anomaly_z``'s lookback.

    Engine-exact (the linear_fit rule): values quantize to integer
    cents; per (key, lag) the five sufficient statistics (n, Σx, Σy,
    Σxy, Σx², Σy²) accumulate as DECIMAL(38,0); the correlation is ONE
    fixed double chain (n·Σxy − Σx·Σy) / (√(n·Σx² − Σx²)·√(n·Σy² −
    Σy²)) — sqrt is correctly rounded, so rows hash identically
    cross-engine. Degenerate lags (n < 3 or zero variance) yield NULL.

    Scale: the ``max_lag`` lag() calls share ONE window spec (one
    sort within the resample output's key partitioning); pairs then
    explode ×max_lag and collapse in one hash agg — all over the
    RESAMPLED series, which is already tiny next to raw data.
    """
    w = Window.partitionBy(key).orderBy(order_col)
    x_c = F.round(F.col(value_col) * 100).cast("long")
    # lag columns materialize BEFORE the explode — a window function
    # can't sit inside a generator expression
    d = resampled.withColumn("__x", x_c)
    for j in range(1, max_lag + 1):
        d = d.withColumn(f"__y{j}", F.lag("__x", j).over(w))
    pairs = F.array(*[
        F.struct(F.lit(j).alias("lag"), F.col(f"__y{j}").alias("y"))
        for j in range(1, max_lag + 1)])
    d = (d.withColumn("__p", F.explode(pairs))
         .select(key, F.col("__x"),
                 F.col("__p.lag").alias("lag"),
                 F.col("__p.y").alias("__y"))
         .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull()))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    stats = (d.groupBy(key, "lag")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(dec(F.col("__x"))).alias("__sx"),
                  F.sum(dec(F.col("__y"))).alias("__sy"),
                  # cast operands BEFORE the product (r6 advice): a
                  # long×long x·y wraps at |x|,|y| ≥ ~3e9 cents while
                  # the decimal×decimal product cannot
                  F.sum(dec(F.col("__x")) * dec(F.col("__y")))
                  .alias("__sxy"),
                  F.sum(dec(F.col("__x")) * dec(F.col("__x")))
                  .alias("__sx2"),
                  F.sum(dec(F.col("__y")) * dec(F.col("__y")))
                  .alias("__sy2")))
    db = lambda c: F.col(c).cast("double")  # noqa: E731
    num = db("n") * db("__sxy") - db("__sx") * db("__sy")
    vx = db("n") * db("__sx2") - db("__sx") * db("__sx")
    vy = db("n") * db("__sy2") - db("__sy") * db("__sy")
    corr = F.when((F.col("n") >= 3) & (vx > 0) & (vy > 0),
                  num / (F.sqrt(vx) * F.sqrt(vy)))
    return stats.select(key, "lag", "n", corr.alias("acf"))


def cusum_changepoints(resampled: DataFrame, key: str,
                       order_col: str = "bucket",
                       value_col: str = "sum_value",
                       slack: float = 0.0,
                       threshold: float = 1.0) -> DataFrame:
    """One-sided (upward) CUSUM level-shift detection per key, exactly,
    via the drawdown identity: the sequential recursion
    S_t = max(0, S_{t-1} + d_t) equals C_t − min(0, min_{j≤t} C_j)
    where C_t = Σ_{i≤t} d_i — so the scan-order recurrence becomes two
    running windows (sum + min-of-sum), distributed-friendly with O(1)
    state per key.

    Deviations are demeaned per key WITHOUT leaving integers: with
    n = bucket count and S = Σ cents per key, d'_t = n·x_t − S −
    n·slack_cents is the per-key-mean-centered deviation scaled by n —
    all exact longs accumulated as DECIMAL(38,0) (HUGEINT in DuckDB),
    and the alarm test S'_t > n·h_cents is an exact integer
    comparison, so the flag can never sit on a float boundary. The
    reported ``cusum`` converts back to value units by ONE fixed
    double chain (S'/n/100).

    ``slack`` is the classic k allowance (per-bucket drift tolerance,
    value units); ``threshold`` is the alarm level h (value units).
    Gap buckets (NULL value) break nothing: they contribute d' = −S −
    n·slack_c... they are EXCLUDED up front (a gap is not evidence of
    a shift). One broadcast of the per-key (n, S) aggregate; the two
    windows share one (key, bucket) sort over the resampled series.
    """
    slack_c = round(slack * 100)
    h_c = round(threshold * 100)
    obs = resampled.filter(F.col(value_col).isNotNull())
    x_c = F.round(F.col(value_col) * 100).cast("long")
    per_key = (obs.groupBy(key)
               .agg(F.count(F.lit(1)).alias("__n"),
                    # accumulate Σx as decimal from the first add — a
                    # long Σ wraps first at corpus scale (r6 advice)
                    F.sum(x_c.cast("decimal(38,0)")).alias("__s")))
    n_dec = F.col("__n").cast("decimal(38,0)")
    d_scaled = (n_dec * x_c.cast("decimal(38,0)") - F.col("__s")
                - n_dec * F.lit(slack_c).cast("decimal(38,0)"))
    w = Window.partitionBy(key).orderBy(order_col)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = F.sum(d_scaled).over(run)
    d2 = (obs.join(F.broadcast(per_key), key)
          .withColumn("__c", c))
    low = F.least(F.lit(0).cast("decimal(38,0)"),
                  F.min("__c").over(run))
    s_scaled = F.col("__c") - low
    return (d2.withColumn("__ss", s_scaled)
            .select(key, order_col, F.col(value_col),
                    (F.col("__ss").cast("double")
                     / F.col("__n").cast("double") / 100.0).alias("cusum"),
                    (F.col("__ss")
                     > n_dec * F.lit(h_c).cast("decimal(38,0)"))
                    .alias("is_change")))


def decompose_seasonal(resampled: DataFrame, key: str,
                       value_col: str = "sum_value",
                       phase_col: str = "phase",
                       ma_window: int = 5) -> DataFrame:
    """Additive seasonal decomposition (STL-lite, seasonal-means
    flavor): value = trend + seasonal + residual, per key.

    - trend: centered moving average over ``ma_window`` buckets (odd),
      NULL at the edges where the full window doesn't exist (honest
      boundary, no padding);
    - seasonal: mean(value | phase) − mean(value) — the classic
      seasonal-means estimate, with the phase column supplied by the
      caller (hour-of-day for daily seasonality, day-of-week for
      weekly);
    - residual: value − trend − seasonal (NULL where trend is NULL).

    Exactness: every component is built from DECIMAL sums (exact,
    order-free) and finished by at most two double divisions and a
    fixed subtraction chain — no double ever accumulates, so each row
    hashes identically cross-engine (the exact-sums float policy).

    Scale: one per-key ordered window over the RESAMPLED series (tiny
    next to raw; the resample already paid the only data-sized
    shuffle), one (key, phase) aggregate and one key aggregate, both
    broadcast back.
    """
    if ma_window % 2 == 0:
        raise ValueError("ma_window must be odd (centered average)")
    half = ma_window // 2
    dec = F.col(value_col).cast("decimal(18,2)")
    w_ma = (Window.partitionBy(key).orderBy("bucket")
            .rowsBetween(-half, half))
    trend = F.when(
        F.count(dec).over(w_ma) == ma_window,
        F.sum(dec).over(w_ma).cast("double") / ma_window)
    d = resampled.withColumn("__trend", trend)
    phase_stats = (resampled.groupBy(key, phase_col)
                   .agg(F.sum(dec).alias("__ps"),
                        F.count(dec).alias("__pn")))
    totals = (resampled.groupBy(key)
              .agg(F.sum(dec).alias("__ts"),
                   F.count(dec).alias("__tn")))
    seasonal = (F.col("__ps").cast("double") / F.col("__pn")
                - F.col("__ts").cast("double") / F.col("__tn"))
    out = (d.join(F.broadcast(phase_stats), [key, phase_col])
           .join(F.broadcast(totals), key)
           .withColumn("seasonal", seasonal)
           .withColumn("trend", F.col("__trend"))
           .withColumn("residual",
                       F.col(value_col) - F.col("__trend")
                       - F.col("seasonal")))
    return out.select(key, "bucket", phase_col, value_col, "trend",
                      "seasonal", "residual")


def holt_linear(resampled: DataFrame, key: str, order_col: str,
                value_col: str, alpha: float = 0.5,
                beta: float = 0.25) -> DataFrame:
    """Per-key Holt double exponential smoothing (level + trend) with a
    one-step-ahead forecast — the trending complement of
    :func:`ewma_bounded` (which tracks level only and cannot follow a
    ramp without lag).

        l_t = α·v_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        init: l_1 = v_1, b_1 = 0

    The recursion is inherently sequential IN t but embarrassingly
    parallel ACROSS keys, so each key's (bounded, resampled) series
    folds in one F.aggregate over its collected, sorted values — the
    kaplan_meier shape: one shuffle on the key, per-key state is two
    doubles. Callers resample first (timeseries.resample), which bounds
    the per-key array by the series length by construction.

    Float policy: the fold is a FIXED chain of IEEE ops over the input
    doubles with binary-exact default coefficients (α = 0.5, β = 0.25),
    so the result is bit-identical across engines running the same
    chain (the round-6 timeseries_interpolate lesson: emit the raw
    double, don't re-round). Output: (key, n_obs, level, trend,
    forecast_1 = level + trend).
    """
    a, bb = F.lit(float(alpha)), F.lit(float(beta))
    series = (resampled
              .groupBy(key)
              .agg(F.array_sort(
                  F.collect_list(F.struct(F.col(order_col).alias("o"),
                                          F.col(value_col).alias("v"))))
                  .alias("__s")))
    vals = F.transform(F.col("__s"), lambda s: s["v"])
    init = F.struct(F.lit(0).alias("n"),
                    F.lit(0.0).alias("l"), F.lit(0.0).alias("b"))

    def step(acc, v):
        lp = a * v + (F.lit(1.0) - a) * (acc["l"] + acc["b"])
        return F.when(acc["n"] == 0,
                      F.struct(F.lit(1).alias("n"), v.alias("l"),
                               F.lit(0.0).alias("b"))) \
                .otherwise(F.struct(
                    (acc["n"] + 1).alias("n"),
                    lp.alias("l"),
                    (bb * (lp - acc["l"])
                     + (F.lit(1.0) - bb) * acc["b"]).alias("b")))

    fin = F.aggregate(vals, init, step)
    return (series.select(
        key,
        fin["n"].alias("n_obs"),
        fin["l"].alias("level"),
        fin["b"].alias("trend"),
        (fin["l"] + fin["b"]).alias("forecast_1")))


def holt_winters_seasonal(resampled: DataFrame, key: str, order_col: str,
                          value_col: str, period: int,
                          alpha: float = 0.5, beta: float = 0.25,
                          gamma: float = 0.5) -> DataFrame:
    """Per-key additive Holt-Winters (level + trend + seasonality) with
    a one-step-ahead forecast — the seasonal completion of
    :func:`holt_linear` (which follows a ramp but repeats none of the
    daily/weekly shape that dominates operational series).

        l_t = α·(v_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        s_t = γ·(v_t − l_t) + (1−γ)·s_{t−m}

    Deterministic init from the first period (m = ``period`` obs):
    l = mean(v_1..v_m), b = 0, s_i = v_i − l; the fold then consumes
    v_{m+1}.. — keys with fewer than ``period + 1`` observations are
    emitted with NULL state (no seasonal estimate is honest, a
    half-period fit is not). Same execution shape as holt_linear:
    sequential IN t, parallel ACROSS keys, one shuffle on the key;
    per-key state is two doubles plus an m-double seasonal array,
    bounded by the resample grid. The fold is a fixed IEEE chain with
    binary-exact default coefficients, pinned bit-identical against a
    pure-Python replay (tests) AND — since r10 — against a DuckDB
    recursive-CTE replay of the identical chain (the probe's oracle;
    the seasonal array rides the recursion as a list column).

    Output: (key, n_obs, level, trend, seasonal ``array<double>``
    rendered by callers, forecast_1 = level + trend + s_{t+1−m}).
    """
    m = int(period)
    if m < 2:
        raise ValueError("period must be >= 2")
    a, bb, g = (F.lit(float(alpha)), F.lit(float(beta)),
                F.lit(float(gamma)))
    series = (resampled
              .groupBy(key)
              .agg(F.array_sort(
                  F.collect_list(F.struct(F.col(order_col).alias("o"),
                                          F.col(value_col).alias("v"))))
                  .alias("__s")))
    vals = F.transform(F.col("__s"), lambda s: s["v"])
    first = F.slice(vals, 1, m)
    l0 = F.aggregate(first, F.lit(0.0), lambda acc, v: acc + v) / F.lit(
        float(m))
    s0 = F.transform(first, lambda v: v - l0)
    rest = F.slice(vals, m + 1, F.greatest(F.size(vals) - m, F.lit(0)))
    init = F.struct(F.lit(0).alias("i"), l0.alias("l"),
                    F.lit(0.0).alias("b"), s0.alias("s"))

    def step(acc, v):
        # seasonal slot for this t cycles 1..m as i mod m + 1
        p = (acc["i"] % m) + 1
        sm = F.element_at(acc["s"], p)
        lt = a * (v - sm) + (F.lit(1.0) - a) * (acc["l"] + acc["b"])
        bt = bb * (lt - acc["l"]) + (F.lit(1.0) - bb) * acc["b"]
        st = g * (v - lt) + (F.lit(1.0) - g) * sm
        upd = F.transform(
            acc["s"],
            lambda sv, idx: F.when(idx + 1 == p, st).otherwise(sv))
        return F.struct((acc["i"] + 1).alias("i"), lt.alias("l"),
                        bt.alias("b"), upd.alias("s"))

    fin = F.aggregate(rest, init, step)
    enough = F.size(vals) >= m + 1
    nxt = F.element_at(fin["s"], (fin["i"] % m) + 1)
    return (series.select(
        key,
        F.size(vals).alias("n_obs"),
        F.when(enough, fin["l"]).alias("level"),
        F.when(enough, fin["b"]).alias("trend"),
        F.when(enough, fin["s"]).alias("seasonal"),
        F.when(enough, fin["l"] + fin["b"] + nxt).alias("forecast_1")))


def interarrival_stats(df: DataFrame, key: str, ts_col: str,
                       tie_col: str) -> DataFrame:
    """Per-key inter-arrival gap statistics + the Goh–Barabási
    burstiness index B = (σ−µ)/(σ+µ) ∈ [−1, 1] — the bot/spam signal
    every event pipeline profiles (humans are bursty, B → 1; timers
    are regular, B → −1; a Poisson process sits at 0).

    Gaps are exact integer microseconds from one lag window ordered by
    (ts, tie); µ and σ come from cleared-denominator exact sums
    (Σg, Σg² as DECIMAL(38,0)) with the float entering only in the
    final fixed chain — population variance n·Σg² − (Σg)² over n², a
    correctly-rounded sqrt, and one division for B. Keys with a single
    event (no gap) are emitted with NULL stats. One shuffle on the
    key; the lag window sorts per key.
    """
    w = Window.partitionBy(key).orderBy(ts_col, tie_col)
    us = F.unix_micros(F.col(ts_col))
    gaps = (df.withColumn("__gap", us - F.lag(us).over(w))
            .filter(F.col("__gap").isNotNull()))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = gaps.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(dec(F.col("__gap"))).alias("__sg"),
        F.sum(dec(F.col("__gap")) * dec(F.col("__gap"))).alias("__sg2"),
        F.min("__gap").alias("min_gap_us"),
        F.max("__gap").alias("max_gap_us"))
    n = F.col("n_gaps").cast("double")
    sg = F.col("__sg").cast("double")
    sg2 = F.col("__sg2").cast("double")
    mean = sg / n
    var = (n * sg2 - sg * sg) / (n * n)
    sigma = F.sqrt(var)
    return g.select(
        key, "n_gaps", "min_gap_us", "max_gap_us",
        mean.alias("mean_gap_us"),
        sigma.alias("sigma_gap_us"),
        F.when(sigma + mean > 0.0,
               (sigma - mean) / (sigma + mean)).alias("burstiness"))


def ohlc_bars(df: DataFrame, bucket: "Column", price: "Column",
              volume: "Column", order_key: "Column") -> DataFrame:
    """OHLC + VWAP bars: per time bucket, the first (open) and last
    (close) price in event order, the high/low extremes, and the
    volume-weighted average price — the candlestick downsampling every
    market-data / metering pipeline runs, expressed as ONE hash
    aggregate (no per-bucket sort window: open/close use
    min_by/max_by over a caller-supplied TOTAL order key, so the
    whole bar is a map-side-combinable aggregate — the shape that
    survives 100 TB, unlike a row_number window per bucket).

    Contract: ``order_key`` must be a total order within each bucket
    (pack timestamp + arrival tiebreaks into one long); min_by/max_by
    determinism rides on that (both engines: arg_min/arg_max).
    Exactness: open/high/low/close are STORED point values (no
    accumulation — hash-safe raw doubles); VWAP quantizes price to
    integer cents and volume to an integer grid, accumulates
    Σ(cents·vol) and Σvol in DECIMAL(38,0) (operands cast before
    multiplying), and divides once into a double.
    """
    dec = "decimal(38,0)"
    cents = F.round(price * 100).cast("long")
    vol = F.round(volume).cast("long")
    return (df.select(bucket.alias("bucket"), price.alias("__p"),
                      cents.alias("__c"), vol.alias("__v"),
                      order_key.alias("__k"))
            .groupBy("bucket")
            .agg(F.min_by("__p", "__k").alias("open"),
                 F.max("__p").alias("high"),
                 F.min("__p").alias("low"),
                 F.max_by("__p", "__k").alias("close"),
                 F.count(F.lit(1)).alias("n_trades"),
                 F.sum(F.col("__v").cast(dec)).cast(dec).alias("__sv"),
                 F.sum(F.col("__c").cast(dec) * F.col("__v").cast(dec))
                 .cast(dec).alias("__spv"))
            .select("bucket", "open", "high", "low", "close",
                    "n_trades",
                    F.col("__sv").cast("long").alias("volume"),
                    F.round(F.col("__spv").cast("double")
                            / F.col("__sv").cast("double") / 100.0, 6)
                    .alias("vwap")))


def interval_concurrency(df: DataFrame, start: "Column", end: "Column",
                         lo_us: int, hi_us: int,
                         nbins: int = 256) -> DataFrame:
    """Sweep-line concurrency: for every boundary instant, how many
    intervals [s, e) are open right after it — the stabbing-count dual
    of :func:`interval_union_length` (coverage asks "how much time is
    covered"; concurrency asks "how many at once", the capacity-
    planning / max-sessions / peak-connections question).

    Half-open semantics: an interval ending at t releases BEFORE one
    starting at t claims — expressed by aggregating the +1/−1 deltas
    per distinct instant first (one hash agg), so ties net out and no
    per-row ordering inside an instant exists to disagree about.

    The running sum over all instants is a GLOBAL cumulative — the
    classic single-task trap — so it uses drift_ks's bucketed
    decomposition: instants range-bucket onto a fixed epoch-µs grid,
    per-bucket cumulative windows parallelize, and only the nbins-row
    bucket-totals table crosses a single-task window. All integer
    arithmetic; exact at any scale. Both boundaries of an interval
    emit from ONE pass over the source (a 2-element array explode —
    the drift_ks_split single-scan rule: unioning two projections of
    the same frame scans it twice).
    """
    width = max((hi_us - lo_us) // nbins, 1)
    s_us = F.unix_micros(start.cast("timestamp"))
    e_us = F.unix_micros(end.cast("timestamp"))
    deltas = F.explode(F.array(
        F.struct(s_us.alias("us"), F.lit(1).alias("__d")),
        F.struct(e_us.alias("us"), F.lit(-1).alias("__d"))))
    raw = F.floor((F.col("us") - F.lit(lo_us)) / F.lit(width))
    bucket = (F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))
              .cast("long"))
    pts = (df.select(deltas.alias("b")).select("b.us", "b.__d")
           .select("us", "__d", bucket.alias("__bucket"))
           .groupBy("__bucket", "us")
           .agg(F.sum("__d").alias("__net")))
    totals = pts.groupBy("__bucket").agg(F.sum("__net").alias("__bn"))
    wb = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1)  # nbins rows: bounded by design
    base = totals.select(
        "__bucket",
        F.coalesce(F.sum("__bn").over(wb), F.lit(0)).alias("__base"))
    wv = (Window.partitionBy("__bucket").orderBy("us")
          .rowsBetween(Window.unboundedPreceding, 0))
    return (pts.join(F.broadcast(base), "__bucket")
            .select(F.col("us"),
                    (F.col("__base") + F.sum("__net").over(wv))
                    .cast("long").alias("concurrency")))


def sax_encode(df: DataFrame, series_col: str, day: Column,
               value_cents: Column, word_days: int = 7,
               breakpoints_cents: tuple[int, ...] = (2500, 5000, 10000),
               ) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) words per series — the
    standard symbolic downsampling for time-series indexing/motif
    mining (Lin et al. 2003): piecewise-aggregate means per day, each
    mean mapped to a letter by fixed breakpoints, letters concatenated
    in day order into one word per ``word_days`` window.

    Determinism: the caller supplies values PRE-QUANTIZED to integer
    cents (floor(v·100) — floor, not round: no rounding-mode boundary
    can differ cross-engine), daily sums accumulate as BIGINT, each
    PAA mean is ONE double division, and the breakpoint CASE compares
    that one-chain double against integer literals. The word assembles
    with an explicit in-window day ordering (array_sort over (day,
    letter) structs — collect_list order is partitioning-dependent, so
    it is never concatenated raw).

    Plan: one hash aggregate on (series, day) — map-side combinable —
    then one on (series, word_window); no window function at all.
    """
    daily = (df.select(F.col(series_col).alias("series"),
                       day.cast("long").alias("__day"),
                       value_cents.cast("long").alias("__c"))
             .groupBy("series", "__day")
             .agg(F.count(F.lit(1)).alias("__n"), F.sum("__c").alias("__s")))
    mean = F.col("__s").cast("double") / F.col("__n").cast("double")
    letters = "abcdefghijklmnop"
    sym = F.when(mean < F.lit(breakpoints_cents[0]), F.lit(letters[0]))
    for i, b in enumerate(breakpoints_cents[1:], start=1):
        sym = sym.when(mean < F.lit(b), F.lit(letters[i]))
    sym = sym.otherwise(F.lit(letters[len(breakpoints_cents)]))
    paa = daily.select(
        "series", "__day",
        F.floor(F.col("__day") / F.lit(word_days)).alias("word_window"),
        sym.alias("__sym"))
    return (paa.groupBy("series", "word_window")
            .agg(F.count(F.lit(1)).cast("long").alias("n_days"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct(F.col("__day"), F.col("__sym")))),
                         lambda s: s["__sym"]), "").alias("word"))
            .orderBy("series", "word_window"))


def bollinger_bands(df: DataFrame, series_col: str, day: Column,
                    value_cents: Column, window_days: int = 7,
                    k_sigma: int = 2) -> DataFrame:
    """Rolling mean ± k·σ envelope over per-series daily means — the
    volatility band every monitoring dashboard draws, as one
    partitioned ROWS window over the daily rollup (never raw rows).

    Engine-exact: daily sums accumulate as BIGINT cents; the rolling
    window carries Σc and Σc² in DECIMAL(38,0) (operands cast before
    multiplying), so mid = Σc/n and σ = √(n·Σc² − (Σc)²)/n are each
    ONE double chain per row (√ is IEEE-correctly-rounded). Population
    σ by convention. One shuffle on (series, day) for the rollup; the
    per-series window reuses it.
    """
    dec = "decimal(38,0)"
    daily = (df.select(F.col(series_col).alias("series"),
                       day.cast("long").alias("day"),
                       value_cents.cast("long").alias("__c"))
             .groupBy("series", "day")
             .agg(F.count(F.lit(1)).alias("__dn"),
                  F.sum("__c").alias("__ds")))
    mean_day = F.col("__ds").cast("double") / F.col("__dn").cast("double")
    cents = F.round(mean_day).cast("long")
    d = daily.select("series", "day", cents.alias("__v"))
    w = (Window.partitionBy("series").orderBy("day")
         .rowsBetween(-(window_days - 1), 0))
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum(F.col("__v").cast(dec)).over(w).cast(dec)
    s2 = F.sum(F.col("__v").cast(dec) * F.col("__v").cast(dec)) \
          .over(w).cast(dec)
    nd = n.cast("double")
    mid = s1.cast("double") / nd
    sigma = F.sqrt((n.cast(dec) * s2 - s1 * s1).cast("double")) / nd
    return (d.select(
        "series", "day", n.cast("long").alias("n_days"),
        F.round(mid / 100.0, 6).alias("mid"),
        F.round((mid + k_sigma * sigma) / 100.0, 6).alias("upper"),
        F.round((mid - k_sigma * sigma) / 100.0, 6).alias("lower"))
        .orderBy("series", "day"))


def cross_correlation(a: DataFrame, b: DataFrame, day_col: str,
                      value_col: str, max_lag: int = 5) -> DataFrame:
    """Lagged Pearson cross-correlation between two integer-valued
    daily series — the lead/lag detector ("do clicks predict purchases
    k days later?"). r(ℓ) correlates a(day) with b(day + ℓ) over the
    days where both exist.

    One map-side lag explode on the (tiny) A series + ONE equi-join on
    the shifted day key + one hash aggregate per lag — never a
    per-lag job loop. Values are exact integers (counts/cents), so all
    five moments accumulate in DECIMAL(38,0) and each r(ℓ) is ONE
    double chain (√ correctly rounded).
    """
    dec = "decimal(38,0)"
    lags = F.sequence(F.lit(-max_lag), F.lit(max_lag))
    ae = (a.select(F.col(day_col).alias("__d"),
                   F.col(value_col).cast("long").alias("__va"))
          .select("__va", F.explode(lags).alias("lag"),
                  (F.col("__d") + F.col("lag")).alias("__dj")))
    be = b.select(F.col(day_col).alias("__dj"),
                  F.col(value_col).cast("long").alias("__vb"))
    j = ae.join(be, "__dj")
    va, vb = F.col("__va").cast(dec), F.col("__vb").cast(dec)
    g = (j.groupBy("lag")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(va).cast(dec).alias("__sa"),
              F.sum(vb).cast(dec).alias("__sb"),
              F.sum(va * va).cast(dec).alias("__saa"),
              F.sum(vb * vb).cast(dec).alias("__sbb"),
              F.sum(va * vb).cast(dec).alias("__sab")))
    n = F.col("n").cast(dec)
    num = (n * F.col("__sab") - F.col("__sa") * F.col("__sb")) \
        .cast("double")
    da = (n * F.col("__saa") - F.col("__sa") * F.col("__sa")) \
        .cast("double")
    db = (n * F.col("__sbb") - F.col("__sb") * F.col("__sb")) \
        .cast("double")
    return (g.select(F.col("lag").cast("int").alias("lag"),
                     F.col("n").cast("long").alias("n_days"),
                     F.round(num / F.sqrt(da * db), 6).alias("r"))
            .orderBy("lag"))


def rolling_median(resampled: DataFrame, key: str, order_col: str,
                   value_cents: Column, window_n: int = 7,
                   out_col: str = "med_cents2") -> DataFrame:
    """Trailing ``window_n``-row rolling MEDIAN per series — the
    robust twin of the rolling mean behind rolling_anomaly_z (one
    spike corrupts a trailing mean for the whole window; the median
    shrugs it off, which is why robust monitoring baselines are
    median-filtered first).

    Exactness: values are integer cents and the median is carried
    DOUBLED (sum of the two middle order statistics of the sorted
    window, = 2·middle for odd counts) — ``med_cents2`` is an exact
    BIGINT, the brown_forsythe doubling trick applied to a sliding
    frame. No double arithmetic anywhere.

    Plan: ONE window sort per series (collect_list over a ROWS frame,
    array_sort, middle picks — per-row state bounded by ``window_n``,
    never series-sized). Ramp-up rows (fewer than ``window_n``
    trailing rows) compute the median of what exists, pandas
    ``rolling(min_periods=1)`` semantics.
    """
    w = (Window.partitionBy(key).orderBy(order_col)
         .rowsBetween(-(window_n - 1), Window.currentRow))
    arr = F.array_sort(F.collect_list(value_cents.cast("long")).over(w))
    m = F.size(arr)
    lo = F.element_at(arr, ((m + 1) / 2).cast("int"))
    hi = F.element_at(arr, (m / 2 + 1).cast("int"))
    return resampled.withColumn(out_col, (lo + hi).cast("long"))


def gaps_and_islands(df: DataFrame, key: str, start_us: Column,
                     end_us: Column) -> DataFrame:
    """Merge overlapping/touching intervals per key into maximal
    "islands" — the classic gaps-and-islands rollup
    (:func:`interval_union_length` reports only the covered TOTAL;
    this emits the merged intervals themselves, which is what
    downtime reports, session stitching and availability SLAs need).

    All arithmetic is exact integer microseconds. One window sort per
    key: an interval starts a new island iff its start exceeds the
    running max end of every EARLIER interval (ties/touching merge);
    the island id is the running sum of those flags — two expressions
    over ONE (key)-partitioned ordered window, then one hash
    aggregate to (key, island). Output: (key, island_start_us,
    island_end_us, n_intervals), one row per island.
    """
    rows = df.select(F.col(key).alias("__k"),
                     start_us.cast("long").alias("__s"),
                     end_us.cast("long").alias("__e"))
    w_prev = (Window.partitionBy("__k").orderBy("__s", "__e")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("__k").orderBy("__s", "__e")
             .rowsBetween(Window.unboundedPreceding, 0))
    new_island = (F.col("__s")
                  > F.coalesce(F.max("__e").over(w_prev),
                               F.lit(-(1 << 62)))).cast("long")
    flagged = rows.withColumn("__isl", F.sum(new_island).over(w_run))
    return (flagged.groupBy("__k", "__isl")
            .agg(F.min("__s").alias("island_start_us"),
                 F.max("__e").alias("island_end_us"),
                 F.count(F.lit(1)).alias("n_intervals"))
            .select(F.col("__k").alias(key),
                    "island_start_us", "island_end_us",
                    F.col("n_intervals").cast("long").alias("n_intervals"))
            .orderBy(key, "island_start_us"))


def mann_kendall(series: DataFrame, key: str, t_col: str,
                 v_col: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test with Sen's slope per series —
    the TIME-INDEXED member of the Kendall family
    (profile.kendall_tau_b correlates two variables; here x is the
    time index itself, so S reduces to pair orientation against time
    and the companion Theil-Sen estimator gives the robust slope).

    Input grain: one row per (key, t) — a rolled-up series (daily /
    weekly buckets), so the pair fan-out is bounded by the CALENDAR
    grain squared, never by raw rows. Exact pieces per series:

        S        = Σ_{t<t'} sign(v'−v)                (exact BIGINT)
        var_num  = n(n−1)(2n+5) − Σ_v t_v(t_v−1)(2t_v+5)   (exact)
        z        = (S − sign(S)) / √(var_num/18)   — ONE double chain
        Sen      = median over pairs of (v'−v)/(t'−t); emitted as the
                   EXACT integer pair (sen_num, sen_den) of the
                   lower-median pair under (slope, t, t') ordering,
                   plus the rounded double.

    Plan: one within-key pair self-join under t<t' (bounded ×
    bounded), one hash aggregate for S, one bounded per-key window
    for the median selection (≤ grain²/2 rows per key by contract),
    one tie rollup.
    """
    dec = "decimal(38,0)"
    rows = series.select(F.col(key).alias("__k"),
                         F.col(t_col).cast("long").alias("__t"),
                         F.col(v_col).cast("long").alias("__v"))
    lhs = rows.select("__k", F.col("__t").alias("__t1"),
                      F.col("__v").alias("__v1"))
    rhs = rows.select("__k", F.col("__t").alias("__t2"),
                      F.col("__v").alias("__v2"))
    pairs = (lhs.join(rhs, "__k")
             .filter(F.col("__t1") < F.col("__t2")))
    s = (pairs.groupBy("__k")
         .agg(F.sum(F.signum(F.col("__v2") - F.col("__v1"))
                    .cast("long")).alias("s_stat"),
              F.count(F.lit(1)).alias("__m")))
    slope = ((F.col("__v2") - F.col("__v1")).cast("double")
             / (F.col("__t2") - F.col("__t1")).cast("double"))
    wm = Window.partitionBy("__k").orderBy(  # ≤ grain²/2 rows per key
        "__slope", "__t1", "__t2")
    ranked = (pairs.withColumn("__slope", slope)
              .withColumn("__rn", F.row_number().over(wm)))
    med = (ranked.join(s.select("__k", "__m"), "__k")
           .filter(F.col("__rn") == F.floor((F.col("__m") + 1) / 2))
           .select("__k",
                   (F.col("__v2") - F.col("__v1")).alias("sen_num"),
                   (F.col("__t2") - F.col("__t1")).alias("sen_den"),
                   F.round(F.col("__slope"), 6).alias("sen_slope")))
    n_t = rows.groupBy("__k").agg(F.count(F.lit(1)).alias("n"))
    ties = (rows.groupBy("__k", "__v").agg(F.count(F.lit(1)).alias("__c"))
            .groupBy("__k")
            .agg(F.sum(F.col("__c").cast(dec) * (F.col("__c") - 1).cast(dec)
                       * (F.lit(2).cast(dec) * F.col("__c") + 5).cast(dec))
                 .cast(dec).alias("__tie_term")))
    nn = F.col("n").cast(dec)
    var_num = (nn * (nn - 1).cast(dec)
               * (F.lit(2).cast(dec) * nn + 5).cast(dec)
               - F.col("__tie_term")).cast(dec)
    z = ((F.col("s_stat") - F.signum(F.col("s_stat"))).cast("double")
         / F.sqrt(var_num.cast("double") / F.lit(18.0)))
    return (n_t.join(s, "__k").join(ties, "__k").join(med, "__k")
            .select(F.col("__k").alias(key),
                    F.col("n").cast("long").alias("n"),
                    F.col("s_stat").cast("long").alias("s_stat"),
                    var_num.cast("long").alias("var_num"),
                    F.round(z, 6).alias("z_stat"),
                    F.col("sen_num").cast("long").alias("sen_num"),
                    F.col("sen_den").cast("long").alias("sen_den"),
                    "sen_slope")
            .orderBy(key))


def max_drawdown(df: DataFrame, group_col: str, order_cols: list[str],
                 step) -> DataFrame:
    """Per-series maximum drawdown of the cumulative walk of an exact
    integer ``step`` column: v_t = Σ_{s≤t} step_s, drawdown_t =
    max_{s≤t} v_s − v_t, and the series' max drawdown is its running
    maximum — the canonical peak-to-trough risk statistic (and the
    shape every "largest regression from a running best" monitoring
    query reduces to). Entirely integer arithmetic: walk, running
    max, differences and maxima are all exact longs, so the output
    value-hashes with no float taming at all.

    Emitted per series: (series, n, final_value, peak, max_drawdown)
    — peak = max_t v_t, max_drawdown = max_t (runmax_t − v_t) ≥ 0.

    Plan: ONE shuffle on the series key feeding two frame-compatible
    running windows (cumulative sum and cumulative max share the same
    partition/order/frame spec, so they evaluate in a single Window
    node) + one hash aggregate. Series count is the parallelism
    grain — callers pick a key with enough cardinality to spread
    (the sessionization contract); no global window exists.
    """
    w = (Window.partitionBy("__g").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, 0))
    rows = (df.select(F.col(group_col).alias("__g"),
                      *[F.col(c) for c in order_cols],
                      step.cast("long").alias("__s"))
            .withColumn("__v", F.sum("__s").over(w))
            .withColumn("__dd", F.max("__v").over(w) - F.col("__v")))
    return (rows.groupBy(F.col("__g").alias("series"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("__s").cast("long").alias("final_value"),
                 F.max("__v").cast("long").alias("peak"),
                 F.max("__dd").cast("long").alias("max_drawdown"))
            .orderBy("series"))


def durbin_watson(df: DataFrame, group_col: str, t_col: str,
                  y_col: str) -> DataFrame:
    """Per-group Durbin–Watson statistic of the OLS-detrended series
    (Durbin & Watson '50): fit y on t by least squares within each
    group, then DW = Σ_t (e_t − e_{t−1})² / Σ_t e_t² over the
    t-ordered residuals — ≈2 means no lag-1 autocorrelation, →0
    positive, →4 negative. The residual-autocorrelation check that
    should follow any trend fit (the holt_linear / ols_two_factor
    family's missing diagnostic).

    Exactness: residuals are scaled by the positive integer n·D
    (D = n·Σt² − (Σt)², the OLS denominator), which cancels in the
    DW ratio:

        ẽ_t = D·(n·y_t − Σy) − B·(n·t − Σt),   B = n·Σty − Σt·Σy

    — ẽ_t is an exact DECIMAL(38,0) integer, so both quadratic sums
    are order-insensitive exact integers and DW is ONE double chain.
    Callers must keep the per-group series SHORT and the y magnitude
    moderate (calendar-bounded designs: ≤31 daily points per month;
    ẽ² reaches (D·n·y)² ≈ 10²⁶ there) — the friedman/bounded-block
    contract, enforced by magnitude headroom rather than a runtime
    scan. Groups with D = 0 (constant t, n < 2) or zero residual
    variance emit NULL.

    Plan: one hash aggregate for the five moments, one broadcast join
    back, one per-group lag window over the ≤|t-domain| rows, one
    closing hash aggregate. Group count is the parallelism grain.
    """
    dec = "decimal(38,0)"
    rows = df.select(F.col(group_col).alias("__g"),
                     F.col(t_col).cast("long").alias("__t"),
                     F.col(y_col).cast("long").alias("__y"))
    t, y = F.col("__t").cast(dec), F.col("__y").cast(dec)
    m = (rows.groupBy("__g")
         .agg(F.count(F.lit(1)).cast(dec).alias("__n"),
              F.sum(t).cast(dec).alias("__st"),
              F.sum(t * t).cast(dec).alias("__st2"),
              F.sum(y).cast(dec).alias("__sy"),
              F.sum(t * y).cast(dec).alias("__sty")))
    m = m.withColumn(
        "__D", (F.col("__n") * F.col("__st2")
                - F.col("__st") * F.col("__st")).cast(dec)).withColumn(
        "__B", (F.col("__n") * F.col("__sty")
                - F.col("__st") * F.col("__sy")).cast(dec))
    j = rows.join(F.broadcast(m), "__g")
    e = (F.col("__D") * (F.col("__n") * y - F.col("__sy"))
         - F.col("__B") * (F.col("__n") * t - F.col("__st"))).cast(dec)
    wlag = Window.partitionBy("__g").orderBy("__t")
    r = (j.withColumn("__e", e)
         .withColumn("__de", F.col("__e") - F.lag("__e", 1).over(wlag)))
    agg = (r.groupBy("__g")
           .agg(F.max("__n").alias("__nn"),
                F.max("__D").alias("__DD"),
                F.sum((F.col("__de") * F.col("__de")).cast(dec))
                .cast(dec).alias("__snum"),
                F.sum((F.col("__e") * F.col("__e")).cast(dec))
                .cast(dec).alias("__sden")))
    dw = F.when((F.col("__DD") > 0) & (F.col("__sden") > 0),
                F.col("__snum").cast("double")
                / F.col("__sden").cast("double"))
    return (agg.select(F.col("__g").alias("series"),
                       F.col("__nn").cast("long").alias("n"),
                       dw.alias("dw_stat"))
            .orderBy("series"))


def theil_sen_slope(df: DataFrame, group_col: str, t_col: str,
                    y_col: str) -> DataFrame:
    """Theil–Sen robust trend slope per series: the MEDIAN of all
    pairwise slopes (y_j − y_i)/(t_j − t_i), t_i < t_j — the
    median-based complement of Mann–Kendall's S (same bounded-series
    contract: a calendar-bounded series of n ≤ ~31 points yields
    ≤ n(n−1)/2 ≈ 465 pairs per series, so the self-join is a bounded
    per-key cell product, never data×data).

    Each slope is ONE double division over exact integer differences
    (a fixed IEEE chain — bit-identical across engines); the median
    is order-statistic, not accumulation: row_number over slope
    within the series, averaging the two middle VALUES for even pair
    counts ((m+1) DIV 2 and (m+2) DIV 2 — floor division on
    nonnegative m, the Sen-median rule from mann_kendall). Ties in
    slope leave the middle values equal, so cross-engine tie order
    cannot change the result. Output:
    (group, n_points, n_pairs, sen_slope), raw double (fixed chain —
    the round-6 rule says don't round what's already bit-stable).
    """
    a = df.select(F.col(group_col).alias("g"),
                  F.col(t_col).cast("long").alias("t1"),
                  F.col(y_col).cast("long").alias("y1"))
    b = df.select(F.col(group_col).alias("g"),
                  F.col(t_col).cast("long").alias("t2"),
                  F.col(y_col).cast("long").alias("y2"))
    slopes = (a.join(b, "g")
              .filter(F.col("t1") < F.col("t2"))
              .select("g", ((F.col("y2") - F.col("y1")).cast("double")
                            / (F.col("t2") - F.col("t1")).cast("double"))
                      .alias("slope")))
    w = Window.partitionBy("g").orderBy("slope")
    ranked = (slopes.withColumn("rn", F.row_number().over(w))
              .withColumn("m", F.count(F.lit(1)).over(
                  Window.partitionBy("g"))))
    med = (ranked.filter(
        (F.col("rn") == F.expr("(m + 1) DIV 2"))
        | (F.col("rn") == F.expr("(m + 2) DIV 2")))
        .groupBy("g")
        .agg(F.avg("slope").alias("sen_slope"),
             F.max("m").cast("long").alias("n_pairs")))
    pts = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).alias("n_points"))
    return (pts.join(med, "g")
            .select(F.col("g").alias(group_col),
                    F.col("n_points").cast("long").alias("n_points"),
                    "n_pairs", "sen_slope")
            .orderBy(group_col))
