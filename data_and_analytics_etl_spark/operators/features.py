"""Feature repair + scaling: the last mile before training.

Two operators a feature pipeline runs on every numeric column, both
engine-exact under the repo's float policy:

- ``impute_group_median``: NULLs filled with the group's LOWER median
  (an order statistic — an actual observed value, deterministic, no
  interpolation to disagree about cross-engine). Median-imputation is
  the robust default where mean-imputation drags toward outliers.
- ``scale_minmax``: per-group [0, 1] rescale. Every scaled value is a
  fixed chain of IEEE ops over the raw doubles ((v−min)/(max−min)) —
  bit-stable cross-engine, no accumulation anywhere. Constant groups
  (max = min) yield NULL, the honest 0/0.

Scale shape (both): one hash agg / one ranked window over the group to
get the per-group statistic (tiny result), broadcast back onto the
scan; the fill/scale expression runs in codegen. Raw data crosses ONE
shuffle at most.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def group_lower_median(df: DataFrame, value_col: str,
                       group_col: str) -> DataFrame:
    """Per-group lower median as an order statistic: the value at rank
    ceil(n/2) among non-null values. Ties in the value don't matter —
    any tie order selects the same value. One ranked window per group.
    """
    nn = df.filter(F.col(value_col).isNotNull())
    w = Window.partitionBy(group_col).orderBy(F.col(value_col))
    ranked = nn.select(group_col, value_col,
                       F.row_number().over(w).alias("__rn"))
    counts = (nn.groupBy(group_col)
              .agg(F.count(F.lit(1)).alias("__cnt")))
    return (ranked.join(counts, group_col)
            # lower-median rank: ceil(n/2) = (n + 1) div 2, in integer
            # arithmetic so no float boundary exists
            .filter(F.col("__rn") == F.expr("(__cnt + 1) div 2"))
            .select(group_col, F.col(value_col).alias("median")))


def impute_group_median(df: DataFrame, value_col: str, group_col: str,
                        out_col: str | None = None) -> DataFrame:
    """Fill NULLs in ``value_col`` with the group's lower median.

    Groups with no non-null value stay NULL (nothing to impute from) —
    surfaced, never silently zero-filled."""
    med = group_lower_median(df, value_col, group_col)
    out = out_col or f"{value_col}_imputed"
    return (df.join(F.broadcast(med), group_col, "left")
            .withColumn(out, F.coalesce(F.col(value_col),
                                        F.col("median")))
            .drop("median"))


def scale_minmax(df: DataFrame, value_col: str, group_col: str,
                 out_col: str | None = None) -> DataFrame:
    """Per-group min-max rescale to [0, 1]: (v − min)/(max − min), a
    fixed IEEE chain over raw doubles — bit-stable cross-engine.
    Constant groups yield NULL."""
    stats = (df.groupBy(group_col)
             .agg(F.min(value_col).alias("__mn"),
                  F.max(value_col).alias("__mx")))
    out = out_col or f"{value_col}_scaled"
    scaled = F.when(
        F.col("__mx") != F.col("__mn"),
        (F.col(value_col) - F.col("__mn"))
        / (F.col("__mx") - F.col("__mn")))
    return (df.join(F.broadcast(stats), group_col, "left")
            .withColumn(out, scaled)
            .drop("__mn", "__mx"))


def target_encode_loo(df: DataFrame, cat_col: str, target_col: str,
                      out_col: str | None = None) -> DataFrame:
    """Leave-one-out target-mean encoding: each row's category encodes
    as the mean of the OTHER rows' targets in its category,
    enc_i = (Σ_g t − t_i) / (n_g − 1) — the standard leakage guard for
    high-cardinality categoricals (plain target means memorize the
    row's own label; LOO subtracts it).

    Exact: targets quantize to integer cents, the numerator Σ_g − t_i
    is an exact long, and the encoding is ONE double division
    ((S − t)/((n−1)·100)) — bit-stable cross-engine. Singleton
    categories yield NULL (no other rows to encode from), the honest
    convention. One hash agg broadcast back onto the scan; the
    encoding expression runs in codegen.
    """
    t_c = F.round(F.col(target_col) * 100).cast("long")
    stats = (df.groupBy(cat_col)
             .agg(F.sum(t_c).alias("__s"),
                  F.count(F.lit(1)).alias("__n")))
    out = out_col or f"{cat_col}_loo"
    enc = F.when(F.col("__n") > 1,
                 (F.col("__s") - t_c).cast("double")
                 / ((F.col("__n") - 1) * 100).cast("double"))
    return (df.join(F.broadcast(stats), cat_col)
            .withColumn(out, enc)
            .drop("__s", "__n"))


def quantile_rank(df: DataFrame, value_col: str, group_col: str,
                  out_col: str | None = None) -> DataFrame:
    """Per-group quantile (rank) transform: value → ECDF position
    (rank − 1)/(n − 1) ∈ [0, 1], average rank on ties so equal inputs
    map to equal outputs regardless of partition order.

    The robust alternative to min-max scaling (outliers compress the
    whole min-max range; ranks are immune). Exact: ranks are integers
    from one window (average tie rank = (2·below + ties + 1)/2, the
    binary_auc arithmetic), n from one broadcast count per group, and
    the output is ONE double division — engine-portable. Singleton
    groups map to NULL (no spread), the min-max constant-group
    convention.
    """
    nn = df.filter(F.col(value_col).isNotNull())
    # per-DISTINCT-value aggregation first, then a ROWS window over the
    # distinct-value table (the binary_auc shape). NEVER a RANGE window
    # with a numeric offset: on a double order key `rangeBetween(-1)`
    # means "values ≤ v − 1.0" — a VALUE offset, not "strictly below" —
    # silently mis-ranking any values within 1.0 of each other.
    per_v = (nn.groupBy(group_col, value_col)
             .agg(F.count(F.lit(1)).alias("__c")))
    w = (Window.partitionBy(group_col).orderBy(F.col(value_col))
         .rowsBetween(Window.unboundedPreceding, -1))
    below = F.coalesce(F.sum("__c").over(w), F.lit(0))
    counts = nn.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    out = out_col or f"{value_col}_qrank"
    r2 = 2 * below + F.col("__c") + 1  # doubled tie-averaged rank
    ranked = (per_v.withColumn("__r2", r2)
              .join(F.broadcast(counts), group_col)
              .withColumn(out, F.when(
                  F.col("__n") > 1,
                  (F.col("__r2") - 2).cast("double")
                  / (2 * (F.col("__n") - 1))))
              .select(group_col, value_col, out))
    return nn.join(ranked, [group_col, value_col])


def hash_features(df: DataFrame, id_col: str, text_col: str,
                  n_buckets: int = 64) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009): bag-of-
    words into a FIXED ``n_buckets``-dim sparse vector with no
    vocabulary pass — bucket = hash(token) mod n_buckets, weight =
    Σ ±sign(token) over occurrences (the signed variant: collisions
    cancel in expectation instead of biasing upward).

    The hash family is the repo's portable ascii-arithmetic md5
    (layout.py's bloom rule): bucket from the first two hex digits mod
    n_buckets, sign from the parity of the third — every SQL engine
    computes the identical feature matrix, so the CONTENT oracle-
    checks, not just shapes. Requires n_buckets ≤ 256 (two hex
    digits); the vocabulary-free property is the point at corpus
    scale — no dictionary build, no OOV, one explode + one hash agg
    (map-side combined), shuffling only (id, bucket, partial-weight)
    triples.

    Output: (id, bucket, weight) sparse triples, weight ≠ 0 rows only
    (exact cancellations drop — they carry no information).
    """
    if n_buckets > 256:
        raise ValueError("n_buckets > 256 needs more hex digits; "
                         "widen the bucket expression")
    tok = F.explode(F.split(F.lower(F.col(text_col)), r"\s+"))
    d = (df.select(F.col(id_col), tok.alias("__t"))
         .filter(F.col("__t") != ""))
    h = F.md5(F.col("__t"))
    a = lambda p: F.ascii(F.substring(h, p, 1))  # noqa: E731
    dig = lambda p: F.when(a(p) >= 97, a(p) - 87).otherwise(a(p) - 48)  # noqa: E731
    bucket = (dig(1) * 16 + dig(2)) % n_buckets
    sign = F.when(dig(3) % 2 == 1, F.lit(1)).otherwise(F.lit(-1))
    return (d.groupBy(F.col(id_col), bucket.alias("bucket"))
            .agg(F.sum(sign).cast("long").alias("weight"))
            .filter(F.col("weight") != 0))


def mutual_info_cells(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Mutual information between two categorical columns, emitted as
    per-(x, y) CELL contributions — the feature-selection signal
    I(X;Y) = Σ_cells p(x,y)·ln(p(x,y)/(p(x)p(y))), with the total left
    as a caller-side sum over the bounded cell rows (the drift_psi /
    categorical_profile per-row-contribution contract: no
    order-sensitive double accumulation ever crosses an engine
    boundary).

    Each cell row carries (x, y, n_xy, n_x, n_y, n_total, mi_contrib)
    where mi_contrib = (n_xy/N)·ln((n_xy·N)/(n_x·n_y)) as ONE double
    expression from exact integer counts (operands go to double BEFORE
    the products — long·long would wrap at ~3e9-row margins, and the
    quotient is what ln needs anyway).

    Plan: one hash agg to the (x, y) cell table; the marginals ride
    windows PARTITIONED by x and by y over that aggregate (bounded by
    the categorical cardinalities by definition); the grand total
    broadcast-cross-joins from a 1-row rollup — no data-sized
    single-task stage (the drift_ks totals rule).
    """
    cells = (df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
             .groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_xy")))
    wx = Window.partitionBy("x")
    wy = Window.partitionBy("y")
    tot = cells.agg(F.sum("n_xy").alias("n_total"))
    nxy = F.col("n_xy").cast("double")
    nx = F.col("n_x").cast("double")
    ny = F.col("n_y").cast("double")
    nn = F.col("n_total").cast("double")
    return (cells
            .withColumn("n_x", F.sum("n_xy").over(wx))
            .withColumn("n_y", F.sum("n_xy").over(wy))
            .crossJoin(F.broadcast(tot))
            .select("x", "y", "n_xy", "n_x", "n_y", "n_total",
                    F.round((nxy / nn) * F.log((nxy * nn) / (nx * ny)), 6)
                     .alias("mi_contrib")))


def woe_iv(df: DataFrame, cat: "Column", label: "Column") -> DataFrame:
    """Weight-of-evidence encoding + information value per category —
    the credit-scoring/feature-screening transform (Siddiqi 2006): for
    category i with positive/negative counts over a binary label,

        WOE_i = ln(p_i / q_i),   IV_i = (p_i - q_i) · WOE_i

    with p_i/q_i the smoothed class shares (0.5 added to every cell,
    totals adjusted by 0.5·n_categories — the add-half rule that keeps
    empty cells finite without dropping them). Σ IV_i is the feature's
    screening score; the per-category WOE column is the monotone
    encoding fed to scorecards.

    Engine-exactness: counts are exact longs from ONE hash aggregate;
    WOE passes through an engine-side ln, so it is emitted on the
    integer 10^-6 grid (floor(1e6·ln) — the bm25/vocab_logrank rule:
    never hash a raw post-log double) and IV_i is one fixed chain
    ((p - q) · grid/1e6) of double ops over exact ingredients. The
    totals window runs over the category-count table, bounded by the
    column's cardinality by definition of categorical.
    """
    d = df.select(cat.alias("category"),
                  label.cast("int").alias("__y")) \
          .filter(F.col("__y").isNotNull())
    counts = (d.groupBy("category")
              .agg(F.count(F.lit(1)).alias("__n"),
                   F.sum("__y").cast("long").alias("n_pos"))
              .withColumn("n_neg", (F.col("__n") - F.col("n_pos"))
                          .cast("long")))
    wall = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    g = (counts
         .withColumn("__tp", F.sum("n_pos").over(wall))
         .withColumn("__tn", F.sum("n_neg").over(wall))
         .withColumn("__k", F.count(F.lit(1)).over(wall)))
    p = ((F.col("n_pos").cast("double") + F.lit(0.5))
         / (F.col("__tp").cast("double")
            + F.lit(0.5) * F.col("__k").cast("double")))
    q = ((F.col("n_neg").cast("double") + F.lit(0.5))
         / (F.col("__tn").cast("double")
            + F.lit(0.5) * F.col("__k").cast("double")))
    woe_q6 = F.floor(F.lit(1e6) * F.log(p / q)).cast("long")
    return (g.select("category", "n_pos", "n_neg",
                     woe_q6.alias("woe_q6"),
                     F.round((p - q) * (woe_q6.cast("double")
                                        / F.lit(1e6)), 9)
                     .alias("iv_contrib"))
            .orderBy("category"))


def uplift_two_model(df: DataFrame, segment: "Column", treated: "Column",
                     converted: "Column") -> DataFrame:
    """Per-segment uplift (incrementality) by the two-model difference:
    uplift = P(convert | treated) − P(convert | control) — the
    campaign-measurement readout behind every "did the ad DO anything"
    dashboard, and the label a T-learner trains toward.

    Exact-long cell counts from ONE hash aggregate over
    (segment, treated); each rate is a single double division; uplift
    and its pooled-variance normal score are fixed chains (sqrt is
    IEEE-exact). Segments missing a side emit NULL uplift rather than
    a silent zero.
    """
    d = df.select(segment.alias("segment"),
                  treated.cast("int").alias("__t"),
                  converted.cast("int").alias("__y"))
    agg = (d.groupBy("segment", "__t")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("__y").cast("long").alias("k")))

    def side(tag: int, name: str) -> DataFrame:
        return (agg.filter(F.col("__t") == tag)
                .select("segment", F.col("n").alias(f"n_{name}"),
                        F.col("k").alias(f"k_{name}")))

    j = side(1, "t").join(side(0, "c"), "segment", "full_outer")
    pt = F.col("k_t").cast("double") / F.col("n_t").cast("double")
    pc = F.col("k_c").cast("double") / F.col("n_c").cast("double")
    pool = ((F.col("k_t") + F.col("k_c")).cast("double")
            / (F.col("n_t") + F.col("n_c")).cast("double"))
    se = F.sqrt(pool * (F.lit(1.0) - pool)
                * (F.lit(1.0) / F.col("n_t").cast("double")
                   + F.lit(1.0) / F.col("n_c").cast("double")))
    return (j.select("segment", "n_t", "k_t", "n_c", "k_c",
                     F.round(pt, 6).alias("rate_treated"),
                     F.round(pc, 6).alias("rate_control"),
                     F.round(pt - pc, 6).alias("uplift"),
                     F.round((pt - pc) / se, 6).alias("z"))
            .orderBy("segment"))


def chi2_cells(df: DataFrame, feature_cols: list[str],
               label: "Column") -> DataFrame:
    """χ²-of-independence feature screening: per (feature, value,
    label) cell, the observed count, the independence-expected count
    and the cell's χ² contribution — the standard categorical
    feature-selection filter (sklearn's chi2 / SelectKBest shape).

    One unpivot (stack — map-side, no shuffle) + ONE hash aggregate on
    (feature, value, label); marginals come from windows PARTITIONED
    BY FEATURE over the bounded cells table (≤ Σ|domain|·|labels|
    rows), so nothing global exists. Expected = row·col/n is one
    double chain from exact longs; contrib = (obs−exp)²/exp another;
    the per-feature χ² (and its dof) assemble caller-side over the
    bounded cell rows — the categorical_profile per-row-contribution
    contract.
    """
    # Backtick-quote the identifier (and escape quotes in the name
    # literal) so feature names with spaces/hyphens/keywords survive
    # the stack() expression (r9 advice #4).
    pairs = ", ".join(
        f"""'{c.replace("'", "''")}', CAST(`{c.replace('`', '``')}` AS STRING)"""
        for c in feature_cols)
    cells = (df.select(F.expr(f"stack({len(feature_cols)}, {pairs})")
                       .alias("feature", "value"),
                       label.cast("long").alias("label"))
             .groupBy("feature", "value", "label")
             .agg(F.count(F.lit(1)).alias("obs")))
    wf = Window.partitionBy("feature")
    wv = Window.partitionBy("feature", "value")
    wl = Window.partitionBy("feature", "label")
    n = F.sum("obs").over(wf)
    row = F.sum("obs").over(wv)
    col = F.sum("obs").over(wl)
    exp = (row.cast("double") * col.cast("double") / n.cast("double"))
    obs = F.col("obs").cast("double")
    return (cells
            .withColumn("expected", F.round(exp, 6))
            .withColumn("chi2_contrib",
                        F.round((obs - exp) * (obs - exp) / exp, 6))
            .select("feature", "value", "label",
                    F.col("obs").cast("long").alias("obs"),
                    "expected", "chi2_contrib")
            .orderBy("feature", "value", "label"))


def cramers_v(df: DataFrame, feature_cols: list[str],
              label: "Column", quantum: float = 1e9) -> DataFrame:
    """Cramér's V effect size per feature — the [0, 1]-normalized
    strength reading on top of :func:`chi2_cells`' significance
    screening (χ² grows with n; V = √(χ²/(n·(min(r,c)−1))) is the
    scale-free ranking feature selectors actually sort by).

    Determinism: each cell's χ² contribution
    (obs·n − row·col)²/(n·row·col) is an exact-integer numerator over
    an exact-integer denominator, but the per-feature SUM of those
    rationals has no common denominator — so each contribution is
    floor-quantized to the 1e-9 grid BEFORE the sum (the
    vocab_logrank rule applied to rationals), making ``chi2_q`` an
    exact order-insensitive BIGINT. V is then ONE double chain.

    Plan: chi2_cells' one unpivot + one hash aggregate; marginals on
    the bounded cells table; one ≤|features|-row closing aggregate.
    """
    dec = "decimal(38,0)"
    cells = chi2_cells(df, feature_cols, label)
    # chi2_cells emits obs/expected/contrib; recompute the contribution
    # in exact-integer form from the marginals it carries
    wf = Window.partitionBy("feature")
    wv = Window.partitionBy("feature", "value")
    wl = Window.partitionBy("feature", "label")
    n = F.sum("obs").over(wf)
    row = F.sum("obs").over(wv)
    col = F.sum("obs").over(wl)
    q = (cells.select(
        "feature", "value", "label", "obs",
        n.alias("__n"), row.alias("__r"), col.alias("__c")))
    numer = (F.col("obs").cast(dec) * F.col("__n").cast(dec)
             - F.col("__r").cast(dec) * F.col("__c").cast(dec))
    denom = (F.col("__n").cast(dec) * F.col("__r").cast(dec)
             * F.col("__c").cast(dec))
    contrib_q = F.floor((numer * numer).cast("double")
                        / denom.cast("double")
                        * F.lit(quantum)).cast("long")
    per_f = (q.withColumn("__q", contrib_q)
             .groupBy("feature")
             .agg(F.max("__n").alias("n"),
                  F.count_distinct("value").alias("__nv"),
                  F.count_distinct("label").alias("__nl"),
                  F.sum("__q").alias("chi2_q")))
    k = F.least(F.col("__nv"), F.col("__nl")) - 1
    v = F.sqrt(F.col("chi2_q").cast("double") / F.lit(quantum)
               / (F.col("n").cast("double") * k.cast("double")))
    return (per_f.select("feature", F.col("n").cast("long").alias("n"),
                         F.col("chi2_q").cast("long").alias("chi2_q"),
                         F.round(v, 6).alias("cramers_v"))
            .orderBy("feature"))


def quantile_normalize(df: DataFrame, feature_col: str, value_col: str,
                       tiebreak_cols: list[str], lo: float, hi: float,
                       nbins: int = 64) -> DataFrame:
    """Quantile normalization across features (Bolstad '03 — the
    cross-sample distribution equalizer): sort every feature's values,
    average across features at each sort position, and that average IS
    the normalized value for whichever raw value sat at that position.
    The classic microarray/ML trick for forcing k feature columns onto
    one common distribution.

    Input grain: long format, one row per (feature, value, tiebreak…)
    with integer values and a tiebreak that makes (value, tiebreak…)
    unique per feature — positional ranks must be deterministic, the
    assign_dense_ids contract. Output: the rank table — rank,
    n_features at that rank, the EXACT value sum, and the normalized
    mean (ONE double division). Joining it back onto the ranked rows
    is a rank-keyed equi-join the caller owns.

    Plan — positional rank WITHOUT a single-task window (the
    assign_dense_ids bucket trick, per feature): value-derived bucket
    (pure codegen; boundaries respect the order), per-(feature,
    bucket) counts → per-feature exclusive prefix offsets (window over
    ≤ nbins rows per feature — bounded by design), rank = offset +
    row_number within (feature, bucket). One data shuffle on
    (feature, bucket), one rank-keyed aggregate.
    """
    width = (float(hi) - float(lo)) / int(nbins)
    rows = df.select(F.col(feature_col).alias("__f"),
                     F.col(value_col).cast("long").alias("__v"),
                     *[F.col(c) for c in tiebreak_cols])
    bucket = F.least(F.greatest(
        F.floor((F.col("__v").cast("double") - F.lit(float(lo)))
                / F.lit(width)), F.lit(0)), F.lit(int(nbins) - 1))
    b = rows.withColumn("__bkt", bucket.cast("int"))
    counts = b.groupBy("__f", "__bkt").agg(F.count(F.lit(1)).alias("__c"))
    woff = (Window.partitionBy("__f").orderBy("__bkt")
            .rowsBetween(Window.unboundedPreceding, -1))  # ≤ nbins rows
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__c").over(woff), F.lit(0)))
    wrow = Window.partitionBy("__f", "__bkt").orderBy(
        "__v", *[F.col(c) for c in tiebreak_cols])
    ranked = (b.join(F.broadcast(offsets.select("__f", "__bkt", "__off")),
                     ["__f", "__bkt"])
              .withColumn("__rank",
                          (F.col("__off") + F.row_number().over(wrow))
                          .cast("long")))
    return (ranked.groupBy("__rank")
            .agg(F.count(F.lit(1)).alias("n_features"),
                 F.sum("__v").alias("sum_v"))
            .select(F.col("__rank").alias("rank"),
                    F.col("n_features").cast("long").alias("n_features"),
                    F.col("sum_v").cast("long").alias("sum_v"),
                    (F.col("sum_v").cast("double")
                     / F.col("n_features").cast("double")).alias("norm"))
            .orderBy("rank"))
