"""Count-min sketch as a relational, mergeable counter table.

The classic CMS is a d×w array of counters updated imperatively; the
Spark-native re-expression keeps the exact same math but stores the
array AS A DATAFRAME of (row, bucket, cnt) cells:

  build:  every input row contributes +1 to d cells (one per hash row);
          posexplode of the per-row bucket array then ONE hash aggregate
          — map-side partial combine collapses each partition's
          contributions to ≤ d·w rows before the shuffle, so the shuffle
          volume is bounded by sketch size × partitions, NOT data size.
  merge:  counter tables are sums — union + the same aggregate. This is
          what makes the sketch incremental: per-day sketches union into
          per-month ones without touching raw data.
  query:  point estimate = min over the d rows of the queried key's
          cell, via a broadcast join of the (tiny, ≤ d·w rows) counter
          table against the probe keys.

Counters are EXACT deterministic functions of the multiset of keys
(sums of hash-indicator contributions), so unlike most sketches the
whole pipeline is oracle-checkable cross-engine when built with the
portable md5 hash family — the same twin-family pattern the MinHash
pipeline uses (dedup.py: xxhash64 for production speed, md5 for the
DuckDB oracle).

Estimation guarantee (Cormode & Muthukrishnan '05): est ≥ true always
(counters only over-count), and est ≤ true + e·N/w with probability
≥ 1 − (1/2)^d per the pairwise-independence argument — pinned as a
property test, not an oracle (the bound is probabilistic).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def _buckets(key: Column, depth: int, width: int,
             hash_family: str) -> Column:
    """Array of ``depth`` bucket indices in [0, width) for one key.

    xxhash64 family: pmod(xxhash64(key, seed_j), width) — one JVM hash
    per row per hash row, the production path. md5 family: the last 3
    hex digits of md5('<j>|' || key) as an integer mod width — slower,
    but every engine with md5() computes the identical bucket, which is
    what buys the cross-engine oracle (width must divide 4096 so the
    3-digit window is unbiased).
    """
    if hash_family == "md5":
        if 4096 % width:
            raise ValueError("md5 family needs width dividing 4096 "
                             "(3 unbiased hex digits)")
        return F.array(*[
            F.conv(F.substring(
                F.md5(F.concat(F.lit(f"{j}|"), key.cast("string"))),
                30, 3), 16, 10).cast("long") % width
            for j in range(depth)])
    if hash_family == "xxhash64":
        return F.array(*[
            F.pmod(F.xxhash64(key, F.lit(j)), F.lit(width))
            for j in range(depth)])
    raise ValueError(f"unknown hash_family {hash_family!r}")


def cms_build(df: DataFrame, key_col: str, depth: int = 4,
              width: int = 4096,
              hash_family: str = "xxhash64") -> DataFrame:
    """Build the (d, bucket, cnt) counter table for one key column.

    One narrow projection, one d-way posexplode of ints (fan-out is d
    rows of two ints each, not data), one partially-aggregated groupBy.
    Output is at most d·width rows regardless of input size.
    """
    b = _buckets(F.col(key_col), depth, width, hash_family)
    return (df.select(F.posexplode(b).alias("d", "bucket"))
            .groupBy("d", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_merge(*counters: DataFrame) -> DataFrame:
    """Merge counter tables built with the same (depth, width, family).

    Counters are sums, so merge = union + re-aggregate. Buckets absent
    from one side simply contribute nothing. Output shape is identical
    to ``cms_build``'s, so merge composes (daily → monthly → yearly).
    """
    out = counters[0]
    for c in counters[1:]:
        out = out.unionByName(c)
    return out.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_query(counters: DataFrame, keys: DataFrame, key_col: str,
              depth: int = 4, width: int = 4096,
              hash_family: str = "xxhash64") -> DataFrame:
    """Point-estimate each key in ``keys``: min over hash rows of the
    key's counter cell.

    The counter table is ≤ d·width rows by construction — it BROADCASTS;
    the probe side explodes to d rows per key, joins, and min-aggregates
    back to one row per key. Keys whose cells were never touched get
    cnt 0 (left join + coalesce), preserving est ≥ true for unseen keys
    (true = 0). Output: (key, est).
    """
    b = _buckets(F.col(key_col), depth, width, hash_family)
    probes = (keys.select(F.col(key_col).alias("key"),
                          F.posexplode(b).alias("d", "bucket")))
    return (probes.join(F.broadcast(counters), ["d", "bucket"], "left")
            .groupBy("key")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .alias("est")))


def cms_join_cardinality(counters_a: DataFrame,
                         counters_b: DataFrame) -> DataFrame:
    """Equi-join size estimate from two count-min sketches: for each
    hash row d, Σ_bucket cntA·cntB over-estimates |A ⋈ B| (collisions
    only inflate); the min over the d rows is the classic CMS inner-
    product estimate (Cormode & Muthukrishnan '05 §4.2).

    This is the planner-side use of the sketch: join cardinality for
    two 100 TB inputs from two ≤ d·w-row tables — no data scan at
    estimation time. Both sketches must share (depth, width, family).
    One broadcast-joined elementwise product + a d-row aggregate;
    output: a single row (est_join_rows).

    Like the counters themselves the estimate is DETERMINISTIC given
    the inputs, so the md5-family twin is oracle-checkable end to end.
    """
    a = counters_a.select("d", "bucket", F.col("cnt").alias("cnt_a"))
    b = counters_b.select("d", "bucket", F.col("cnt").alias("cnt_b"))
    per_row = (a.join(F.broadcast(b), ["d", "bucket"])
               .groupBy("d")
               .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("ip")))
    return per_row.agg(F.min("ip").alias("est_join_rows"))


# --- HyperLogLog partials: incremental distinct counting -------------------

def hll_build(df: DataFrame, group_cols: list[str], key_col: str,
              lg_k: int = 12) -> DataFrame:
    """Per-group HyperLogLog sketch of ``key_col`` as a BINARY column.

    The mergeable-partial-state pattern (operators/incremental.py)
    applied to COUNT(DISTINCT): a plain distinct count is not
    incrementally maintainable (yesterday's count + today's count
    double-counts returning keys), but an HLL sketch is — registers
    merge by max, so per-increment sketches stored next to the data
    roll up to any coarser grain without ever rescanning raw history.

    Spark 3.5+ ships Apache DataSketches HLL natively
    (``hll_sketch_agg`` — JVM-side, map-side combined, deterministic
    for a given input multiset and lg_k), so a 100 TB scan collapses
    to one tiny (groups × ~2^lg_k bytes) sketch table in a single
    shuffle.
    """
    return (df.groupBy(*group_cols)
            .agg(F.hll_sketch_agg(F.col(key_col), lg_k)
                 .alias("hll_sketch")))


def hll_rollup(sketches: DataFrame,
               group_cols: list[str]) -> DataFrame:
    """Merge stored sketches to a coarser grain and estimate.

    Union-of-sketches ≡ sketch-of-union exactly (HLL registers merge
    by max — deterministic, order-free), pinned by pytest. The input
    is the tiny sketch table, so re-grading distinct counts over years
    of increments costs a sketch-table aggregate, not a raw scan.
    """
    return (sketches.groupBy(*group_cols)
            .agg(F.hll_union_agg(F.col("hll_sketch"))
                 .alias("hll_sketch"))
            .withColumn("distinct_est",
                        F.hll_sketch_estimate(F.col("hll_sketch"))
                        .cast("long")))


def heavy_hitters(df: DataFrame, key_col: str, phi_num: int = 1,
                  phi_den: int = 200,
                  materialize: bool = True) -> DataFrame:
    """φ-heavy hitters (Misra-Gries candidates + one exact verify
    pass): every key whose frequency strictly exceeds φ·N, with its
    EXACT count — φ given as the rational phi_num/phi_den so the
    final threshold test is integer arithmetic, never a double.

    Two-pass sketch-then-verify, the scale shape FAISS-style pipelines
    use for frequency cutoffs: pass 1 streams each partition through a
    k-counter Misra-Gries summary (k = ⌈1/φ⌉; mapInPandas, O(k)
    state, Arrow-batched — the declared Python-sketch path, off the
    per-row-UDF hot path). The per-batch update is VECTORIZED
    (r13 optimization, guide §4.2): exact batch counts via pandas
    ``value_counts`` (one C pass) merged into the running summary,
    then the batched Misra-Gries decrement — subtract the (k+1)-th
    largest counter from every counter and drop the non-positive
    (the mergeable-summaries form, Agarwal et al. PODS'12). Each
    prune removes ≥ (k+1)·m total weight, so Σ decrements ≤
    N_p/(k+1): identical error bound to the row-at-a-time loop.
    Pigeonhole guarantees the union of per-partition candidates is a
    SUPERSET of the global heavy hitters: a key with global count >
    N/(k+1) must exceed N_p/(k+1) in at least one partition, and the
    summary's undercount never reaches N_p/(k+1). Pass 2
    broadcast-semi-joins the (≤ k × partitions, tiny) candidate set
    against the data and keeps exact counts > φ·N — so the OUTPUT is
    exact and partitioning-invariant even though the intermediate
    sketch is not (and candidate-set differences between MG variants
    are invisible), which is what makes a sketch operator
    oracle-checkable at all.

    The MG pass also emits ONE sentinel row per partition carrying the
    partition's exact row count (``__k`` NULL, ``__n`` set), so the
    global N needs no third scan of the input: the sketch output —
    ≤ (k+1) × partitions rows, persisted because both the candidate
    broadcast and the total read it — replaces what used to be a full
    re-scan (for the token probe, a full regexp tokenize + explode) by
    an aggregate over a few thousand cached rows. The input is scanned
    exactly TWICE (sketch, exact verify), the information-theoretic
    floor for exact-output heavy hitters with sketch-bounded state.
    """
    import pandas as pd  # noqa: PLC0415 — Arrow path only

    k = -(-phi_den // phi_num)  # ceil(1/φ) counters

    def mg_partition(batches):
        counters: dict = {}
        n_rows = 0
        for pdf in batches:
            n_rows += len(pdf)
            # value_counts drops nulls and counts in one vectorized
            # pass; the merge loop below touches DISTINCT keys only
            # (bounded by the Arrow batch size), never rows.
            for key, c in pdf["__k"].value_counts(sort=False).items():
                counters[key] = counters.get(key, 0) + int(c)
            if len(counters) > k:
                # batched MG decrement: at most k survive (at most k
                # values are strictly above the (k+1)-th largest)
                m = sorted(counters.values(), reverse=True)[k]
                counters = {key: v - m
                            for key, v in counters.items() if v > m}
        keys = list(counters.keys())
        yield pd.DataFrame({"__k": keys + [None],
                            "__n": [None] * len(keys) + [n_rows]})

    # Cast the key to string ONCE here: the mapInPandas candidate
    # schema below is '__k string', so a natively-typed key would
    # either crash the Arrow pass or mis-join the candidate set
    # against a typed keyed frame (r9 advice #1). Output keys are
    # therefore string-typed for every input key type.
    keyed = df.select(F.col(key_col).cast("string").alias("__k")).filter(
        F.col("__k").isNotNull())
    sketch = keyed.mapInPandas(mg_partition, schema="__k string, __n long")
    if materialize:
        # tiny (≤ (k+1) x partitions rows) — both consumers below read
        # it; without the persist each broadcast build would re-run
        # the full sketch pass over the input
        from pyspark import StorageLevel  # noqa: PLC0415
        sketch = sketch.persist(StorageLevel.MEMORY_AND_DISK)
    cands = (sketch.filter(F.col("__k").isNotNull()).select("__k")
             .distinct())
    total = sketch.agg(F.sum("__n").alias("__n"))
    exact = (keyed.join(F.broadcast(cands), "__k", "left_semi")
             .groupBy("__k")
             .agg(F.count(F.lit(1)).alias("cnt")))
    return (exact.crossJoin(F.broadcast(total))
            .filter(F.col("cnt") * F.lit(phi_den)
                    > F.col("__n") * F.lit(phi_num))
            .select(F.col("__k").alias("key"),
                    F.col("cnt").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), "key"))
