"""Property tests for the scale-pattern operators (second r4 wave):
binned interval-overlap join vs naive nested loop, hash-prefiltered
semi-join vs plain semi-join, top-p selection invariants, sequence
encoding determinism under input shuffling.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

from data_and_analytics_etl_spark.catalog import load_table

from data_and_analytics_etl_spark.operators.dedup import dedup_clusters
from data_and_analytics_etl_spark.operators.graph import pagerank
from data_and_analytics_etl_spark.operators.rangejoin import (
    interval_overlap_join)
from data_and_analytics_etl_spark.operators.sampling import top_p_by_group
from data_and_analytics_etl_spark.operators.sequence import (
    encode_events, sequence_match)
from data_and_analytics_etl_spark.operators.skew import (
    hash_prefilter_semi_join)


def _intervals(seed: int, n: int, max_len: float):
    rng = random.Random(seed)
    return [(i, round(rng.uniform(0, 50), 2),
             round(rng.uniform(0, max_len), 2)) for i in range(n)]


def test_interval_overlap_equals_naive(spark):
    left = [(i, lo, lo + ln) for i, lo, ln in _intervals(1, 80, 4.0)]
    right = [(i, lo, lo + ln) for i, lo, ln in _intervals(2, 70, 2.5)]
    ldf = spark.createDataFrame(left, "l_id int, l_lo double, l_hi double")
    rdf = spark.createDataFrame(right, "r_id int, r_lo double, r_hi double")
    got = sorted((r.l_id, r.r_id) for r in interval_overlap_join(
        ldf, rdf, "l_lo", "l_hi", "r_lo", "r_hi", bin_width=1.5).collect())
    want = sorted((li, ri) for li, llo, lhi in left
                  for ri, rlo, rhi in right
                  if llo <= rhi and rlo <= lhi)
    assert got == want
    # exactly-once: no pair duplicated despite multi-bin overlap spans
    assert len(got) == len(set(got))


def test_interval_overlap_zero_length_intervals(spark):
    # degenerate [x, x] intervals still match iff the points coincide
    # with the other side's span (closed-interval semantics)
    ldf = spark.createDataFrame([(1, 5.0, 5.0)],
                                "l_id int, l_lo double, l_hi double")
    rdf = spark.createDataFrame(
        [(1, 4.0, 5.0), (2, 5.0, 6.0), (3, 5.5, 7.0)],
        "r_id int, r_lo double, r_hi double")
    got = sorted(r.r_id for r in interval_overlap_join(
        ldf, rdf, "l_lo", "l_hi", "r_lo", "r_hi", bin_width=2.0).collect())
    assert got == [1, 2]


def test_hash_prefilter_semi_equals_plain_semi(spark, sf_dir):
    from data_and_analytics_etl_spark.catalog import load_table
    li = load_table(spark, sf_dir, "lineitem")
    keys = (load_table(spark, sf_dir, "orders")
            .filter(F.col("o_totalprice") > 200000)
            .select(F.col("o_orderkey").alias("l_orderkey")))
    got = (hash_prefilter_semi_join(li, keys, ["l_orderkey"])
           .groupBy().count().collect()[0][0])
    want = (li.join(keys, "l_orderkey", "leftsemi")
            .groupBy().count().collect()[0][0])
    assert got == want
    # tiny bucket space => guaranteed collisions; exact stage must
    # still remove every false positive
    got_small = (hash_prefilter_semi_join(li, keys, ["l_orderkey"],
                                          buckets=8)
                 .groupBy().count().collect()[0][0])
    assert got_small == want


def test_top_p_group_invariants(spark):
    rng = random.Random(7)
    rows = [(f"g{i % 3}", i, round(rng.uniform(1, 100), 2))
            for i in range(90)]
    df = spark.createDataFrame(rows, "g string, id int, score double")
    kept = top_p_by_group(df, ["g"], "score", p="0.30",
                          tiebreak_cols=["id"]).collect()
    by_group: dict[str, list] = {}
    for r in kept:
        by_group.setdefault(r.g, []).append(r)
    src: dict[str, list] = {}
    for g, i, s in rows:
        src.setdefault(g, []).append((s, i))
    assert set(by_group) == set(src)          # every group keeps >= 1
    for g, members in src.items():
        members.sort(key=lambda t: (-t[0], t[1]))
        total = sum(s for s, _ in members)
        k = len(by_group[g])
        # kept set is exactly the k-prefix of the desc-score order
        assert sorted(r.id for r in by_group[g]) == sorted(
            i for _, i in members[:k])
        kept_mass = sum(s for s, _ in members[:k])
        # mass reaches p, and was below p before the boundary row
        assert kept_mass >= 0.30 * total - 1e-6
        assert kept_mass - members[k - 1][0] < 0.30 * total + 1e-6


def test_sequence_encoding_order_independent(spark):
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    events = [(1, base + dt.timedelta(minutes=m), m, t)
              for m, t in enumerate(["view", "click", "click",
                                     "purchase", "view", "purchase"])]
    codes = {"view": "v", "click": "c", "purchase": "p"}
    shuffled = events[::-1]
    for data in (events, shuffled):
        df = spark.createDataFrame(
            data, "u int, ts timestamp, event_id int, et string")
        enc = encode_events(df, "u", "ts", "et", codes, "event_id")
        assert enc.collect()[0].seq == "vccpvp"
        m = sequence_match(df, "u", "ts", "et", codes, "vc*p",
                           tiebreak_col="event_id").collect()[0]
        assert (m.n_events, m.n_matches) == (6, 2)


def test_sequence_unknown_type_maps_to_underscore(spark):
    import datetime as dt
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 0, "mystery")],
        "u int, ts timestamp, event_id int, et string")
    enc = encode_events(df, "u", "ts", "et", {"view": "v"}, "event_id")
    assert enc.collect()[0].seq == "_"


def test_label_centroids_match_numpy_and_partitioning(spark):
    import numpy as np

    from data_and_analytics_etl_spark.operators.similarity import (
        label_centroids)
    rng = random.Random(11)
    rows = [(i, i % 4, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "vec_id int, label int, embedding array<double>")
    got = {r.label: r.centroid
           for r in label_centroids(df, "label", "embedding").collect()}
    for lbl in range(4):
        vecs = np.array([v for _, l, v in rows if l == lbl])
        want = vecs.mean(axis=0)
        # exact up to the 1e-9 accumulation grid (floor => biased down
        # by at most 1e-9 per contributing row / n = 1e-9)
        assert np.allclose(got[lbl], want, atol=2e-9)
    # partitioning must not change a single bit
    re_got = {r.label: r.centroid
              for r in label_centroids(df.repartition(13), "label",
                                       "embedding").collect()}
    assert got == re_got


class TestPageRank:
    def _numpy_pr(self, edges, damping=0.85, iters=10):
        import numpy as np
        nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
        idx = {n: i for i, n in enumerate(nodes)}
        n = len(nodes)
        out = {u: 0 for u in nodes}
        for u, _ in set(edges):
            out[u] += 1
        r = np.full(n, 1.0 / n)
        for _ in range(iters):
            nxt = np.full(n, (1.0 - damping) / n)
            dang = sum(r[idx[u]] for u in nodes if out[u] == 0)
            nxt += damping * dang / n
            for u, v in set(edges):
                nxt[idx[v]] += damping * r[idx[u]] / out[u]
            r = nxt
        return {nodes[i]: r[i] for i in range(n)}

    def test_matches_numpy_reference(self, spark):
        from data_and_analytics_etl_spark.operators.graph import pagerank
        edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (2, 4)]
        # node 5 dangling via an in-edge only
        edges.append((3, 5))
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {r.node: r.rank for r in pagerank(df, iters=10).collect()}
        want = self._numpy_pr(edges)
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])

    def test_mass_conserved_and_order_sane(self, spark, sf_dir):
        from data_and_analytics_etl_spark.catalog import load_table
        from data_and_analytics_etl_spark.operators.graph import pagerank
        o = load_table(spark, sf_dir, "orders").select("o_orderkey",
                                                       "o_custkey")
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                          "l_suppkey")
        edges = (o.join(li, o.o_orderkey == li.l_orderkey)
                 .select(F.concat(F.lit("c"), "o_custkey").alias("src"),
                         F.concat(F.lit("s"), "l_suppkey").alias("dst")))
        pr = pagerank(edges, iters=5)
        total = pr.agg(F.sum("rank")).collect()[0][0]
        assert abs(total - 1.0) < 1e-9
        # suppliers receive all order edges: a supplier should outrank
        # the (source-only) customers, which all sit at the teleport floor
        top = pr.orderBy(F.desc("rank")).first()
        assert top.node.startswith("s")


class TestBloomPartitionIndex:
    """Bloom index contract: never a false negative; real pruning
    power; index size bounded by partitions × set bits."""

    def test_no_false_negatives_and_prunes(self, spark, sf_dir):
        from data_and_analytics_etl_spark.operators.layout import (
            bloom_partition_index, bloom_prune)
        ev = (load_table(spark, sf_dir, "events")
              .withColumn("day", F.to_date("ts")))
        idx = bloom_partition_index(ev, ["day"], "user_id", k=3)
        probes = ev.select("user_id").distinct().limit(40)
        qualified = {(r["user_id"], r["day"]) for r in
                     bloom_prune(idx, probes, "user_id", ["day"],
                                 k=3).collect()}
        actual = {(r["user_id"], r["day"]) for r in
                  ev.join(probes, "user_id")
                  .select("user_id", "day").distinct().collect()}
        # every true (key, partition) pair qualifies
        assert actual <= qualified
        # and the index actually skips: qualified pairs are far fewer
        # than all (probe, partition) combinations
        n_days = ev.select("day").distinct().count()
        n_probes = probes.count()
        assert len(qualified) < n_probes * n_days

    def test_absent_key_rarely_qualifies(self, spark, sf_dir):
        """A key never present in any partition should be pruned
        everywhere (false-positive rate at these fill levels is far
        below one partition's worth)."""
        from data_and_analytics_etl_spark.operators.layout import (
            bloom_partition_index, bloom_prune)
        ev = (load_table(spark, sf_dir, "events")
              .withColumn("day", F.to_date("ts")))
        idx = bloom_partition_index(ev, ["day"], "user_id", k=3)
        ghost = spark.createDataFrame([(10_000_001,), (10_000_007,)],
                                      "user_id: long")
        q = bloom_prune(idx, ghost, "user_id", ["day"], k=3).count()
        n_days = ev.select("day").distinct().count()
        assert q <= max(1, n_days // 5)


def _cached_rdds(spark) -> int:
    """Persistent RDDs that back Dataset caches. Eager localCheckpoint
    RDDs register as persistent too, but they are unnamed and belong to
    the frames that read them (a returned result included), so only the
    named cache RDDs measure a leak."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
    return sum(1 for r in rdds if r.name() is not None)


def test_iterative_loops_release_their_caches(spark):
    """dedup_clusters and pagerank persist loop-invariant tables; both
    must release them on every exit path: the max_iter raise of the
    label propagation and a pagerank run to completion."""
    start = _cached_rdds(spark)
    vertices = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    chain = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="fixed point"):
        dedup_clusters(chain, vertices, max_iter=1)
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)],
                                  "src long, dst long")
    ranks = pagerank(edges, iters=3).collect()
    assert len(ranks) == 4
    assert abs(sum(r["rank"] for r in ranks) - 1.0) < 1e-9
    assert _cached_rdds(spark) == start
