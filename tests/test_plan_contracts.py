"""Registry-wide physical-plan lints: the SCALE.md claims, enforced.

SCALE.md documents per-round mechanical sweeps (zero CartesianProduct;
every BroadcastNestedLoopJoin a deliberate 1-row scalar broadcast or a
declared small-scale baseline). A committed doc can go stale the day a
new probe lands; this suite re-runs the sweep on every pytest run, so a
probe that plans a cartesian product — the one physical shape that
cannot survive 100 TB — fails CI the moment it is registered.

Scope: every NON-EAGER probe (the construction-purity exemptions write
files / run driver loops at build time; their plan shapes are asserted
by their own suites). Building + optimizing a plan runs no job, so the
whole sweep costs optimizer time only.
"""

from __future__ import annotations

import pytest

from data_and_analytics_etl_spark.queries import REGISTRY

from .test_construction_purity import EXEMPT_PROBES, EXEMPT_TAGS

#: Probes whose BroadcastNestedLoopJoin is by design. Two legitimate
#: shapes exist (audited r5, SCALE.md): a 1-row aggregate broadcast
#: (scalar denominators/totals) and a declared unbinned/all-pairs
#: BASELINE whose binned twin is the scale path. Anything else must
#: justify itself here or fix its plan.
BNLJ_ALLOWED_SUBSTRINGS = (
    "1-row", "scalar", "baseline", "exact", "theta", "cross",
    "unbinned", "total", "denominator", "broadcast",
)


def _lazy_probes():
    return sorted(n for n, s in REGISTRY.items()
                  if not (EXEMPT_TAGS & set(s.tags))
                  and n not in EXEMPT_PROBES)


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    out = {}
    for name in _lazy_probes():
        df = REGISTRY[name].fn(spark, sf_dir)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


def test_no_cartesian_product_anywhere(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, (
        f"CartesianProduct planned by {bad} — an all-pairs shuffle "
        "cannot survive 100 TB; rewrite as a bucketed equi-join "
        "(bin/band/bucket rewrite) or broadcast the 1-row side")


def test_bnlj_only_where_declared(plans):
    undeclared = []
    for n, p in plans.items():
        if "BroadcastNestedLoopJoin" not in p:
            continue
        doc = (REGISTRY[n].doc or "").lower()
        if not any(s in doc for s in BNLJ_ALLOWED_SUBSTRINGS):
            undeclared.append(n)
    assert not undeclared, (
        f"BroadcastNestedLoopJoin planned by {undeclared} without a "
        "declared reason (1-row scalar broadcast or explicit baseline) "
        "in the probe doc — document it or fix the join condition")


def test_every_unpartitioned_window_is_documented_bounded(plans):
    """An unpartitioned window = single-task total sort. The engine's
    rule (drift_ks / packing / calibration): allowed ONLY over a
    bounded table (buckets, distinct scores, n-row spines) and the
    bound must be stated in the operator or probe doc. The plan can't
    reveal input size, so this lint checks the weaker invariant that
    probes planning a global window acknowledge the bound in prose."""
    import re
    offenders = []
    for n, p in plans.items():
        lines = p.splitlines()
        global_window = any(
            "Window" in lines[i] and any(
                "Exchange SinglePartition" in lines[j]
                for j in range(i + 1, min(i + 6, len(lines))))
            for i in range(len(lines)))
        if not global_window:
            continue
        doc = (REGISTRY[n].doc or "").lower()
        if not re.search(r"bound|bucket|distinct|spine|n_bins|nbins|"
                         r"tiny|single-task|classes|score|row table|"
                         r"-row|duration", doc):
            offenders.append(n)
    assert not offenders, (
        f"global (SinglePartition) window in {offenders} without a "
        "documented size bound — partition the window or state why "
        "its input is bounded (the drift_ks rule)")


def test_triangle_family_closing_join_is_shuffled_hash(plans):
    """r11 scale catch (SCALE.md Round 11 §5): the triangle-family
    closing join must NOT sort-merge — SMJ sorts the Σ outdeg² wedge
    candidate stream (410M rows at sf1 on the co-purchase graph) and
    spills super-linearly while the candidates themselves scale
    linearly (exact decade count: 41,087,491 → 410,874,910 = 10.0000×).
    The SHUFFLE_HASH hint on the O(m) edge side keeps the wedge stream
    unsorted; per-partition hash size is edges/partitions, the knob
    that scales with the cluster. Measured 588 → 240 s at sf1 with
    bit-identical output. This pin fails the moment a refactor drops
    the hint and the planner reverts to SMJ.

    r11 advice hardening: a bare 'ShuffledHashJoin in plan' is weak —
    these plans have several joins (the O(m) edge-canonicalization
    SMJs are fine: they sort edge-sized streams, not the wedge
    stream), so a stray SHJ elsewhere could mask a reverted closing
    join. Pin the CLOSING join by its keys instead: the wedge probes
    close on (v1, v2) (wedge endpoints vs canonical edge), the
    link-prediction probes on the (u, v) LeftAnti existing-edge
    filter — both joins consume the wedge/candidate stream, the one
    stream that must never be sorted."""
    import re
    closing_keys = {
        "graph_triangle_count": r"\[v1#\d+L, v2#\d+L\]",
        "graph_local_clustering": r"\[v1#\d+L, v2#\d+L\]",
        "graph_jaccard_link_prediction": r"\[u#\d+L, v#\d+L\].*LeftAnti",
        "graph_adamic_adar": r"\[u#\d+L, v#\d+L\].*LeftAnti",
    }
    for name, keys in closing_keys.items():
        plan = plans[name]
        shj_lines = [ln for ln in plan.splitlines()
                     if "ShuffledHashJoin" in ln]
        assert any(re.search(keys, ln) for ln in shj_lines), (
            f"{name}: no ShuffledHashJoin on the closing keys {keys} "
            f"(SHJ lines: {shj_lines or 'NONE'}) — the wedge/candidate "
            "stream would be sorted again; see SCALE.md Round 11 §5")
        smj_closing = [ln for ln in plan.splitlines()
                       if "SortMergeJoin" in ln and re.search(keys, ln)]
        assert not smj_closing, (
            f"{name}: the closing join reverted to SortMergeJoin: "
            f"{smj_closing} — re-add the SHUFFLE_HASH hint on the "
            "O(m) edge side (SCALE.md Round 11 §5)")


def test_spearman_rank_table_is_materialized_once(spark, sf_dir):
    """r14 (verdict task 2): b20 spearman's shared y-side rank table
    (t1, the distinct-(g,bucket,y) grain) must be an explicit cache
    read by BOTH consumers (the bucket totals and the ranked join),
    not a Catalyst subtree copy whose collapse depends on AQE
    ReuseExchange staying strong — the r13 verdict's silent-doubling
    risk. A/B'd at sf0.1 AND sf1 (persist wins both; numbers in
    OPTIMIZATION_r14.md). Pin: >= 2 InMemoryTableScan reads of the
    SAME cached relation in the static plan. (A ReusedExchange count
    is deliberately NOT pinned: it is scale-dependent — at sf0.001 the
    small side broadcasts and the static rule has nothing to collapse
    — and with the cache in place exchange reuse no longer guards the
    expensive subtree.)"""
    df = REGISTRY["stats_spearman_corr"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = sum(1 for line in plan.splitlines()
                if "InMemoryTableScan" in line)
    assert scans >= 2, (
        f"spearman rank table no longer persisted ({scans} cache "
        "scans) — the y-side subtree would recompute per consumer")


def test_local_clustering_oriented_edges_are_materialized_once(
        spark, sf_dir):
    """r14 (verdict task 4): graph_local_clustering's oriented-edge
    table `o` (u, v, dv) is consumed by both wedge sides and the
    closing join; its copies' exchanges are NOT identical, so AQE
    reuse cannot collapse them and the canonicalize->degree->2-join
    chain recomputed per consumer (sf1 decade A/B: 27.1 -> 9.8 s with
    the persist; OPTIMIZATION_r14.md "V4 — the 13-15 s graph registry
    rows"). Pin the cache so a refactor cannot silently reintroduce
    the triple recompute.
    (triangle_count is deliberately NOT cached — its semi-join variant
    reuses exchanges already; persisting it measured slower.)"""
    df = REGISTRY["graph_local_clustering"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = sum(1 for line in plan.splitlines()
                if "InMemoryTableScan [u#" in line
                or ("InMemoryTableScan" in line and "dv" in line))
    assert scans >= 2, (
        f"oriented-edge cache gone ({scans} scans of o) — the wedge "
        "chain would recompute per consumer at scale")


def test_cosine_topk_shuffle_is_rank_limit_bounded(spark, sf_dir):
    """r14 (verdict task 1): cosine_topk's rank<=k filter must keep
    planning a PARTIAL WindowGroupLimit below the probe_id exchange
    (SPARK-37099 rank-limit pushdown) — that is what bounds the
    top-k shuffle to <= |probes|*k rows per map partition in the JVM,
    and it is why the mapInArrow partial top-k was rejected (A/B in
    OPTIMIZATION_r14.md). If a conf change or Spark upgrade drops the
    node (spark.sql.window.group.limit.threshold=-1 disables it), the
    shuffle silently becomes |corpus|x|probes| rows and this pin
    fails before the driver bench does."""
    df = REGISTRY["cosine_topk"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan, (
        "no partial WindowGroupLimit in cosine_topk's plan — the "
        "top-k shuffle is unbounded; check "
        "spark.sql.window.group.limit.threshold")
