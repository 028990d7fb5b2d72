"""Registry invariants: the driver-contract regressions caught in r2.

The external driver verifies only a bounded prefix (~50) of the
`queries()` export; these tests pin that every probe needing fresh
driver verification stays inside it, that no never-passable
(oracle=None) probe burns a verified slot, and that the rotation
mechanism keeps refreshing stale green probes.
"""

from __future__ import annotations

from data_and_analytics_etl_spark.queries import REGISTRY, oracle_sql, queries
from data_and_analytics_etl_spark.queries.registry import (DRIVER_WINDOW,
                                                           POOL_PRIORITY,
                                                           rotation_selected)

#: Probes that MUST hold a fresh driver-verified row this round.
#: Source of truth: registry.ROUND_TIERS (this set mirrors its <100 keys).
#: Round 13: 21 bench + 2 changed + 5 new = 28 fixed, 22 rotation.
MUST_BE_IN_WINDOW = {
    # bench tier (priority 10): every BENCH_QUERIES probe with an oracle
    # (bench is b1-b21 since r9).
    "q1_pricing_summary", "q3_shipping_priority", "q5_star_join",
    "q7_nation_volume", "q10_returned_revenue", "topk_per_group",
    "window_running_agg", "cosine_topk", "dedup_exact",
    "dedup_minhash_lsh_md5", "dedup_clusters", "sessionization",
    "corpus_span_duplication", "drift_ks_exact",
    "corpus_curation_pipeline", "graph_transitive_closure",
    "corpus_segment_dedup", "text_bigram_lm_score", "geo_grid_proximity",
    "stats_spearman_corr", "sketch_freq_heavy_hitters",
    # changed this round (priority 20): ann_ivf_grid's oracle went
    # dim-agnostic + its trainer was extracted (r12 ADVICE);
    # graph_weighted_shortest_paths gained the runtime weight guard.
    "ann_ivf_grid", "graph_weighted_shortest_paths",
    # r13-registered cohort (priority 30): pinned at registration,
    # capped at 5 (r11 rule).
    "ann_pq_grid", "ann_ivfpq_grid", "agg_string_agg_ordered",
    "stream_stream_full_outer", "graph_hyperball_nf",
}


def test_round_tiers_mirror_must_verify_set():
    from data_and_analytics_etl_spark.queries.registry import ROUND_TIERS
    assert set(ROUND_TIERS) == MUST_BE_IN_WINDOW


def test_every_round_tier_names_a_registered_probe():
    # ROUND_TIERS lookups fall back silently (registry.py:query eff_
    # priority), so a typo'd name would quietly drop its probe from the
    # fixed window instead of failing — make it fail here
    from data_and_analytics_etl_spark.queries.registry import ROUND_TIERS
    unknown = [n for n in ROUND_TIERS if n not in REGISTRY]
    assert not unknown, f"ROUND_TIERS names without a probe: {unknown}"


def test_window_holds_every_must_verify_probe():
    window = list(queries())[:DRIVER_WINDOW]
    missing = MUST_BE_IN_WINDOW - set(window)
    assert not missing, (
        f"probes pushed out of the driver's {DRIVER_WINDOW}-probe "
        f"verification window: {sorted(missing)} — rebalance priorities "
        "in their @query decorators")


def test_no_oracleless_probe_burns_a_window_slot():
    # oracle=None probes always score err=no_oracle; six of them wasted
    # window slots in r2. They must sort after every oracle-backed probe.
    window = list(queries())[:DRIVER_WINDOW]
    dead = [n for n in window if REGISTRY[n].oracle is None]
    assert not dead, f"oracle=None probes inside the window: {dead}"


def test_rotation_fills_remaining_window_with_pool_probes():
    window = list(queries())[:DRIVER_WINDOW]
    rotated = rotation_selected()
    # every rotation pick is a pool member with an oracle, inside window
    for n in rotated:
        assert REGISTRY[n].priority == POOL_PRIORITY
        assert REGISTRY[n].oracle is not None
        assert n in window
    # fixed tiers + rotation exactly fill the window
    fixed = [n for n in window if REGISTRY[n].priority < POOL_PRIORITY]
    assert len(fixed) + len(rotated) == DRIVER_WINDOW


def test_rotation_is_deterministic_and_advances_by_round():
    from data_and_analytics_etl_spark.queries import registry as reg
    first = rotation_selected()
    assert rotation_selected() == first  # stable within a round
    fixed = sum(1 for s in REGISTRY.values()
                if s.priority < reg.POOL_PRIORITY)
    if fixed >= DRIVER_WINDOW:
        # This round's fixed tiers fill the whole window (r6: 15 bench +
        # 7 changed + 28 never-verified = 50) — rotation is legitimately
        # empty and the full-registry FULLVERIFY sweep is the stale-green
        # defense. The advance property below is vacuous at k=0.
        assert first == set()
        return
    old = reg.VERIFY_ROUND
    try:
        reg.VERIFY_ROUND = old + 1
        nxt = rotation_selected()
    finally:
        reg.VERIFY_ROUND = old
    # consecutive rounds cover different slices (pool is larger than one
    # window's worth of slots, so slices can't coincide)
    assert nxt != first


def test_export_is_priority_sorted_and_complete():
    names = list(queries())
    assert len(names) == len(REGISTRY)
    rotated = rotation_selected()
    prios = [60 if n in rotated else REGISTRY[n].priority for n in names]
    assert prios == sorted(prios), "export must be effective-priority-ordered"


def test_every_oracle_belongs_to_a_query():
    qs, os_ = queries(), oracle_sql()
    assert set(os_) <= set(qs)
    # deterministic probes dominate: rows-only stays the exception
    assert len(os_) / len(qs) >= 0.85, (
        f"only {len(os_)}/{len(qs)} probes are oracle-checked")


def test_rows_only_probes_document_why():
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            assert spec.doc, f"{name}: rows-only probe without rationale"


def test_oracle_integer_casts():
    """No oracle may emit a HUGEINT / UHUGEINT / DECIMAL output column.

    DuckDB widens sum() over integers (plain or windowed) to HUGEINT and
    types bare numeric literals as DECIMAL; the driver hashes those
    differently from Spark's LONG/DOUBLE even when values are equal —
    r5's categorical_entropy_profile went driver-red on exactly this
    (uncast `sum(n) OVER (...)`, analytics.py). DESCRIBE binds the query
    and returns output types WITHOUT executing it, so this lint covers
    every syntactic form of the trap (windowed sums, CTE-carried sums,
    literals) rather than regexing SQL text.
    """
    from tests.oracle import duckdb_connection

    con = duckdb_connection("/root/testdata/sf0.001")
    offenders = []
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        desc = con.execute(f"DESCRIBE {spec.oracle}").fetchall()
        bad = [(c, t) for c, t, *_ in desc
               if "HUGEINT" in t.upper() or t.upper().startswith("DECIMAL")]
        if bad:
            offenders.append((name, bad))
    assert not offenders, (
        "oracles emitting HUGEINT/DECIMAL columns (add CAST(... AS "
        f"BIGINT/DOUBLE) at the emission site): {offenders}")


def test_local_harness_is_hugeint_strict():
    """An intentionally uncast HUGEINT must fail LOCALLY, not just in the
    driver. r5's lesson: the old canonicalizer coerced Decimal->float and
    Python's cross-type equality (150 == Decimal(150)) masked the skew."""
    from tests.oracle import canon_rows, duckdb_connection, fetch_oracle

    con = duckdb_connection("/root/testdata/sf0.001")
    rows, cols = fetch_oracle(
        con, "SELECT sum(x) AS s FROM (SELECT 1 AS x UNION ALL SELECT 2)")
    from decimal import Decimal
    assert rows == [(Decimal("3"),)], rows  # arrow keeps HUGEINT as Decimal
    spark_like = canon_rows([(3,)], ["s"])  # what Spark LONG would collect
    assert canon_rows(rows, cols) != spark_like
    # and the CAST repairs it
    rows2, cols2 = fetch_oracle(
        con, "SELECT CAST(sum(x) AS BIGINT) AS s "
             "FROM (SELECT 1 AS x UNION ALL SELECT 2)")
    assert canon_rows(rows2, cols2) == spark_like


def test_no_round_closes_with_unswept_probes():
    """r6 verdict finding #1 as CI: every registered probe must appear in
    the current round's committed FULLVERIFY artifact.

    13 probes shipped after r6's closing FULLVERIFY run and sat in no
    driver-side artifact (257 swept vs 270 registered). This test makes
    that impossible to repeat silently: once FULLVERIFY_r{N}.json exists
    for the current VERIFY_ROUND, registering a probe without re-running
    the sweep turns the suite red — so a round cannot close green with
    registered-but-unswept probes. Before the round's first sweep the
    test fails with an instruction (not a skip: a skip is exactly the
    masking this guards against).
    """
    import json
    import os

    from data_and_analytics_etl_spark.queries.registry import VERIFY_ROUND

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, f"FULLVERIFY_r{VERIFY_ROUND:02d}.json")
    assert os.path.exists(path), (
        f"no FULLVERIFY artifact for round {VERIFY_ROUND} — run "
        f"FULLVERIFY_OUT={path} python scripts/verify_probes.py before "
        "closing the round (r6 verdict: no round closes with "
        "registered-but-unswept probes)")
    with open(path) as f:
        art = json.load(f)
    swept = set(art["probes"])
    unswept = sorted(set(REGISTRY) - swept)
    assert not unswept, (
        f"probes registered after the round-{VERIFY_ROUND} FULLVERIFY "
        f"sweep: {unswept} — re-run scripts/verify_probes.py with "
        f"FULLVERIFY_OUT={path}")


def test_oracle_float_literals_parse_exactly():
    """DuckDB types an unquoted numeric literal as DECIMAL first, so a
    17+-significant-digit double repr can double-round on its way to
    DOUBLE — CAST(0.015009463529699916 AS DOUBLE) lands 1 ulp off the
    Python/Spark value (eval_rank_biased_overlap went red at sf0.001;
    the same latent bug sat in the NDCG and Benford weight tables at
    ranks whose multiplier happened to be zero at sf0.01). Fix is to
    quote the literal (string -> correctly-rounded float parse); this
    lint round-trips every unquoted float literal in every oracle
    through DuckDB and fails on any value that does not come back
    bit-identical.
    """
    import re

    import duckdb

    con = duckdb.connect()
    pat = re.compile(r"(?<!['\w])\d+\.\d+(?:[eE]-?\d+)?\b")
    bad = []
    for name, spec in REGISTRY.items():
        if not spec.oracle:
            continue
        for lit in set(pat.findall(spec.oracle)):
            py = float(lit)
            got = con.execute(f"SELECT CAST({lit} AS DOUBLE)").fetchone()[0]
            if got != py:
                bad.append((name, lit))
    assert not bad, (
        f"oracle float literals that mis-parse via DECIMAL: {bad} — "
        "quote them (CAST('<repr>' AS DOUBLE)) so DuckDB uses the "
        "correctly-rounded string->double parse")


def test_bench_probes_have_same_round_correctness_evidence():
    """A bench number never ships without same-round correctness
    evidence. Two accepted forms: the probe is pinned in this round's
    driver window (ROUND_TIERS), OR the round's FULLVERIFY artifact
    carries a green sf0.1 bench-section row (the r8 rule — the oracle
    at the bench's own scale, a stronger check than the driver's
    sf0.01 rows). Rows-only bench paths (b8's xxhash twin) are covered
    by their oracle-backed _md5 sibling, mirroring the bench-tier
    convention."""
    import json
    import os
    import sys

    from data_and_analytics_etl_spark.queries.registry import (
        ROUND_TIERS, VERIFY_ROUND)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from bench import BENCH_QUERIES
    oracle_names = {spec.name for spec in REGISTRY.values()
                    if spec.oracle is not None}
    bench_probes = {(p if p in oracle_names else p + "_md5")
                    for p in BENCH_QUERIES.values()} & oracle_names
    path = os.path.join(repo, f"FULLVERIFY_r{VERIFY_ROUND:02d}.json")
    if not os.path.exists(path):
        return  # the unswept-probes test already fails loudly pre-sweep
    with open(path) as f:
        art = json.load(f)
    sf01 = art.get("bench_sf0_1", {}).get("probes", {})
    missing = sorted(
        p for p in bench_probes
        if p not in ROUND_TIERS
        and sf01.get(p, {}).get("status") != "green")
    assert not missing, (
        f"bench probes with NO same-round correctness evidence (not "
        f"window-pinned, not green in the FULLVERIFY sf0.1 bench "
        f"section): {missing}")


def test_rotation_slot_floor():
    """r10 verdict task 2 set the floor at 10; the r11 verdict task 2
    raised it to 15 now that the backlog machine is empty (a
    ~280-probe green pool needs >=15 slots/round to refresh inside
    ~20 rounds). New-cohort registrations compete with this floor,
    which is the point: cap the cohort, feed the pool. Round 12
    actually leaves 23 slots (27 fixed); the floor pins the minimum,
    not the actual."""
    rotated = rotation_selected()
    assert len(rotated) >= 15, (
        f"only {len(rotated)} rotation slots this round — the fixed "
        "tiers (bench + changed + new cohort) crowd the pool below "
        "the 15-slot floor; shrink the new-probe cohort or defer it "
        "to the next round's backlog")


def test_every_probe_module_is_imported_by_the_package():
    """A probe module that queries/__init__.py does not import registers
    nothing: its probes and oracles never reach queries(), FULLVERIFY or
    the driver, while its own tests keep the code looking alive. Every
    module except the registry machinery must be imported."""
    import ast
    import os

    import data_and_analytics_etl_spark.queries as pkg

    pkg_dir = os.path.dirname(pkg.__file__)
    with open(os.path.join(pkg_dir, "__init__.py")) as f:
        tree = ast.parse(f.read())
    imported = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 1:
            if node.module:
                imported.add(node.module.split(".")[0])
            else:
                imported.update(a.name for a in node.names)
    modules = {f[:-3] for f in os.listdir(pkg_dir)
               if f.endswith(".py") and f != "__init__.py"}
    unwired = sorted(modules - imported - {"registry", "fingerprint"})
    assert not unwired, (
        f"probe modules never imported by queries/__init__.py: {unwired} "
        "— register them there or delete them")
