"""Oracle equivalence for every registered probe query (the t2 mirror).

Fast lane (r7 verdict task 8): a probe whose content FINGERPRINT
(defining module + package-internal import closure + oracle text —
queries/fingerprint.py) matches the committed green record in
VERIFY_CACHE.json for this sf_dir is textually identical to the
version that earned the record, so it skips with an explicit marker.
Any edit to any file the probe can reach re-runs it. FULL_ORACLE_SWEEP=1
disables the cache (the round-close invocation re-earns every record);
cache records are written only by scripts/verify_probes.py after a
green driver-mimic comparison, never by this suite.
"""

from __future__ import annotations

import os

import pytest

from data_and_analytics_etl_spark.queries import REGISTRY
from data_and_analytics_etl_spark.queries.fingerprint import (
    cached_green, load_cache, probe_fingerprint)

from .oracle import compare

_CACHE = load_cache()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, sf_dir, name):
    if os.environ.get("FULL_ORACLE_SWEEP") != "1":
        fp = probe_fingerprint(REGISTRY[name])
        if cached_green(_CACHE, sf_dir, name, fp):
            pytest.skip(f"cached green at {sf_dir} (fingerprint {fp}); "
                        "FULL_ORACLE_SWEEP=1 to force")
    compare(spark, REGISTRY[name], sf_dir)


class TestHostileSessionConf:
    """The external driver owns the SparkSession and may carry any conf;
    the registry wrapper (queries/registry.py:query) must re-apply the
    engine profile so probe results are identical anyway. These tests
    poison the session (non-UTC zone, ANSI on, Arrow off), run
    timestamp- and float-sensitive probes, and compare against the
    clean-session result."""

    POISON = {"spark.sql.session.timeZone": "America/New_York",
              "spark.sql.ansi.enabled": "true"}
    #: timestamp rendering, order statistics, exact money, streaming-
    #: adjacent sessionization — the probes most likely to drift
    PROBES = ["sessionization", "group_percentiles_exact",
              "q1_pricing_summary", "drift_ks_exact",
              "join_point_in_time_scd2"]

    def _run(self, spark, sf_dir, name):
        from data_and_analytics_etl_spark.queries import REGISTRY
        df = REGISTRY[name].fn(spark, sf_dir)
        return sorted(tuple(str(v) for v in r) for r in df.collect())

    def test_probe_results_survive_poisoned_conf(self, spark, sf_dir):
        clean = {n: self._run(spark, sf_dir, n) for n in self.PROBES}
        saved = {k: spark.conf.get(k) for k in self.POISON}
        try:
            for k, v in self.POISON.items():
                spark.conf.set(k, v)
            for n in self.PROBES:
                assert self._run(spark, sf_dir, n) == clean[n], (
                    f"{n}: result drifted under hostile session conf")
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    def test_refused_conf_is_reported_and_the_rest_still_set(self):
        """A host harness may lock a runtime key. apply_runtime_conf
        must name the refused key in a warning and still set every
        other key of the profile."""
        from data_and_analytics_etl_spark.session import (
            RUNTIME_CONF, apply_runtime_conf)
        refused = "spark.sql.shuffle.partitions"

        class LockedConf:
            def __init__(self):
                self.values = {}

            def set(self, key, value):
                if key == refused:
                    raise RuntimeError("locked by the host harness")
                self.values[key] = value

        class StubSession:
            conf = LockedConf()

        session = StubSession()
        with pytest.warns(RuntimeWarning, match=refused) as caught:
            apply_runtime_conf(session)
        assert len(caught) == 1
        assert "locked by the host harness" in str(caught[0].message)
        assert session.conf.values == {
            k: v for k, v in RUNTIME_CONF.items() if k != refused}
