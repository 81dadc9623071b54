"""Structural guarantees over the catalog itself — the meta-checks
that keep the per-round contract honest:

* every registered query has an oracle (zero rows-only entries);
* bench times every registered query exactly once, either at the run
  sf or as a bounded-sf baseline, so a new registration can never
  silently skip the bench.
"""

from __future__ import annotations


def test_every_query_is_benched_or_documented():
    import bench
    from xero_api_etl_utilities_spark.plans import catalog

    qs = list(catalog.queries())
    bounded = list(bench.BOUNDED_SF)
    assert set(bounded) <= set(qs), f"unknown bounded: {set(bounded) - set(qs)}"
    # each registered name exactly once: at the run sf or bounded
    assert sorted(bench.timed_names(qs) + bounded) == sorted(qs)


def test_every_query_has_an_oracle():
    from xero_api_etl_utilities_spark.plans import catalog

    qs = set(catalog.queries())
    os_ = set(catalog.oracle_sql())
    assert qs == os_, f"rows-only entries: {sorted(qs - os_)}"
