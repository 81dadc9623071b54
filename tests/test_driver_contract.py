"""The driver contract (__spark_entry__.py) as a pytest — the suite
itself now exercises exactly what the external driver consumes, so a
wiring regression (entry crash, missing oracle, window name typo)
fails here before the driver ever sees it."""

from __future__ import annotations


def test_entry_runs_and_returns_stable_schema(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    # flagship contract: a multi-column grain with stable names
    assert len(df.columns) >= 2
    assert len(set(df.columns)) == len(df.columns)


def test_queries_and_oracles_are_keyed_identically():
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    assert set(q) == set(o)
    assert len(q) >= 236
    # every oracle resolves to a non-empty SQL string
    for name, sql in o.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_window_priority_names_all_registered():
    # a typo'd name in _WINDOW_PRIORITY silently burns a driver slot and a
    # duplicate silently shrinks the window; the list fills the driver's
    # 50-row window exactly and leads queries()
    from xero_api_etl_utilities_spark.plans import catalog

    registered = list(catalog.queries())
    unknown = [n for n in catalog._WINDOW_PRIORITY if n not in registered]
    assert unknown == [], f"priority names not registered: {unknown}"
    assert len(catalog._WINDOW_PRIORITY) == 50
    assert len(set(catalog._WINDOW_PRIORITY)) == 50, "duplicate priority names"
    assert registered[:50] == catalog._WINDOW_PRIORITY
