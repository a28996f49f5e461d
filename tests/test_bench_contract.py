"""Guard on the registry contract: every query carries a DuckDB oracle and
every oracle belongs to a query."""


def test_every_query_has_oracle():
    import __spark_entry__ as E

    assert E.oracle_sql().keys() == E.queries().keys()
