"""The query registry's contract, pinned as a digest: the same entry names,
each with a byte-identical DuckDB oracle SQL string. A refactor of the
Spark-side builders may move code between modules but must leave this
digest as it is; only the iteration order of `QUERIES` is free."""

import hashlib
import json

N_ENTRIES = 102
DIGEST = "d6dad95cdc7d865cda7449fe316735be45f9c6c95166af428153fb5e9ac741a4"


def test_registry_names_and_oracle_sql_unchanged():
    from mit_spark.queries import QUERIES

    pairs = sorted((name, sql) for name, (_builder, sql) in QUERIES.items())
    assert len(pairs) == N_ENTRIES
    assert hashlib.sha256(json.dumps(pairs).encode()).hexdigest() == DIGEST
