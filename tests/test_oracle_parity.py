"""Driver-contract parity: every ``oracle_sql()`` entry must match its
Spark query on the sf0.001 corpus (row count, sorted column names,
values) — the same comparison the driver harness performs at sf0.01.

Uses sf0.001 to keep the suite fast; ``tools/check_oracle.py`` runs the
identical check at sf0.01; this suite reuses its table list and its
dtype-strict ``compare``.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

SF_DIR = "/root/testdata/sf0.001"
# corpus-dependent oracles (DSIR LM literals) must refit on the SAME
# corpus this suite runs against — set before oracle_sql() is called
os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR

import __spark_entry__ as entrymod  # noqa: E402
from check_oracle import TABLES, compare  # noqa: E402

# built once per module: oracle_sql() refits the DSIR LMs on every call
QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    ddf = duck.execute(ORACLES[name]).fetchdf()
    problems = compare(name, sdf, ddf)
    assert not problems, problems


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLES)


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["doc_id", "text", "lang", "n_tokens"]
