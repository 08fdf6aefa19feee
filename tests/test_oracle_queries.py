"""The scalar-tier queries (``queries.tier_batches``) and the dedup
verify, each run on Spark and against its DuckDB oracle
(``__spark_entry__.oracle_sql()``) at sf0.001: the column names, the
row count and ``tools/check_oracle.py``'s canonical row hash must
agree, as that tool checks every query at larger scales. The 50
oracle SQL strings themselves are pinned by digest.
"""

from __future__ import annotations

import hashlib
import json

import duckdb
import pytest

import __spark_entry__ as E
from tools.check_oracle import TABLES, _canon, _hash_rows

SF = "/root/testdata/sf0.001"

QUERIES = ["date_standard", "date_3digit_year", "year_repair",
           "date_month_validation", "fuzzy_canonical",
           "enum_place_correction", "dedup_verified"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF}/{t}.parquet')")
    yield con
    con.close()


def _lines(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in idx) for r in rows)


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, name):
    sdf = E.queries()[name](spark, SF)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(E.oracle_sql()[name])
    d_cols = [c[0].lower() for c in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows) > 0
    assert _hash_rows(s_cols, s_rows) == _hash_rows(d_cols, d_rows), \
        next(((a, b) for a, b in zip(_lines(s_cols, s_rows),
                                     _lines(d_cols, d_rows)) if a != b),
             None)


# sha256 of json.dumps(oracle_sql(), sort_keys=True): the oracle is the
# fixed reference every query is checked against, so its text never
# changes with the code that builds the Spark side.
ORACLE_SQL_SHA256 = (
    "cdbfc8561b9a22f99d1bafc6982f5904e0fea389f93894668a69dfbb345791ba")


def test_oracle_sql_is_unchanged():
    sql = E.oracle_sql()
    assert len(sql) == 50
    digest = hashlib.sha256(
        json.dumps(sql, sort_keys=True).encode()).hexdigest()
    assert digest == ORACLE_SQL_SHA256
