"""S7 cascade: deleting a user walks the reference's FK graph
(sql/schema.sql ON DELETE CASCADE) explicitly — friend (two FKs),
request, stocklist → {stockin, review, shared_with}, portfolio →
{holdings, transactions}."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from relational_query_engine_sql_spark import fixtures
from relational_query_engine_sql_spark.operators.mutation import (
    ParquetTable,
    cascade_delete,
)
from relational_query_engine_sql_spark.schemas import DOMAIN_KEYS, DOMAIN_SCHEMAS
from relational_query_engine_sql_spark.sources import local_frame


@pytest.fixture()
def domain_tables(spark, tmp_path):
    names = [
        "users", "friend", "request", "stocklist", "stockin", "review",
        "stocklist_shared_with", "portfolio", "holdings", "transactions",
    ]
    tables = {}
    for n in names:
        t = ParquetTable(
            spark, str(tmp_path / n), DOMAIN_SCHEMAS[n], keys=DOMAIN_KEYS[n]
        )
        t.init(fixtures.make_domain_table(spark, n))
        tables[n] = t
    return tables


def _user_cascade_spec(t):
    list_children = [
        (t["stockin"], [{"listid": "listid"}], []),
        (t["review"], [{"listid": "listid"}], []),
        (t["stocklist_shared_with"], [{"listid": "listid"}], []),
    ]
    portfolio_children = [
        (t["holdings"], [{"portfolioid": "portfolioid"}], []),
        (t["transactions"], [{"portfolioid": "portfolioid"}], []),
    ]
    return [
        (t["friend"], [{"userid1": "userid"}, {"userid2": "userid"}], []),
        (t["request"], [{"fromuserid": "userid"}, {"touserid": "userid"}], []),
        (t["stocklist"], [{"ownerid": "userid"}], list_children),
        (t["portfolio"], [{"userid": "userid"}], portfolio_children),
        # direct shares granted TO the user (listid,userid PK)
        (t["stocklist_shared_with"], [{"userid": "userid"}], []),
    ]


def test_user_delete_cascades_transitively(spark, domain_tables):
    t = domain_tables
    uid = 2  # owns stocklist 1 and portfolio 2 in the fixtures
    doomed_lists = {
        r["listid"]
        for r in t["stocklist"].read().filter(F.col("ownerid") == uid).collect()
    }
    doomed_pids = {
        r["portfolioid"]
        for r in t["portfolio"].read().filter(F.col("userid") == uid).collect()
    }
    assert doomed_lists and doomed_pids, "fixture must give user 1 data"
    before_stockin = t["stockin"].read().count()
    in_doomed = (
        t["stockin"].read().filter(F.col("listid").isin(doomed_lists)).count()
    )

    cascade_delete(
        t["users"], F.col("userid") == uid, _user_cascade_spec(t)
    )

    assert t["users"].read().filter(F.col("userid") == uid).count() == 0
    assert (
        t["friend"]
        .read()
        .filter((F.col("userid1") == uid) | (F.col("userid2") == uid))
        .count()
        == 0
    )
    assert (
        t["request"]
        .read()
        .filter((F.col("fromuserid") == uid) | (F.col("touserid") == uid))
        .count()
        == 0
    )
    assert t["stocklist"].read().filter(F.col("ownerid") == uid).count() == 0
    # grandchildren: rows of the doomed lists are gone, others intact
    assert (
        t["stockin"].read().filter(F.col("listid").isin(doomed_lists)).count()
        == 0
    )
    assert t["stockin"].read().count() == before_stockin - in_doomed
    assert (
        t["review"].read().filter(F.col("listid").isin(doomed_lists)).count()
        == 0
    )
    assert (
        t["holdings"]
        .read()
        .filter(F.col("portfolioid").isin(doomed_pids))
        .count()
        == 0
    )
    assert (
        t["transactions"]
        .read()
        .filter(F.col("portfolioid").isin(doomed_pids))
        .count()
        == 0
    )
    # unrelated users untouched
    assert t["users"].read().count() > 0


def test_cascade_noop_when_condition_matches_nothing(spark, domain_tables):
    t = domain_tables
    before = {n: tb.read().count() for n, tb in t.items()}
    cascade_delete(
        t["users"], F.col("userid") == 99999, _user_cascade_spec(t)
    )
    after = {n: tb.read().count() for n, tb in t.items()}
    assert before == after


def test_row_hit_by_two_fk_maps_is_deleted_once(spark, tmp_path):
    """A child row whose two FKs both point at doomed parents is
    deleted exactly once, and its own children with it."""

    def table(name, ddl, keys, rows):
        schema = T.StructType.fromDDL(ddl)
        t = ParquetTable(spark, str(tmp_path / name), schema, keys=keys)
        t.init(local_frame(spark, rows, schema))
        return t

    users = table("users", "userid INT", ["userid"], [(1,), (2,), (3,)])
    link = table(
        "link", "linkid INT, a INT, b INT", ["linkid"],
        [(10, 1, 2), (11, 2, 3), (12, 3, 3)],
    )
    note = table(
        "note", "noteid INT, linkid INT", ["noteid"],
        [(100, 10), (101, 10), (102, 11), (103, 12)],
    )
    spec = [(link, [{"a": "userid"}, {"b": "userid"}], [
        (note, [{"linkid": "linkid"}], []),
    ])]

    cascade_delete(users, F.col("userid").isin(1, 2), spec)

    assert sorted(r.userid for r in users.read().collect()) == [3]
    assert sorted(tuple(r) for r in link.read().collect()) == [(12, 3, 3)]
    assert sorted(tuple(r) for r in note.read().collect()) == [(103, 12)]
