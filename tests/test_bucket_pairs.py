"""``bucket_pairs`` is the shared pair generator behind the exact
Jaccard/containment paths, LSH candidates and co-purchase pairs. Its
contract is the ``d1 < d2`` self-join it replaced: the same pair
multiset for any ids and keys, nulls and repeated ids included. The
plan checks pin the two kernel rewrites: the shingle tokenizer runs
once per document, and pair emission uses no interpreted lambda."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import PROP_EXAMPLES

from relational_query_engine_sql_spark.datapipe.dedup import (
    bucket_pairs,
    shingles,
)


def _self_join(rows, keys):
    a = rows.select(*keys, rows["id"].alias("d1"))
    b = rows.select(*keys, rows["id"].alias("d2"))
    return a.join(b, keys).filter("d1 < d2").select("d1", "d2")


def _multiset(df):
    return Counter(map(tuple, df.collect()))


def _assert_matches_self_join(spark, data, schema, keys):
    rows = spark.createDataFrame(data, schema)
    got = _multiset(bucket_pairs(rows, keys, "id"))
    assert got == _multiset(_self_join(rows, keys))
    return got


# One bucket of each kind: several distinct ids, an id repeated within
# a bucket, null ids, a null key, and a size-1 bucket.
_CASES = [
    (1, 1), (1, 5), (1, 3), (1, 5), (1, 9),
    (2, 4), (2, None), (2, 7),
    (3, 2),
    (None, 1), (None, 2),
    (4, None), (4, None),
]


@pytest.mark.parametrize("id_type", ["int", "string"])
@pytest.mark.parametrize("two_keys", [False, True])
def test_bucket_pairs_matches_self_join_cases(spark, id_type, two_keys):
    def conv(i):
        return f"id{i}" if id_type == "string" and i is not None else i

    if two_keys:
        # split bucket 1 across a second key column, and give id 9 a
        # null second key
        k2 = {9: None, 3: "y"}
        data = [(k, k2.get(i, "x"), conv(i)) for k, i in _CASES]
        schema = f"k int, k2 string, id {id_type}"
        keys = ["k", "k2"]
    else:
        data = [(k, conv(i)) for k, i in _CASES]
        schema = f"k int, id {id_type}"
        keys = ["k"]
    got = _assert_matches_self_join(spark, data, schema, keys)
    # non-vacuous: the repeated id 5 pairs with 9 twice (one-column
    # key); no d1 = d2 pair and no pair from the null-key bucket
    assert got
    assert all(d1 != d2 for d1, d2 in got)
    if not two_keys:
        assert got[(conv(5), conv(9))] == 2
        assert (conv(1), conv(2)) not in got


_row = st.tuples(
    st.one_of(st.none(), st.integers(0, 3)),
    st.one_of(st.none(), st.sampled_from(["a", "b"])),
    st.one_of(st.none(), st.integers(0, 6)),
)


@given(
    data=st.lists(_row, max_size=25),
    id_type=st.sampled_from(["int", "string"]),
    two_keys=st.booleans(),
)
@settings(
    max_examples=PROP_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bucket_pairs_matches_self_join_property(
    spark, data, id_type, two_keys
):
    if id_type == "string":
        data = [
            (k, k2, None if i is None else str(i)) for k, k2, i in data
        ]
    _assert_matches_self_join(
        spark,
        data,
        f"k int, k2 string, id {id_type}",
        ["k", "k2"] if two_keys else ["k"],
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    return spark.createDataFrame(
        [(1, "a b c d e"), (2, " a b  c "), (3, "x y")],
        "doc_id int, text string",
    )


def test_shingles_split_once_outside_lambda(spark):
    plan = _plan(shingles(_docs(spark)))
    assert plan.count("split(") == 1, plan
    assert not [
        ln for ln in plan.splitlines()
        if "split(" in ln and "lambdafunction" in ln
    ], plan


def test_bucket_pairs_plan_has_no_lambda(spark):
    sh = shingles(_docs(spark)).localCheckpoint(eager=True)
    plan = _plan(bucket_pairs(sh, ["sh"], "id"))
    assert "lambdafunction" not in plan, plan
    assert plan.count("Exchange") == 1, plan
