"""util.member_pairs against the blocked self-join it replaces.

The reference is the plain ``a.key == b.key & a.m < b.m`` self-join over
the distinct rows, with the cap counted as distinct non-null members per
key; the helper must give the same (key, a, b) set, each pair once.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from palladian_spark.operators.util import member_pairs

CAP = 3

_ROWS = [
    # null key, null member and a one-member group pair nothing
    (None, "x", 1),
    (None, "y", 2),
    ("k0", None, 3),
    ("k0", "solo", 4),
    # exactly CAP members, one of them duplicated (counts once)
    ("k1", "a", 5),
    ("k1", "b", 6),
    ("k1", "c", 7),
    ("k1", "c", 7),
    # CAP + 1 members: dropped by the cap
    ("k2", "a", 8),
    ("k2", "b", 9),
    ("k2", "c", 10),
    ("k2", "d", 11),
    # two payloads for one member: struct members of one name never pair
    ("k3", "p", 12),
    ("k3", "p", 13),
    ("k3", "q", 14),
    ("k3", None, 15),
]


@pytest.fixture(scope="module")
def rows(spark):
    return spark.createDataFrame(_ROWS, "k string, m string, v long").coalesce(1)


def _self_join(df, cols, max_members=None):
    """The reference: distinct rows, capped keys, then the self-join."""
    d = df.select("k", *cols).distinct()
    if max_members is not None:
        ok = (
            d.where(F.col("m").isNotNull())
            .groupBy("k")
            .agg(F.countDistinct("m").alias("_n"))
            .where(F.col("_n") <= max_members)
        )
        d = d.join(ok.select("k"), "k")
    x, y = d.alias("x"), d.alias("y")
    return {
        tuple(r)
        for r in x.join(y, (F.col("x.k") == F.col("y.k")) & (F.col("x.m") < F.col("y.m")))
        .select("x.k", *[F.col(f"x.{c}") for c in cols], *[F.col(f"y.{c}") for c in cols])
        .collect()
    }


def _flat(rows, struct):
    side = tuple if struct else (lambda v: (v,))
    return [(r["k"], *side(r["a"]), *side(r["b"])) for r in rows]


@pytest.mark.parametrize("max_members", [None, CAP])
def test_scalar_members_match_self_join(rows, max_members):
    got = _flat(member_pairs(rows, ["k"], "m", max_members).collect(), struct=False)
    assert len(got) == len(set(got))
    assert set(got) == _self_join(rows, ["m"], max_members)
    # the cap keeps a group of exactly CAP members and drops CAP + 1
    keys = {g[0] for g in got}
    assert "k1" in keys and ("k2" in keys) == (max_members is None)
    assert None not in keys and "k0" not in keys


@pytest.mark.parametrize("max_members", [None, CAP])
def test_struct_members_carry_payload(rows, max_members):
    out = member_pairs(rows, ["k"], ["m", "v"], max_members)
    assert out.columns == ["k", "a", "b"]
    got = _flat(out.collect(), struct=True)
    assert len(got) == len(set(got))
    assert set(got) == _self_join(rows, ["m", "v"], max_members)
    assert {g for g in got if g[0] == "k3"} == {("k3", "p", 12, "q", 14), ("k3", "p", 13, "q", 14)}


def test_multi_column_key(rows):
    two = rows.withColumn("k2", F.lit(1))
    got = {(r["k"], r["k2"], r["a"], r["b"]) for r in member_pairs(two, ["k", "k2"], "m").collect()}
    assert got == {(k, 1, a, b) for k, a, b in _self_join(rows, ["m"])}
