"""schema.sql_in — one parsed `IN` expression in place of Column.isin:
the empty list, quoting, rejected value types, and the vector store's
tombstone filter. Tier-1 cost: ~7 s, most of it one small vector store."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from connectors_spark.schema import sql_in


def test_empty_list_is_false_like_isin(spark):
    df = spark.createDataFrame([("a",), ("b",)], "t string")
    assert df.filter(sql_in("t", [])).count() == 0
    assert df.filter(~sql_in("t", [])).count() == 2
    assert df.filter(F.col("t").isin([])).count() == 0


def test_quotes_backslashes_and_ints(spark):
    vals = ["it's", "back\\slash", "both\\'", "plain", "it"]
    df = spark.createDataFrame([(v, i) for i, v in enumerate(vals)],
                               "t string, i long")
    got = {r.t for r in df.filter(sql_in("t", vals[:3])).collect()}
    assert got == set(vals[:3])
    ints = [1, np.int64(3), 2 ** 40]
    assert sorted(r.i for r in df.filter(sql_in("i", ints)).collect()) \
        == [1, 3]


@pytest.mark.parametrize("bad", [1.5, 2.0, None, True, b"x"])
def test_non_str_int_values_raise(bad):
    with pytest.raises(TypeError):
        sql_in("i", [1, bad])


def test_vector_store_tombstones(spark, tmp_path):
    """read_live with a tombstone list filters exactly the listed ids,
    as the Column.isin filter it replaced did."""
    from connectors_spark.operators.vector_store import (
        delete_vectors, init_vector_store, read_live)

    rows = [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(40)]
    store = str(tmp_path / "vs")
    init_vector_store(spark, store, spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"), centroid_mod=10)
    dead = list(range(0, 40, 3)) + [1000]
    delete_vectors(store, dead)
    live = {r.vec_id: r.embedding for r in read_live(spark, store).collect()}
    assert live == {i: e for i, e in rows if i not in set(dead)}
