"""The dedup builders emit parsed SQL strings (``F.expr``); identifiers in
them must bind as one column whatever characters the name holds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xarray_beam_spark.operators.dedup import _minhash_aggs


@pytest.mark.parametrize("col", ["sh ing.le", "odd`name x.y"])
def test_minhash_aggs_quote_the_column_name(spark, col):
    df = spark.createDataFrame(
        [(1, "a b"), (1, "b c"), (2, "c d"), (2, "a b")], ["doc_id", col]
    )
    quoted = "`" + col.replace("`", "``") + "`"
    want = df.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.col(quoted), F.lit(i))).alias(f"mh{i}") for i in range(4)]
    )
    got = df.groupBy("doc_id").agg(*_minhash_aggs(4, col=col))
    assert got.orderBy("doc_id").collect() == want.orderBy("doc_id").collect()
