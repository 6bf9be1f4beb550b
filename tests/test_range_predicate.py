"""The literal predicate builders in ``operators/range_query.py`` emit one SQL
string; they must select exactly the rows the per-range Column fold they
replace selected."""

import functools
import operator

import numpy as np
from pyspark.sql import functions as F

from hilbert_curve_spark.operators import range_query as rq

BIG = 3 << 31  # bounds past 2**31 must stay BIGINT literals


def _cover() -> list[tuple[int, int]]:
    ranges = []
    for i in range(80):
        lo = (BIG if i % 2 else 0) + i * 1000
        hi = lo if i % 3 == 0 else lo + 17 * (i % 7) + 1  # lo == hi singles
        ranges.append((lo, hi))
    return ranges


def _probe(spark, ranges):
    vals = {v for lo, hi in ranges for v in (lo - 1, lo, hi, hi + 1, (lo + hi) // 2)}
    vals |= {0, (1 << 31) - 1, 1 << 31, BIG + 999_999}
    return spark.createDataFrame([(v,) for v in sorted(vals)], "hilbert long")


def _ids(df) -> list[int]:
    return sorted(r.hilbert for r in df.collect())


def test_range_predicate_matches_column_fold(spark):
    ranges = _cover()
    assert len(ranges) >= 64
    assert any(lo == hi for lo, hi in ranges)
    assert any(hi > (1 << 31) for _, hi in ranges)
    df = _probe(spark, ranges)
    fold = functools.reduce(
        operator.or_, [F.col("hilbert").between(lo, hi) for lo, hi in ranges]
    )
    want = _ids(df.filter(fold))
    assert want, "the probe set must hit the cover"
    assert _ids(df.filter(rq.range_predicate(ranges))) == want
    # numpy bounds render as plain integer literals
    np_ranges = [(np.int64(lo), np.int64(hi)) for lo, hi in ranges]
    assert _ids(df.filter(rq.range_predicate(np_ranges))) == want


def test_empty_cover_selects_nothing(spark):
    df = _probe(spark, _cover())
    assert df.filter(rq.range_predicate([])).count() == 0



def test_grq_batch_empty_batch_keeps_schema(spark):
    geo = spark.createDataFrame([("d0", 3, 4, 37)], "doc_id string, x long, y long, hilbert long")
    out = rq.grq_batch(geo, [])
    assert out.count() == 0
    assert out.schema["box_id"].dataType.simpleString() == "int"
