"""block_scan parity: the two-pass exclusive running sum equals a pandas
``cumsum`` over the same rows, at any block width."""

from __future__ import annotations

import pandas as pd
import pytest
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F

from big_data_validator_spark.operators import block_scan

# unique, partly negative order keys (floor blocking below zero); two
# groups interleaved in key order; one sum column also goes negative
ROWS = [
    ("x" if k % 3 else "y", k, (k * 7) % 13, (k * k) % 5 - 2)
    for k in range(-40, 41)
]
SCHEMA = "g string, k long, a long, b long"


def _scan(spark, width, parts):
    df = spark.createDataFrame(ROWS, SCHEMA)
    blk = F.floor(F.col("k") / F.lit(float(width))).cast("long")
    return block_scan(df, blk, ["k"], ["a", "b"], parts)


def _sorted(pdf):
    return pdf.sort_values(["g", "k"]).reset_index(drop=True)


@pytest.mark.parametrize("parts", [[], ["g"]])
@pytest.mark.parametrize("width", [1, 7, 1 << 20])
def test_block_scan_matches_pandas_cumsum(spark, width, parts):
    got = _sorted(_scan(spark, width, parts).toPandas())
    want = pd.DataFrame(ROWS, columns=["g", "k", "a", "b"])
    want = want.sort_values([*parts, "k"])
    for c in ("a", "b"):
        run = want.groupby(parts)[c].cumsum() if parts else want[c].cumsum()
        want[f"{c}_before"] = run - want[c]
    assert_frame_equal(got, _sorted(want), check_dtype=False)


@pytest.mark.parametrize("parts", [[], ["g"]])
def test_block_scan_rows_identical_across_widths(spark, parts):
    runs = [
        sorted(_scan(spark, w, parts).collect()) for w in (1, 7, 1 << 20)
    ]
    assert runs[0] == runs[1] == runs[2]


def test_block_scan_empty_input(spark):
    df = spark.createDataFrame([], SCHEMA)
    out = block_scan(df, F.col("k"), ["k"], ["a", "b"], ["g"])
    assert out.columns == ["g", "k", "a", "b", "a_before", "b_before"]
    assert out.collect() == []
