"""One row-stage helper for the Arrow batch protocol of `mapInPandas`.

Every per-row stage in the engine (row functions over payload bytes,
synthetic corpus generators, eval scorers) has the same shape: select
the input columns, call a pure Python row function per input row, and
hand Spark one `pd.DataFrame` per Arrow batch whose columns are the
output schema's names.  `map_rows` writes that protocol once, so the
batch boundary is one layer instead of one hand-written closure per
stage.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def map_rows(df: DataFrame, row_fn: Callable[..., Iterable], schema: str,
             *cols: str) -> DataFrame:
    """`df.select(*cols)` -> `row_fn(*values)` per input row -> `schema`.

    `row_fn` returns an iterable of output rows (empty, one, or many:
    1:0, 1:1 and 1:N stages all fit); the rows of every input row in an
    Arrow batch are concatenated into that batch's output frame.  Rows
    are dicts (a missing key is null, an extra key is dropped) or tuples
    in schema order.  Column names are parsed from the DDL `schema` once,
    here on the driver; the stage stays one MapInPandas plan node."""
    names = StructType.fromDDL(schema).names

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list = []
            for values in zip(*(pdf[c] for c in cols)):
                rows.extend(row_fn(*values))
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(run, schema=schema)
