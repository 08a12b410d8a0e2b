"""Column-level table reconstruction (the Spark surface of core.tables).

One document = one row carrying its structure-model output (tag stream +
cell boxes) and its OCR results; reconstruction is a pure per-row map
(reference: per-task ``PaddleStructure::rebuild_table``,
``Source/Paddle/Structure.cpp:209-242``) — Arrow-batched, no shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..core.tables import rebuild_table


def rebuild_tables(df: DataFrame, *, tags_col: str = "tags",
                   cells_col: str = "cells", ocr_col: str = "ocr",
                   out_col: str = "table_html") -> DataFrame:
    """``tags array<string>``, ``cells array<array<double>>`` (xyxy),
    ``ocr array<struct<box array<double>, text string>>`` → spliced HTML
    per row; NULL inputs yield an empty string."""

    @pandas_udf(StringType())
    def rebuild(tags: pd.Series, cells: pd.Series,
                ocr: pd.Series) -> pd.Series:
        out = []
        for t, c, o in zip(tags, cells, ocr):
            if t is None:
                out.append("")
                continue
            cell_boxes = [tuple(b) for b in (c if c is not None else [])]
            ocr_pairs = [(tuple(r["box"]), r["text"])
                         for r in (o if o is not None else [])]
            out.append(rebuild_table(list(t), cell_boxes, ocr_pairs))
        return pd.Series(out)

    return df.withColumn(out_col, rebuild(F.col(tags_col), F.col(cells_col),
                                          F.col(ocr_col)))

