"""Line-oriented text source/sink (S1/S5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def write_kv_text(df: DataFrame, path: str, key_col: str, value_col, sep: str = "\t") -> None:
    """K<TAB>V text sink — the reference's FileOutputFormat shape
    (WordCount.java:58). One concat projection, written as text."""
    out = df.select(
        F.concat_ws(sep, F.col(key_col).cast("string"),
                    F.col(value_col).cast("string")).alias("value")
    )
    out.write.mode("overwrite").text(path)
