"""External-table preparation (SURVEY.md §2.1 S3/S4).

Reference recipe (src/data_extractor.py:95-116):
1. read all-string CSV;
2. add 1-based ``file_row_number`` in file order;
3. cast numeric key columns (cast_ext_exp, expression_builder.py:50-64);
4. rename *every* column with the ``ext_`` prefix;
5. duplicate each join-key column under ``exd_`` (repeat_key_exp,
   expression_builder.py:66-69) so key values survive the join — Polars drops
   right-side key columns on join; Spark doesn't, but downstream buckets and
   outputs carry the ``exd_`` columns, so we reproduce them as real columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.config import ReconConfig
from mongo_polars_reconciliation_spark.functions.indexing import with_file_row_number


def prepare_external(
    df: DataFrame,
    cfg: ReconConfig,
    order_by: list[str] | None = None,
    row_number_col: str | None = None,
) -> DataFrame:
    """Turn a raw external frame into the engine's prefixed B-side frame.

    ``order_by``: explicit total order standing in for "file order"
    (SURVEY.md §2.4 determinism contract). Pass ``row_number_col`` instead if
    the frame already carries a precomputed index.
    """
    if row_number_col is not None:
        df = df.withColumnRenamed(row_number_col, cfg.row_number_col)
        if cfg.row_number_col not in df.columns:
            raise ValueError(f"{row_number_col} not found")
        df = df.withColumn(cfg.row_number_col, F.col(cfg.row_number_col).cast("long"))
    else:
        if not order_by:
            raise ValueError("need order_by or row_number_col")
        df = with_file_row_number(df, order_by, cfg.row_number_col)

    # numeric alignment casts on pre-prefix names (cast before rename, like
    # the reference: with_columns(cast) → rename → with_columns(exd copies))
    for col, typ in cfg.cast_map().items():
        df = df.withColumn(col, F.col(col).cast(typ))

    # ext_ prefix on every column, then exd_ copies of the key columns
    df = df.select(
        *[F.col(c).alias(cfg.ext_prefix + c) for c in df.columns],
    )
    for k in cfg.keys:
        df = df.withColumn(
            cfg.key_copy_prefix + k.ext_col, F.col(cfg.ext_prefix + k.ext_col)
        )
    return df
