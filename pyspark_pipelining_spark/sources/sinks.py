"""Sinks (SURVEY §2.1 S2/S5/S6): parquet tables, single-file CSV
reports, and the multi-sheet Excel workbook export.

Reference behaviors preserved:

* table sink = overwrite semantics (``saveAsTable(mode='overwrite')``,
  reference ``pdf_to_table_excel.py:13``) → parquet overwrite here;
* CSV report written as ONE file with a header (the QA daily report,
  ``dailyMain.py:33``) — ``coalesce(1)`` is correct because reports are
  small aggregates; never coalesce a fact table;
* errors rendered INTO the report instead of crashing the job
  (``dataExceptions.py:17-23``) via :func:`error_report`;
* Excel export is a driver-side convenience for small result frames
  (``pdf_to_table_excel.py:16-32``) — gated on openpyxl being present.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    format: str = "parquet",
) -> None:
    """Columnar table sink (``parquet`` default, ``orc`` for ORC-based
    warehouses); at scale pass ``partition_by`` (e.g. date) so
    downstream readers get partition pruning."""
    if format not in ("parquet", "orc"):
        raise ValueError(f"unsupported table format {format!r} (parquet|orc)")
    writer = df.write.mode(mode).format(format)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_csv_report(df: DataFrame, path: str) -> None:
    """Single-file CSV with header (small report frames only)."""
    tmp = path + "_tmp"
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    shutil.move(part, path)
    shutil.rmtree(tmp)


def error_report(spark: SparkSession, message: str, path: str, logger=None) -> None:
    """Render a failure into the report file (reference
    ``DataException.to_csv`` behavior) so schedulers see output, not a
    crash; also logged to the job channel when one is passed
    (reference ``dailyLogger`` usage in ``dailyQA.py``)."""
    if logger is not None:
        logger.error("error report -> %s: %s", path, message)
    spark.createDataFrame([(message,)], ["Error"]).coalesce(1).toPandas().to_csv(
        path, index=False, encoding="utf-8"
    )


def ingest_pandas(spark: SparkSession, pdf) -> DataFrame:
    """pandas→Spark ingest (SURVEY §2 S3; reference ``pdf_to_table``,
    ``metrics/helpers/pdf_to_table_excel.py:6-13``): sanitize column
    names (spaces→underscores, the reference's rename lambda) and
    convert.  For tiny driver-side result frames only — a 100 TB input
    enters through ``spark.read``, never through the driver."""
    pdf2 = pdf.rename(columns=lambda c: str(c).replace(" ", "_"))
    return spark.createDataFrame(pdf2)


def pandas_to_table(spark: SparkSession, table: str, pdf, mode: str = "overwrite") -> None:
    """Reference ``pdf_to_table`` end-to-end: ingest + managed-table
    save (``pdf_to_table_excel.py:13`` — ``saveAsTable`` overwrite)."""
    ingest_pandas(spark, pdf).write.mode(mode).saveAsTable(table)


def excel_writer_args(path: str, append: bool = True) -> dict:
    """Writer-mode decision for the Excel sink (pure — testable without
    openpyxl): append into an existing workbook, replacing same-named
    sheets, exactly the reference's load_workbook+writer.sheets dance
    (``pdf_to_table_excel.py:16-32``); fresh write otherwise."""
    if append and os.path.isfile(path):
        return {"engine": "openpyxl", "mode": "a", "if_sheet_exists": "replace"}
    return {"engine": "openpyxl", "mode": "w"}


def write_excel_sheets(frames: dict[str, DataFrame], path: str, append: bool = True) -> bool:
    """Multi-sheet Excel export of small result frames, appending to an
    existing workbook when one is present (reference semantics:
    repeated runs accumulate sheets in ``custom_metrics_<db>.xlsx``).
    Returns False (no-op) when no Excel engine is installed — the
    parquet/CSV sinks are the durable outputs; Excel is presentation
    only."""
    try:
        import openpyxl  # noqa: F401
    except ImportError:
        return False
    import pandas as pd

    with pd.ExcelWriter(path, **excel_writer_args(path, append)) as xl:
        for sheet, df in frames.items():
            df.toPandas().to_excel(xl, sheet_name=sheet[:31], index=False)
    return True
