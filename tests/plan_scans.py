"""Read the file scans of an executed plan: which scans a query runs and
which partition filters each one carries."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_SCAN = re.compile(r"FileScan parquet \[([^\]]*)\].*?PartitionFilters: \[([^\]]*)")


def partition_filters(df: DataFrame, first_col: str) -> dict[str, str]:
    """Executed-plan parquet scans whose column list starts with
    ``first_col`` → their PartitionFilters text. Keyed by the column
    list with its expression ids, so the initial and final copies of
    one adaptive-plan scan count once and two scans of different trees
    count twice."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        cols: pf
        for cols, pf in _SCAN.findall(plan)
        if cols.startswith(f"{first_col}#")
    }
