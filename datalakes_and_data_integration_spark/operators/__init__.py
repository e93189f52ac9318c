"""Reusable DataFrame operators.

Each module re-expresses one operator family from the reference inventory
(SURVEY.md §2) as pure, lazy DataFrame transformations — Catalyst sees through
all of them (no UDFs on the parity surface, SURVEY.md §2.9).
"""

from datalakes_and_data_integration_spark.operators.normalize import (
    normalize_column_name,
)
from datalakes_and_data_integration_spark.operators.dedup import (
    dedup_full_row,
    dedup_keep_first,
)
from datalakes_and_data_integration_spark.operators.merge import (
    drop_columns,
    full_outer_merge,
    outer_merge_pivot,
    prefix_columns,
)
from datalakes_and_data_integration_spark.operators.impute import (
    fill_with_means,
    impute_mean,
    mean_exprs,
)
from datalakes_and_data_integration_spark.operators.convert import (
    horizontal_sum,
    unit_factor,
)
from datalakes_and_data_integration_spark.operators.windows import (
    ffill,
    lag_diff,
    lag_pct_change,
)

__all__ = [
    "normalize_column_name",
    "dedup_full_row",
    "dedup_keep_first",
    "drop_columns",
    "full_outer_merge",
    "outer_merge_pivot",
    "prefix_columns",
    "fill_with_means",
    "impute_mean",
    "mean_exprs",
    "horizontal_sum",
    "unit_factor",
    "ffill",
    "lag_diff",
    "lag_pct_change",
]
