"""Value-map conversion and horizontal aggregation (reference F4/F5/A4).

- ``unit_factor``: the reference maps unit strings to factors through a dict
  where unmapped units become NaN, nulling the converted value
  (`/root/reference/src/process_to_curated.py:35-39,57-66`). Spark: a
  ``CASE WHEN`` chain — unmatched -> null, same semantics, fully
  codegen'd; gold multiplies each value by it.
- ``horizontal_sum``: row-wise NaN-skipping sum across a column group; the
  reference uses a per-row Python loop (`process_to_curated.py:84-94`) or
  ``np.nansum`` with an all-null->NaN guard (`faster_process_to_curated.py:
  68-82`). Spark: ``coalesce(c, 0) + ...`` with a guard that yields null when
  every input is null — a narrow projection, no shuffle at any scale.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def unit_factor(key_col: str, factors: Mapping[str, float]) -> Column:
    """``factors[key_col]`` as a column; unmapped key -> null (reference
    F4), used by the gold conversion projection."""
    factor: Column = F.lit(None).cast("double")
    # Build when-chain in deterministic (sorted) key order.
    chain = None
    for k in sorted(factors):
        cond = F.col(key_col) == k
        chain = F.when(cond, F.lit(factors[k])) if chain is None else chain.when(
            cond, F.lit(factors[k])
        )
    return chain.otherwise(factor) if chain is not None else factor


def horizontal_sum(cols: Sequence[str | Column]) -> Column:
    """NaN/null-skipping row-wise sum; all-null (or empty) -> null."""
    if not cols:
        return F.lit(None).cast("double")
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    any_present = reduce(lambda a, b: a | b, [c.isNotNull() for c in cs])
    total = reduce(lambda a, b: a + b, [F.coalesce(c, F.lit(0.0)) for c in cs])
    return F.when(any_present, total).otherwise(F.lit(None).cast("double"))
