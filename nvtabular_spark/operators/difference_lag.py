"""DifferenceLag — ``x - shift(x, k)`` within entity partitions.

Reference: nvtabular/ops/difference_lag.py:23-105 — partition-local,
REQUIRES the caller to have pre-shuffled + pre-sorted by the partition
keys. Spark window functions are globally correct without that contract:
``F.lag(c, k).over(Window.partitionBy(keys).orderBy(ts))`` shuffles on
the entity key exactly once and AQE handles skewed entities (see also
functions/skew.py for salting when one entity dominates).
"""

from __future__ import annotations

from typing import List, Optional, Union

from pyspark.sql import Window
from pyspark.sql import functions as F

from .base import WindowOperator, as_list
from ..plans.graph import ColumnSelector


class DifferenceLag(WindowOperator):
    """Signed shifts: a negative shift differences against a later row
    (lead), as in the reference."""

    def __init__(self, partition_cols: Union[str, List[str]],
                 shift: Union[int, List[int]] = 1,
                 order_by: Optional[Union[str, List[str]]] = None):
        super().__init__(partition_cols, [] if order_by is None else order_by)
        self.shifts = as_list(shift)

    def output_column_names(self, selector: ColumnSelector):
        return [f"{c}_difference_lag_{s}" for c in selector.names
                for s in self.shifts]

    def window_fusion(self, ctx, df):
        order = self.order_by or self.partition_cols
        w = Window.partitionBy(*self.partition_cols).orderBy(*order)
        cols = {}
        for pub, act in ctx.pairs():
            for s in self.shifts:
                name = ctx.out(f"{pub}_difference_lag_{s}")
                shifted = F.lag(F.col(act), s).over(w) if s >= 0 \
                    else F.lead(F.col(act), -s).over(w)
                cols[name] = F.col(act) - shifted
        return cols

    def output_tags(self):
        return ["continuous"]
