"""Operator base classes.

Reference semantics: nvtabular/ops/operator.py:24-27 (stateless
``Operator`` with ``column_mapping``/``output_dtype``) and
nvtabular/ops/stat_operator.py:16 (two-phase ``StatOperator`` with
``fit``/``fit_finalize``/``clear``).

Spark-first re-expression: ``transform`` receives a *TransformContext*
(mapping of public column names to the actual namespaced columns of the
single threaded DataFrame) and returns a new DataFrame with the output
columns added. Everything stays lazy; Catalyst fuses consecutive ops
into one whole-stage-codegen'd projection. ``fit`` on a StatOperator
runs one (small) Spark aggregation job and stores driver-side state that
``transform`` turns into literal expressions or broadcast joins.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import planning
from ..plans.graph import ColumnSelector, Node, _to_node


class TransformContext:
    """Name mapping for one node's transform/fit call.

    * ``selector`` — public input names (with grouping for joint/combo).
    * ``inputs``   — public input name → actual column name in ``df``.
    * ``outputs``  — public output name → actual column name to create.
    * raw workflow-input columns (op dependencies such as a target or
      sort key) are always present in ``df`` under their own names.
    """

    def __init__(self, selector: ColumnSelector, inputs: Dict[str, str],
                 outputs: Dict[str, str]):
        self.selector = selector
        self.inputs = inputs
        self.outputs = outputs

    @property
    def input_names(self) -> List[str]:
        return list(self.selector.names)

    def actual(self, public: str) -> str:
        return self.inputs[public]

    def col(self, public: str) -> Column:
        return F.col(self.inputs[public])

    def out(self, public: str) -> str:
        return self.outputs[public]

    def pairs(self) -> List[tuple]:
        """(public_in, actual_in) in selector order."""
        return [(p, self.inputs[p]) for p in self.selector.names]


class Operator:
    """A stateless transform. Subclasses usually override either
    :meth:`expr` (per-column expression — the common case, keeps the
    whole op inside Catalyst codegen) or :meth:`transform` (DataFrame
    level: joins, filters, aggregations)."""

    #: False for ops that drop/aggregate rows (Filter, Dropna, Groupby)
    row_preserving: bool = True

    #: True when transform is a pure per-row projection (expressions /
    #: pandas_udf) — cheap enough to replay on the compiler's lean frame
    #: for batched fits. False for joins, windows, aggregations.
    cheap_transform: bool = True

    # -- naming -----------------------------------------------------------
    def output_column_names(self, selector: ColumnSelector) -> List[str]:
        return list(selector.names)

    def dependencies(self) -> List[str]:
        """Raw input columns required beyond the selector (e.g. a target
        column). These bypass namespacing — always read from the source."""
        return []

    # -- execution ---------------------------------------------------------
    def transform(self, ctx: TransformContext, df: DataFrame) -> DataFrame:
        outs = self.output_column_names(ctx.selector)
        ins = ctx.input_names
        if len(outs) == len(ins):
            mapping = dict(zip(outs, ins))
        else:
            raise NotImplementedError(
                f"{type(self).__name__} must override transform()"
            )
        cols = {}
        for out_pub in outs:
            in_pub = mapping[out_pub]
            cols[ctx.out(out_pub)] = self.expr(
                F.col(ctx.actual(in_pub)), in_pub, df, ctx
            )
        return df.withColumns(cols)

    def expr(self, col: Column, name: str, df: DataFrame,
             ctx: TransformContext) -> Column:
        raise NotImplementedError(
            f"{type(self).__name__} implements neither expr() nor transform()"
        )

    def merge_precheck(self, other: "Operator") -> None:
        """Raise WorkflowMergeError if this op pair cannot merge; runs
        over the WHOLE DAG before any mutation (see plans/merge.py).
        Stateless ops always can."""
        return None

    def merge_fitted(self, other: "Operator") -> None:
        """Stateless op: nothing to merge (see plans/merge.py)."""
        return None

    # -- algebra -----------------------------------------------------------
    def __rrshift__(self, other) -> Node:
        return _to_node(other) >> self

    # -- serialization (see plans/serializer.py) ----------------------------
    def save_params(self) -> dict:
        """JSON-safe constructor params. Default: public __init__ attrs."""
        return {
            k: v for k, v in vars(self).items()
            if not k.startswith("_") and _json_safe(v)
        }

    @classmethod
    def load_params(cls, params: dict) -> "Operator":
        import inspect
        sig = inspect.signature(cls.__init__)
        accepted = {k: v for k, v in params.items() if k in sig.parameters}
        try:
            op = cls(**accepted)
        except TypeError:
            op = cls.__new__(cls)
            if isinstance(op, StatOperator):
                StatOperator.__init__(op)
        for k, v in params.items():
            setattr(op, k, v)
        return op

    def save_state(self) -> dict:
        """JSON-safe fitted state (small stats). Overridden by stat ops."""
        return {}

    def load_state(self, state: dict) -> None:
        pass

    def artifacts(self) -> Dict[str, DataFrame]:
        """Large fitted state as Spark DataFrames (written to parquet on
        save; e.g. Categorify vocabularies — mirrors reference
        ``unique.<col>.parquet`` files, categorify.py:719-822)."""
        return {}

    def load_artifacts(self, spark, paths: Dict[str, str]) -> None:
        pass

    # -- schema sidecar ------------------------------------------------------
    def output_tags(self) -> List[str]:
        return []

    def output_properties(self) -> dict:
        return {}

    def output_dtype(self):
        """Declared output Spark dtype for schema-only fits
        (``Workflow.fit_schema``); None = inputs keep their dtype.
        Default: the op's ``out_dtype`` cast target when it has one."""
        return getattr(self, "out_dtype", None)


def as_list(v) -> list:
    """A scalar (column name, shift, agg name) as a one-element list."""
    return [v] if isinstance(v, (str, int)) else list(v)


class WindowOperator(Operator):
    """An op whose whole output is window expressions partitioned by
    ``partition_cols`` (ordered by ``order_by``, read from the source).
    Subclasses define only validation, ``output_column_names`` and
    :meth:`window_fusion`; :func:`lower_windows` is the single place
    they are lowered, for one op (:meth:`transform`) or a batch.

    The compiler batches CONSECUTIVE window ops into ONE projection so
    window expressions sharing a (partitionBy, orderBy) spec land in
    one WindowExec — each extra Window operator re-buffers every
    partition's rows, which is the dominant cost on a skewed hot
    entity (measured 17.2s -> 9.6s for the 16M-row 4-window feature
    pass). The adaptive repartition gate runs once per key set of a
    batch."""

    cheap_transform = False

    #: Sessionize orders by its own input column and has no sort keys
    order_by: List[str] = []

    def __init__(self, partition_cols, order_by=None):
        self.partition_cols = as_list(partition_cols)
        if order_by is not None:
            self.order_by = as_list(order_by)

    def dependencies(self) -> List[str]:
        return self.partition_cols + self.order_by

    def window_fusion(self, ctx: TransformContext,
                      df: DataFrame) -> Dict[str, Column]:
        """The op's full output as ``{actual_output_name: Column}`` of
        window expressions (nested window functions allowed — Catalyst
        extracts them). ``df`` is read for its schema only."""
        raise NotImplementedError

    def transform(self, ctx: TransformContext, df: DataFrame) -> DataFrame:
        return lower_windows(df, [(self, ctx)])


def lower_windows(df: DataFrame, batch) -> DataFrame:
    """Add the window outputs of ``batch`` — ``[(WindowOperator, ctx)]``
    — to ``df``: one ``withColumns`` per distinct ``partition_cols``
    set (in order of first appearance), each behind the adaptive
    partition gate on its own keys."""
    groups: Dict[frozenset, tuple] = {}
    for op, ctx in batch:
        _, cols = groups.setdefault(frozenset(op.partition_cols),
                                    (op.partition_cols, {}))
        cols.update(op.window_fusion(ctx, df))
    for keys, cols in groups.values():
        # looked up at call time: profilers replace the module attribute
        df = planning.scale_window_partitions(df, keys)
        df = df.withColumns(cols)
    return df


class StatOperator(Operator):
    """Two-phase operator (reference stat_operator.py:16): ``fit`` runs
    Spark aggregation action(s) and stores small driver-side state;
    ``transform`` is then stateless.

    ``defer_ok=True`` lets the compiler defer this op's fit and run it
    CONCURRENTLY with other deferred fits (driver threads; Spark
    interleaves the jobs). Set False when output column names depend on
    the fitted state."""

    defer_ok: bool = True

    def __init__(self):
        self.fitted = False

    def fit(self, ctx: TransformContext, df: DataFrame) -> None:
        raise NotImplementedError

    def clear(self) -> None:
        self.fitted = False

    def _require_fitted(self):
        if not getattr(self, "fitted", False):
            raise RuntimeError(
                f"{type(self).__name__} used before fit(); call workflow.fit() first"
            )

    def merge_precheck(self, other: "StatOperator") -> None:
        """Default stat-op answer: refuse — only ops whose state is a
        distributive sufficient statistic override this (and
        ``merge_fitted``). Runs over the whole DAG before any mutation
        so a refusal never leaves a half-merged workflow."""
        from ..plans.merge import WorkflowMergeError
        raise WorkflowMergeError(
            f"{type(self).__name__} fitted state is not mergeable (its "
            "statistics are not distributive over row partitions); "
            "re-fit on the union instead")

    def merge_fitted(self, other: "StatOperator") -> None:
        """Combine ``other``'s fitted state into this op, exactly as if
        this op had been fit on the union of both inputs (see
        plans/merge.py). Only called after every node's
        ``merge_precheck`` passed."""
        raise NotImplementedError(
            f"{type(self).__name__}.merge_fitted called without a "
            "matching merge_precheck override")

    def save_params(self) -> dict:
        params = super().save_params()
        params.pop("fitted", None)
        return params

    # -- shared-key fit fusion protocol (compiler flush) ---------------------
    def fused_fit_requests(self, ctx: "TransformContext"):
        """Optional fusion protocol: ops whose fit is a per-group-key
        aggregation (JoinGroupby, TargetEncoding, ...) return a list of
        :class:`FusedFitRequest`; the compiler then runs ONE
        ``groupBy(keys[, fold])`` job per distinct key set and feeds
        every participating op from the same scan — at 100 TB this is
        the difference between 1 and N input scans for shared-key
        stats. Return None (default) to fit standalone."""
        return None

    def consume_fused(self, req: "FusedFitRequest",
                      grouped: DataFrame) -> None:
        """Finish fitting from the shared grouped table. ``grouped``
        has columns ``__k0..__k{n-1}`` (the group keys), ``__fold__``
        when any co-fused op requested a fold dimension, plus every
        op's partial-aggregate aliases."""
        raise NotImplementedError


class FusedFitRequest:
    """One per-key-set fit request from :meth:`fused_fit_requests`.

    keys      — tuple of ACTUAL input column names to group by
    aggs      — partial-aggregate Columns with op-unique aliases
    fold_expr — optional Column adding a fold dimension to the groupBy
    fold_sig  — stable signature of fold_expr; requests over the same
                keys fuse only when their non-None fold_sigs agree
    tag       — op-local id to route consume_fused back to the group
    """

    def __init__(self, op, ctx, keys, aggs, fold_expr=None,
                 fold_sig=None, tag=None):
        self.op = op
        self.ctx = ctx
        self.keys = tuple(keys)
        self.aggs = list(aggs)
        self.fold_expr = fold_expr
        self.fold_sig = fold_sig
        self.tag = tag


class AggStatOperator(StatOperator):
    """A StatOperator whose whole fit is ONE row of aggregate
    expressions. The compiler batches every pending AggStatOperator in
    the DAG into a single ``df.agg(...)`` job (one scan of the input for
    ALL of them) — the Spark-first equivalent of the reference's single
    partition sweep computing all column statistics together
    (moments.py:28-61). Set ``defer_ok = False`` when output column
    names depend on the fitted state (must fit eagerly)."""

    defer_ok: bool = True

    def agg_requests(self, ctx: TransformContext, df: DataFrame):
        """Return aggregate Column expressions with globally-unique
        aliases (use :meth:`_alias`)."""
        raise NotImplementedError

    def consume_agg(self, row) -> None:
        raise NotImplementedError

    def _alias(self, name: str) -> str:
        if not hasattr(self, "_agg_prefix"):
            import uuid
            self._agg_prefix = f"a{uuid.uuid4().hex[:8]}"
        return f"{self._agg_prefix}__{name}"

    def fit(self, ctx: TransformContext, df: DataFrame) -> None:
        row = df.agg(*self.agg_requests(ctx, df)).collect()[0]
        self.consume_agg(row)
        self.fitted = True


def _json_safe(v) -> bool:
    if isinstance(v, (str, int, float, bool, type(None))):
        return True
    if isinstance(v, (list, tuple)):
        return all(_json_safe(x) for x in v)
    if isinstance(v, dict):
        return all(isinstance(k, str) and _json_safe(x) for k, x in v.items())
    return False
