"""Workflow: sklearn-style fit/transform over the operator DAG.

Reference: nvtabular/workflow/workflow.py:45-74 (construction),
:195-210 (fit = executor walks StatOperators in topo order),
:235-254 (transform = lazy per-partition function). Here ``fit`` runs
one small Spark aggregation job per stat-op and ``transform`` returns a
single lazily-composed DataFrame — Catalyst is the executor.
"""

from __future__ import annotations

import copy
from typing import List, Optional

from pyspark.sql import DataFrame

from .compiler import CompiledPlan
from .graph import ColumnSelector, Node, _to_node
from .schema import ColumnSchema, Schema


def _apply_props(cs: ColumnSchema, props: dict, col: str, outs) -> None:
    """Attach an op's output_properties to one output column. The dict
    is treated as a PER-COLUMN mapping only when every output column is
    a key and every value is itself a dict (the Categorify shape);
    otherwise it is a flat property bag applied to every output — a
    user property whose NAME happens to collide with a column name must
    not change routing or crash the update."""
    if props and set(outs) <= set(props) \
            and all(isinstance(props[o], dict) for o in outs):
        cs.properties.update(props[col])
    else:
        cs.properties.update(props)


def _annotated(df: DataFrame, annotations: dict) -> Schema:
    """``df``'s schema (dtypes authoritative) with the tags and
    properties of ``annotations`` (name → ColumnSchema) laid over it."""
    schema = Schema.from_spark(df.schema)
    for cs in schema.column_schemas.values():
        src = annotations.get(cs.name)
        if src is not None:
            cs.tags |= src.tags
            cs.properties.update(src.properties)
    return schema


class Workflow:
    def __init__(self, output_node):
        self.output_node: Node = _to_node(output_node)
        self.plan = CompiledPlan(self.output_node)
        self.input_schema: Optional[Schema] = None
        self.output_schema: Optional[Schema] = None

    @property
    def input_dtypes(self) -> dict:
        """Name → Spark dtype of the PRUNED workflow inputs (reference
        workflow.py input_dtypes, tests/unit/workflow/test_workflow.py:617:
        columns the DAG never references are absent). Available after
        fit / fit_schema / load."""
        if self.input_schema is None:
            return {}
        return {c.name: c.dtype
                for c in self.input_schema.column_schemas.values()}

    @property
    def output_dtypes(self) -> dict:
        if self.output_schema is None:
            return {}
        return {c.name: c.dtype
                for c in self.output_schema.column_schemas.values()}

    @staticmethod
    def _unwrap(df):
        # accept the Dataset API-parity wrapper transparently
        return df.df if hasattr(df, "df") and isinstance(
            getattr(df, "df"), DataFrame) else df

    # -- lifecycle ----------------------------------------------------------
    def fit(self, df: DataFrame) -> "Workflow":
        """Run the statistics pass: each StatOperator triggers its own
        (small) aggregation job in topological order, then stores
        broadcastable state. No full-data materialization happens."""
        self._resolve_tag_selectors(df)
        pruned = self._prune(self._unwrap(df))
        self.input_schema = Schema.from_spark(pruned.schema)
        out = self.plan.run(pruned, fit=True)
        self.output_schema = _annotated(
            out, self._propagate_schema(self.input_schema))
        return self

    def fit_schema(self, schema: Schema) -> "Workflow":
        """Schema-only fit (reference workflow.py ``fit_schema``,
        exercised by tests/unit/workflow/test_workflow_schemas.py:197):
        resolve tag-driven selectors against a sidecar ``Schema`` and
        derive the output column names/tags without touching data.
        StatOperator state is NOT fitted — call :meth:`fit` for that."""
        for node in self.plan.order:
            if node.selector is not None:
                node.selector.resolve_tags(schema)
        # prune to DAG-referenced columns, matching fit()'s contract
        # (the input_dtypes docstring promises unreferenced columns are
        # absent on EVERY path)
        wanted = [c for c in self.input_columns() if c in schema]
        self.input_schema = Schema([schema[c].copy() for c in wanted])
        known = self._propagate_schema(schema)
        self.output_schema = Schema(
            [known.get(n) or ColumnSchema(n)
             for n in self.plan.root.output_columns()])
        return self

    def _resolve_tag_selectors(self, df) -> None:
        """Resolve ``ColumnSelector(tags=...)`` nodes before running the
        plan. Tags live in the SIDECAR schema, so a tag-driven workflow
        needs either a ``Dataset`` whose cached ``.schema`` was tagged,
        or a prior :meth:`fit_schema` call."""
        unresolved = [n for n in self.plan.order
                      if n.selector is not None and n.selector.tags
                      and not n.selector._tags_resolved]
        if not unresolved:
            return
        sidecar = None if isinstance(df, DataFrame) \
            else getattr(df, "schema", None)
        if not isinstance(sidecar, Schema):
            raise ValueError(
                "this workflow selects columns by tag "
                f"({[n.selector.tags for n in unresolved]}); tags live in "
                "the sidecar Schema, so fit/transform a nvt.Dataset whose "
                ".schema carries the tags, or call "
                "Workflow.fit_schema(schema) first")
        for node in unresolved:
            node.selector.resolve_tags(sidecar)

    def transform(self, df: DataFrame) -> DataFrame:
        """Lazily compose the transform; nothing executes until an
        action (write/collect) — mirroring reference workflow.py:86-88.
        Given a ``Dataset`` wrapper, returns a ``Dataset`` (reference
        contract: ``workflow.transform(dataset).to_ddf().compute()``);
        given a plain DataFrame, returns a DataFrame."""
        self._resolve_tag_selectors(df)
        out = self.plan.run(self._prune(self._unwrap(df)), fit=False)
        if not isinstance(df, DataFrame) and hasattr(df, "df"):
            from ..sources.dataset import Dataset
            ds = Dataset(out)
            # a fitted workflow knows its output schema (tags/props,
            # e.g. ValueCount's value_count) — expose it on the result
            # Dataset (reference: transformed.schema[col].properties).
            # Build a FRESH schema from the actual output dtypes and
            # overlay the fitted annotations: sharing the workflow's
            # Schema object would let in-place tagging on one Dataset
            # mutate the workflow and every other transform result
            if self.output_schema is not None:
                ds._schema = _annotated(out, copy.deepcopy(
                    self.output_schema.column_schemas))
            return ds
        return out

    def fit_transform(self, df: DataFrame) -> DataFrame:
        self.fit(df)
        return self.transform(df)

    @property
    def subworkflows(self) -> List[str]:
        """Names of the named Subgraph boundaries in this DAG
        (reference workflow.py:142-143)."""
        return [n.subgraph_name for n in self.plan.order
                if n.subgraph_name]

    def get_subworkflow(self, subgraph_name: str) -> "Workflow":
        """Extract a named Subgraph as a standalone Workflow (reference
        workflow.py:168-170). The returned workflow SHARES the fitted
        node/op objects, so a post-fit extraction transforms with the
        parent's statistics — the staged-serving pattern of
        tests/unit/workflow/test_workflow_subgraphs.py:80-100."""
        for node in self.plan.order:
            if node.subgraph_name == subgraph_name:
                # unwrap to the inner output node (the Subgraph node is
                # a pure pass-through), matching reference
                # Workflow(subgraph.output_node)
                return Workflow(node.parents[0])
        raise ValueError(
            f"No subgraph named {subgraph_name!r} in this workflow; "
            f"available: "
            f"{[n.subgraph_name for n in self.plan.order if n.subgraph_name]}")

    def remove_inputs(self, input_cols: List[str]) -> "Workflow":
        """Remove input columns from the workflow in place (reference
        workflow.py:172-193; used at inference to drop label columns
        from the processed set). Selection leaves lose the names (and
        any grouped subselector entries); downstream op outputs shrink
        accordingly on the next transform."""
        drop = set(input_cols)
        for node in self.plan.order:
            sel = node.selector
            if sel is None:
                continue
            sel.names = [n for n in sel.names if n not in drop]
            sel._scalars = [n for n in sel._scalars if n not in drop]
            sel.subgroups = [g for g in
                             (ColumnSelector([n for n in g.names
                                              if n not in drop])
                              for g in sel.subgroups) if g.names]
        self.plan = CompiledPlan(self.output_node)
        return self

    # -- introspection --------------------------------------------------------
    def input_columns(self) -> List[str]:
        return self.plan.input_columns()

    def explain(self, df: DataFrame, mode: str = "formatted") -> None:
        """Print the physical plan of the compiled transform — the
        feedback loop for shuffle/broadcast/pushdown review."""
        self.transform(df).explain(mode)

    def clear_stats(self) -> None:
        from ..operators.base import StatOperator
        for node in self.plan.order:
            if isinstance(node.op, StatOperator):
                node.op.clear()

    def _prune(self, df: DataFrame) -> DataFrame:
        """Column pruning at the source (reference workflow.py:239):
        select only DAG-referenced columns so the parquet/Iceberg scan's
        ReadSchema shrinks accordingly."""
        cols = [c for c in self.input_columns() if c in df.columns]
        missing = [c for c in self.input_columns() if c not in df.columns]
        if missing:
            raise KeyError(f"Workflow requires missing input columns {missing}")
        return df.select(*cols)

    def _propagate_schema(self, schema: Schema) -> dict:
        """The one schema walk: name -> ColumnSchema of every column the
        DAG sees, seeded with ``schema`` (the input) and carrying each
        column's tags/properties/declared dtype through the ops, so
        annotations PROPAGATE through later renames — reference
        column-mapping contract (tests/unit/ops/test_lambda.py:195
        test_lambdaop_dtype_propagation: LambdaOp(dtype=...) >>
        Rename(...) keeps the dtype on the renamed column; and
        test_ops_schema.py:172: a Categorify domain survives a
        downstream Rename)."""
        known = {c.name: c.copy() for c in schema.column_schemas.values()}
        for node in self.plan.order:
            if node.op is None:
                continue
            sel = node.input_group_selector()
            outs = node.op.output_column_names(sel)
            ins = list(sel.names)
            dt = node.op.output_dtype()
            list_in: dict = {}
            if len(outs) == len(ins):
                # 1:1 op: each output inherits its positional input's
                # tags/properties under the new name. The dtype rides
                # along ONLY when the op declares one (`dt`) or is a
                # pure schema op (`preserves_dtype`) — a value-encoding
                # op without a declared dtype must report UNKNOWN, not
                # the input's dtype
                keep_dtype = getattr(node.op, "preserves_dtype", False)
                for i, o in zip(ins, outs):
                    src = known.get(i)
                    cs = src.copy() if src is not None else ColumnSchema(o)
                    cs.name = o
                    list_in[o] = bool(src and
                                      str(src.dtype or "")
                                      .startswith("array"))
                    if not keep_dtype:
                        cs.dtype = None
                    known[o] = cs
            tags, props = set(node.op.output_tags()), \
                node.op.output_properties()
            for col in outs:
                cs = known.setdefault(col, ColumnSchema(col))
                cs.tags |= tags
                _apply_props(cs, props, col, outs)
                if dt:
                    # an element-wise op over a LIST column produces a
                    # list of the declared element dtype (Categorify on
                    # array<string> → array<int>), so wrap the declared
                    # scalar dtype for list-typed inputs
                    if list_in.get(col) and not str(dt).startswith("array"):
                        cs.dtype = f"array<{dt}>"
                    else:
                        cs.dtype = dt
        return known

    # -- serialization --------------------------------------------------------
    def save(self, path: str) -> None:
        from .serializer import save_workflow
        save_workflow(self, path)

    @classmethod
    def load(cls, path: str, spark=None) -> "Workflow":
        from .serializer import load_workflow
        return load_workflow(path, spark=spark)
