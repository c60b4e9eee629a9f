"""Operator-DAG algebra: ColumnSelector and Node.

Re-expresses the reference's ``merlin.dag`` node algebra
(/root/reference/nvtabular/workflow/node.py:16-18,
/root/reference/docs/source/resources/architecture.md:23-35):
``["a", "b"] >> Op()`` starts a chain, ``node_a + node_b`` concatenates
branch outputs column-wise, ``node - ["c"]`` removes columns,
``node["a"]`` subsets.

The DAG here is purely *logical*; execution is compiled to a single
lazily-composed ``pyspark.sql.DataFrame`` by :mod:`..plans.compiler`,
so Catalyst — not this graph — is the physical plan.
"""

from __future__ import annotations

from typing import Iterable, List, Optional, Sequence, Union


class ColumnSelector:
    """A flat list of column names selected from the workflow input.

    Mirrors ``merlin.dag.ColumnSelector`` (reference
    nvtabular/__init__.py:22). Grouped (nested-list) selectors are kept
    as tuples so multi-column ops (Categorify joint/combo) can see the
    grouping, matching reference categorify.py:266-272.
    """

    def __init__(self, names: Union[str, Sequence, "ColumnSelector", None] = None,
                 tags: Optional[Sequence] = None):
        self.names: List = []
        self.subgroups: List[ColumnSelector] = []
        #: tag-driven selection (reference merlin.dag
        #: ``ColumnSelector(tags=[Tags.USER])``): names are resolved
        #: from the workflow's input Schema at fit/fit_schema time —
        #: a column matches when it carries ALL the listed tags
        self.tags: List = list(tags or ())
        self._tags_resolved = False
        #: names given as bare scalars (NOT only via a subgroup) — a
        #: selector like ["x", "y", ("x", "y")] keeps x and y as both
        #: scalars AND a group (reference test_workflow_schemas.py:149)
        self._scalars: List = []
        if names is None:
            return
        if isinstance(names, ColumnSelector):
            self.names = list(names.names)
            self.subgroups = list(names.subgroups)
            self.tags = list(names.tags)
            self._tags_resolved = names._tags_resolved
            self._scalars = list(names._scalars)
            return
        if isinstance(names, str):
            names = [names]
        for n in names:
            if isinstance(n, (list, tuple)):
                sub = ColumnSelector(list(n))
                self.subgroups.append(sub)
                self.names.extend(m for m in sub.names
                                  if m not in self.names)
            else:
                self._scalars.append(n)
                if n not in self.names:
                    self.names.append(n)

    @property
    def grouped_names(self) -> List:
        """Names with grouping preserved: tuples for groups plus every
        EXPLICIT scalar (a name can be both — ["x", "y", ("x", "y")]
        yields [("x","y"), "x", "y"]). Selectors rebuilt from a flat
        name list plus manual subgroup appends (legacy serialized form)
        fall back to names-minus-grouped."""
        grouped: List = [tuple(g.names) for g in self.subgroups]
        if self._scalars or not self.subgroups:
            seen = set()
            for n in self._scalars:
                if n not in seen:
                    seen.add(n)
                    grouped.append(n)
        else:
            in_group = {n for g in self.subgroups for n in g.names}
            grouped.extend(n for n in self.names if n not in in_group)
        return grouped

    def __add__(self, other):
        if isinstance(other, Node):
            # selector + node joins the DAG algebra (reference contract:
            # cat_names + cont_names + label_feature,
            # tests/unit/ops/test_lambda.py:130)
            return _to_node(self) + other
        out = ColumnSelector(self)
        other = ColumnSelector(other)
        out.names.extend(other.names)
        out.subgroups.extend(other.subgroups)
        out._scalars.extend(other._scalars)
        out.tags.extend(t for t in other.tags if t not in out.tags)
        out._tags_resolved = self._tags_resolved and other._tags_resolved
        return out

    def resolve_tags(self, schema) -> None:
        """Append the schema columns matching ALL of ``self.tags``
        (idempotent; no-op for name-only selectors)."""
        if not self.tags or self._tags_resolved:
            return
        for n in schema.select_by_tags(self.tags):
            if n not in self.names:
                self.names.append(n)
                self._scalars.append(n)
        self._tags_resolved = True

    def __iter__(self):
        return iter(self.names)

    def __len__(self):
        return len(self.names)

    def __eq__(self, other):
        return isinstance(other, ColumnSelector) and other.names == self.names

    def __repr__(self):
        if self.tags:
            return f"ColumnSelector({self.names!r}, tags={self.tags!r})"
        return f"ColumnSelector({self.names!r})"

    def __rshift__(self, op) -> "Node":
        # ColumnSelector(tags=[...]) >> op starts a chain just like
        # ["a"] >> op (reference test_workflow.py:84-86)
        return Node(selector=self) >> op


def _to_node(value) -> "Node":
    from ..operators.base import Operator  # circular-safe

    if isinstance(value, Node):
        return value
    if isinstance(value, Operator):
        raise TypeError(
            "An Operator must be applied to columns: use ['col'] >> op"
        )
    if isinstance(value, (list, tuple)) \
            and any(isinstance(v, Node) for v in value):
        # a list MIXING nodes and names concatenates its members
        # (reference test_workflow_node.py:96-104: node1 + [node2, "e"])
        node = _to_node(value[0])
        for v in value[1:]:
            node = node + _to_node(v)
        return node
    if isinstance(value, (str, list, tuple, ColumnSelector)):
        return Node(selector=ColumnSelector(value))
    raise TypeError(f"Cannot convert {type(value)} to a workflow Node")


class Node:
    """One DAG node = (selector | operator) + parents.

    Mirrors the reference WorkflowNode (workflow/node.py:16-18). A node
    either *selects* raw input columns (``selector`` set, ``op`` None) or
    *applies* an operator to the concatenated outputs of its parents.
    """

    def __init__(self, op=None, parents: Optional[List["Node"]] = None,
                 selector: Optional[ColumnSelector] = None):
        self.op = op
        self.parents: List[Node] = parents or []
        self.selector = selector
        self.removed: List[str] = []   # names dropped via `-`
        self.subset: Optional[List[str]] = None  # names kept via `[...]`
        self.subgraph_name: Optional[str] = None  # named sub-DAG boundary
        #: side-input nodes whose outputs the op reads but which do NOT
        #: join the selector (reference WorkflowNode.dependencies)
        self.dependency_nodes: List[Node] = []

    # -- algebra ----------------------------------------------------------
    def __rshift__(self, op) -> "Node":
        from ..operators.base import Operator

        if not isinstance(op, Operator):
            raise TypeError(f">> expects an Operator, got {type(op)}")
        node = Node(op=op, parents=[self])
        # ops may consume OTHER DAG nodes' outputs as side inputs
        # (reference node dependencies, e.g. TargetEncoding(node)) —
        # attach them so they compile before this node
        for dep in getattr(op, "node_dependencies", list)():
            node.dependency_nodes.append(_to_node(dep))
        return node

    def __add__(self, other) -> "Node":
        other = _to_node(other)
        # flatten nested concat nodes for a tidier graph (NEVER flatten
        # a named Subgraph boundary — its name must survive the algebra)
        parts: List[Node] = []
        for n in (self, other):
            if n.op is None and n.selector is None and not n.removed \
                    and n.subset is None and n.subgraph_name is None:
                parts.extend(n.parents)
            else:
                parts.append(n)
        return Node(parents=parts)  # op=None, selector=None → concat node

    __radd__ = __add__

    def __sub__(self, cols) -> "Node":
        out = Node(parents=[self])
        if isinstance(cols, Node):
            # node - node removes the RIGHT node's output columns
            # (reference node.py subtraction-by-node semantics,
            # tests/unit/workflow/test_workflow_node.py:120-156)
            out.removed = list(cols.output_columns())
        else:
            out.removed = list(ColumnSelector(cols).names)
        return out

    def __rsub__(self, cols) -> "Node":
        # ["a", "b"] - node  (reference test_workflow_node.py:141)
        return _to_node(cols) - self

    def __getitem__(self, cols) -> "Node":
        out = Node(parents=[self])
        out.subset = list(ColumnSelector(cols).names)
        return out

    # -- introspection ----------------------------------------------------
    @property
    def is_selection(self) -> bool:
        return self.selector is not None

    @property
    def is_concat(self) -> bool:
        return self.op is None and self.selector is None and not self.removed \
            and self.subset is None

    @property
    def label(self) -> str:
        if self.is_selection:
            return f"select{self.selector.names}"
        if self.op is not None:
            return type(self.op).__name__
        if self.removed:
            return f"-{self.removed}"
        if self.subset is not None:
            return f"[{self.subset}]"
        if self.subgraph_name is not None:
            return f"subgraph:{self.subgraph_name}"
        return "+"

    def input_group_selector(self) -> ColumnSelector:
        """Selector (with grouping) feeding this node's op."""
        if self.is_selection:
            return self.selector
        sel = ColumnSelector()
        for p in self.parents:
            if p.is_selection:
                sel = sel + p.selector
            else:
                sel = sel + ColumnSelector(p.output_columns())
        return sel

    def input_columns(self) -> List[str]:
        return list(self.input_group_selector().names)

    def output_columns(self) -> List[str]:
        if self.is_selection:
            return list(self.selector.names)
        sel = self.input_group_selector()
        out = list(sel.names) if self.op is None \
            else self.op.output_column_names(sel)
        if self.removed:
            out = [c for c in out if c not in self.removed]
        if self.subset is not None:
            missing = [c for c in self.subset if c not in out]
            if missing:
                raise KeyError(f"Columns {missing} not in node outputs {out}")
            out = [c for c in out if c in self.subset]
        dupes = {c for c in out if out.count(c) > 1}
        if dupes:
            raise ValueError(
                f"Node {self.label} produces duplicate columns {sorted(dupes)}; "
                "use Rename to disambiguate branches"
            )
        return out

    def __repr__(self):
        return f"<Node {self.label}>"


def postorder(root: Node) -> List[Node]:
    """Topologically-ordered node list (parents before children)."""
    seen: dict = {}
    order: List[Node] = []

    def visit(n: Node):
        if id(n) in seen:
            return
        seen[id(n)] = True
        for p in n.parents:
            visit(p)
        for d in n.dependency_nodes:
            visit(d)
        order.append(n)

    visit(root)
    return order


def input_column_names(root: Node) -> List[str]:
    """All raw input columns the DAG reads (selection leaves + op
    dependencies) — used for source column pruning, mirroring reference
    workflow.py:239 ``to_ddf(columns=self._input_columns())``."""
    cols: List[str] = []
    for n in postorder(root):
        if n.is_selection:
            cols.extend(n.selector.names)
        if n.op is not None:
            cols.extend(n.op.dependencies())
    # stable de-dup
    seen = set()
    out = []
    for c in cols:
        if c not in seen:
            seen.add(c)
            out.append(c)
    return out


def Subgraph(name: str, output_node) -> Node:
    """Name a sub-DAG so it can be re-extracted as a standalone
    workflow after fitting (reference merlin.dag.ops.subgraph.Subgraph +
    ``Workflow.get_subworkflow``, exercised by
    tests/unit/workflow/test_workflow_subgraphs.py:24-100).

    Spark-first formulation: the reference wraps the sub-DAG in an
    operator with its own executor invocation; here a Subgraph is just
    a NAMED pass-through node over the subtree — compilation is
    unchanged (Catalyst still sees one composed DataFrame), the name
    only marks the boundary for ``get_subworkflow``/serialization."""
    node = Node(parents=[_to_node(output_node)])
    node.subgraph_name = str(name)
    return node
