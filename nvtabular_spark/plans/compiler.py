"""DAG → DataFrame compiler.

Replaces the reference's Dask executor (workflow.py:31,74,254 and the
per-partition ``map_partitions`` transform described in
architecture.md:16-17). Instead of hand-scheduling partition tasks, we
walk the node DAG once and emit a *single lazily-composed DataFrame*:

* selection nodes    → references to raw input columns
* expression ops     → ``withColumns`` (fused by whole-stage codegen)
* stat-backed ops    → broadcast joins / literal expressions
* branch concat ``+``→ just a merged name-map (all branches share the
                       one threaded DataFrame; Catalyst prunes columns
                       no branch uses)

Each op node writes its outputs under namespaced actual column names
(``_n{i}__{name}``) so sibling branches can transform the same input
column independently — the final ``select`` restores public names. The
extra projections are free: Catalyst's CollapseProject folds them.

Three stages: :class:`CompiledPlan` holds the static facts of the DAG
(post-order, node index, sink set), computed once; :func:`run_fits`
executes one batch of deferred fits; :class:`Emitter` is one ``run``'s
node walk, which threads the DataFrame and holds back fits, window ops
and sinks until a node reads their outputs.
"""

from __future__ import annotations

import threading
import uuid
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from typing import Dict, List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import Node, postorder, input_column_names


def _op_sources(node: Node) -> set:
    """ids of the op nodes whose outputs ``node`` reads, looking through
    concat, removal and subset nodes."""
    out, stack = set(), list(node.parents) + list(node.dependency_nodes)
    while stack:
        p = stack.pop()
        if p.op is not None:
            out.add(id(p))
        elif not p.is_selection:
            stack.extend(p.parents)
            stack.extend(p.dependency_nodes)
    return out


class CompiledPlan:
    def __init__(self, root: Node):
        from ..operators.base import StatOperator
        self.root = root
        self.order: List[Node] = postorder(root)
        self.node_index: Dict[int, int] = {
            id(n): i for i, n in enumerate(self.order)
        }
        consumed: set = set()
        for n in self.order:
            if n.op is not None:
                consumed |= _op_sources(n)
        #: Sinks: cheap (pure-expression) row-preserving non-stat ops
        #: whose outputs no OTHER op consumes only feed the final
        #: select. Their projection is applied LAST so derived payload
        #: columns (padded token arrays, renamed copies) are computed
        #: ABOVE any window/aggregation Exchange instead of being
        #: shuffled through it (guide §2.3 "project before the
        #: exchange" — measured 19.7s vs 15.8s on the 10M-row tokenized
        #: workload's window stage). Values are unchanged: the op is
        #: row-aligned and nothing downstream reads its outputs.
        self.sinks = {
            id(n) for n in self.order
            if n.op is not None and not n.dependency_nodes
            and n.op.cheap_transform and n.op.row_preserving
            and not isinstance(n.op, StatOperator)
            and id(n) not in consumed}

    def input_columns(self) -> List[str]:
        return input_column_names(self.root)

    def run(self, df: DataFrame, fit: bool = False,
            refit: bool = False) -> DataFrame:
        """Thread ``df`` through the DAG. With ``fit=True``, fit each
        StatOperator (in topological order, on its upstream-transformed
        input) before applying its transform — mirroring the reference
        executor's phase-based fitting (workflow.py:195-210).

        Fit batching: every pending AggStatOperator is deferred and then
        fused into ONE ``df.agg`` job (one scan fits them all) at the
        next flush point — a node that consumes a deferred output, a
        row-cardinality-changing op, or the end of the walk. This is
        the Spark-first equivalent of the reference's single partition
        sweep computing all column moments together (moments.py:28-61);
        at 100 TB it is the difference between 1 and N input scans."""
        #: per-fit accounting: how many shared-key fusion jobs,
        #: standalone heavy fits, and batched agg jobs ran — asserted by
        #: plan-shape tests (a constant input-scan count per key set).
        #: Only reset on fitting runs so it survives the transform pass.
        if fit or refit or not hasattr(self, "fit_report"):
            self.fit_report = {"fused_groups": 0, "fused_requests": 0,
                               "standalone_fits": 0, "batched_agg_jobs": 0}
        return Emitter(self, df, fit or refit, refit).emit()


# -- fit executor --------------------------------------------------------------
def run_fits(batched: list, heavy: list, lean: DataFrame,
             report: dict) -> None:
    """Run one batch of deferred fits: ONE agg job on ``lean`` for the
    ``batched`` stats, ONE groupBy job per distinct key set for the
    fusable ``heavy`` fits (JoinGroupby/TargetEncoding sharing keys
    share a single input scan), and the other heavy fits (Categorify
    vocab scans) — all CONCURRENTLY from driver threads; Spark
    interleaves their stages, so fit wall-clock ≈ the longest single
    scan. The first failure is re-raised with a note naming its fit."""
    seen_ops = set()
    for _, op, _, _ in heavy:
        if id(op) in seen_ops:
            raise ValueError(
                f"the same {type(op).__name__} instance is used at "
                f"two DAG nodes — concurrent fits would race on its "
                f"state; construct a separate instance per branch")
        seen_ops.add(id(op))
    # shared-key fusion: group the fusable fit requests by (input
    # frame, key columns, fold signature); each group becomes ONE
    # groupBy job feeding every member op
    groups: Dict[tuple, list] = {}
    standalone = []
    for entry in heavy:
        _, op, ctx, frame = entry
        reqs = op.fused_fit_requests(ctx)
        if reqs is None:
            standalone.append(entry)
            continue
        for r in reqs:
            groups.setdefault((id(frame), r.keys, r.fold_sig),
                              [frame, []])[1].append(r)
    # fold-agnostic requests (fold_sig None) piggyback on a same-key
    # group that has a fold; their partials are fold-additive
    # (re-aggregated in consume_fused)
    for gk in [k for k in groups if k[2] is None]:
        hosts = [k for k in groups
                 if k[0] == gk[0] and k[1] == gk[1] and k[2]]
        if hosts:
            groups[hosts[0]][1].extend(groups.pop(gk)[1])

    jobs = []
    if batched:
        names = ", ".join(type(op).__name__ for _, op, _, _ in batched)
        jobs.append((_fit_batched, (batched, lean),
                     f"the batched agg fit of {names}"))
        report["batched_agg_jobs"] += 1
    remaining = Counter(id(r.op) for _, reqs in groups.values()
                        for r in reqs)
    lock = threading.Lock()
    for (_, keys, _), (frame, reqs) in groups.items():
        names = ", ".join(type(r.op).__name__ for r in reqs)
        jobs.append((_fit_fused, (frame, reqs, report, remaining, lock),
                     f"fused-fit[{','.join(keys)}] of {names}"))
        report["fused_groups"] += 1
        report["fused_requests"] += len(reqs)
    for _, op, ctx, frame in standalone:
        jobs.append((op.fit, (ctx, frame),
                     f"{type(op).__name__} on {ctx.input_names}"))
        report["standalone_fits"] += 1

    if len(jobs) <= 1:
        failures = [_failure(fn, args) for fn, args, _ in jobs]
    else:
        with ThreadPoolExecutor(max_workers=min(len(jobs), 8)) as ex:
            futs = [ex.submit(_failure, fn, args) for fn, args, _ in jobs]
            failures = [f.result() for f in futs]
    for (_, _, label), e in zip(jobs, failures):
        if e is not None:
            e.add_note(f"raised by the fit of {label}")
            raise e


def _failure(fn, args):
    """Call ``fn(*args)``; return the exception it raised, else None."""
    try:
        fn(*args)
    except Exception as e:
        return e
    return None


def _fit_batched(batched: list, lean: DataFrame) -> None:
    row = lean.agg(*[e for *_, exprs in batched for e in exprs]).collect()[0]
    for _, op, _, _ in batched:
        op.consume_agg(row)
        op.fitted = True


def _fit_fused(frame: DataFrame, reqs: list, report: dict,
               remaining: Counter, lock: threading.Lock) -> None:
    from ..sources.artifacts import materialize
    keys = reqs[0].keys
    cols = [F.col(a).alias(f"__k{i}") for i, a in enumerate(keys)]
    fold_req = next((r for r in reqs if r.fold_expr is not None), None)
    if fold_req is not None:
        cols.append(fold_req.fold_expr.alias("__fold__"))
    grouped = frame.groupBy(*cols).agg(*[a for r in reqs for a in r.aggs])
    # record the physical plan for plan-shape assertions
    # (one Exchange, partial+final hash aggregate)
    try:
        report.setdefault("fused_plans", []).append(
            grouped._jdf.queryExecution().executedPlan().toString())
    except Exception:
        pass
    gdf, _ = materialize(grouped, f"fusedfit_{uuid.uuid4().hex[:8]}")
    for r in reqs:
        r.op.consume_fused(r, gdf)
        # an op's requests may land in groups running on different
        # threads — guard the remaining counter
        with lock:
            remaining[id(r.op)] -= 1
            if remaining[id(r.op)] == 0:
                r.op.fitted = True


# -- emitter -------------------------------------------------------------------
class Emitter:
    """One ``run``'s node walk: owns the threaded frame and the work
    held back from it — deferred fits, consecutive window ops (lowered
    together, see WindowOperator) and sinks (applied last, or before a
    row-set change drops their input columns).

    Fitting runs also keep a lean frame: the input plus cheap
    (pure-expression) transforms only. Batched fit aggregations run
    against THIS frame, so they never drag broadcast joins or window
    shuffles of sibling branches into the stats job (Catalyst cannot
    prune a left join whose duplication factor is unknown)."""

    def __init__(self, plan: CompiledPlan, df: DataFrame, fitting: bool,
                 refit: bool):
        self.plan, self.fitting, self.refit = plan, fitting, refit
        self.df = df
        self.available = set(df.columns)
        self.lean = df if fitting else None
        self.lean_cols = set(self.available)
        self.maps: Dict[int, Dict[str, str]] = {}
        self.batched: list = []        # [(idx, op, ctx, agg_exprs)]
        self.heavy: list = []          # [(idx, op, ctx, frame)]
        self.deferred_cols: set = set()  # actual output names not yet created
        self.bridged: Dict[str, str] = {}  # dependency pub -> actual aliased
        self.windows: list = []        # [(op, ctx)] consecutive window ops
        self.window_cols: set = set()  # their (not yet created) outputs
        self.sinks: list = []          # [(op, ctx)] projections applied last

    def emit(self) -> DataFrame:
        for node in self.plan.order:
            if node.is_selection:
                missing = [c for c in node.selector.names
                           if c not in self.available]
                if missing:
                    raise KeyError(
                        f"Input columns {missing} not found in DataFrame "
                        f"(have {sorted(self.available)})"
                    )
                self.maps[id(node)] = {c: c for c in node.selector.names}
            elif node.op is None:
                out_map = self._parent_map(node)
                for c in node.removed:
                    out_map.pop(c, None)
                if node.subset is not None:
                    out_map = {c: out_map[c] for c in node.subset}
                self.maps[id(node)] = out_map
            else:
                self._emit_op(node)
        self._flush_fits()
        self._apply_sinks()
        final_map = self.maps[id(self.plan.root)]
        return self.df.select(
            *[F.col(act).alias(pub) for pub, act in final_map.items()]
        )

    def _parent_map(self, node: Node) -> Dict[str, str]:
        parent_map: Dict[str, str] = {}
        for p in node.parents:
            for pub, act in self.maps[id(p)].items():
                if pub in parent_map and parent_map[pub] != act:
                    raise ValueError(
                        f"Duplicate column '{pub}' from sibling branches at "
                        f"{node.label}; use Rename to disambiguate"
                    )
                parent_map[pub] = act
        return parent_map

    def _emit_op(self, node: Node) -> None:
        from ..operators.base import (AggStatOperator, StatOperator,
                                      TransformContext, WindowOperator)
        op = node.op
        idx = self.plan.node_index[id(node)]
        selector = node.input_group_selector()
        ctx = TransformContext(selector, self._parent_map(node), {})
        dep_alias, reused_acts = self._dependency_aliases(node)

        # flush pending fits when this node needs a deferred column, or
        # when it changes row cardinality (its row set must not affect
        # the pending aggregations' input)
        needs = set(ctx.inputs.values()) | set(op.dependencies()) \
            | set(dep_alias.values()) | reused_acts
        if (self.batched or self.heavy) and (
            needs & self.deferred_cols or not op.row_preserving
        ):
            self._flush_fits()
        # apply batched window projections when this node reads one of
        # their outputs (row-set changes are handled by _apply_sinks)
        if self.windows and needs & self.window_cols:
            self._apply_windows()
        if dep_alias:
            self._bridge(dep_alias)

        needs_fit = self.fitting and isinstance(op, StatOperator) \
            and (self.refit or not op.fitted)
        defer = needs_fit and op.defer_ok
        if needs_fit and not defer:
            # outputs are computed *after* fit — some stat ops (e.g.
            # DropLowCardinality) only know their outputs once fitted
            op.fit(ctx, self.df)
            op.fitted = True
        ctx.outputs = {p: f"_n{idx}__{p}"
                       for p in op.output_column_names(selector)}
        self.maps[id(node)] = ctx.outputs

        if id(node) in self.plan.sinks:
            self.sinks.append((op, ctx))
        elif isinstance(op, WindowOperator) and not node.dependency_nodes:
            self.windows.append((op, ctx))
            self.window_cols.update(ctx.outputs.values())
        elif defer:
            if isinstance(op, AggStatOperator) and needs <= self.lean_cols:
                # fuse into the single batched agg job
                self.batched.append(
                    (idx, op, ctx, op.agg_requests(ctx, self.lean)))
            else:
                # heavy fit (its own groupBy jobs): run concurrently
                # with the other deferred fits at the next flush
                self.heavy.append((idx, op, ctx, self.df))
            self.deferred_cols.update(ctx.outputs.values())
        else:
            if not op.row_preserving:
                # sinks' input columns live in THIS frame — apply them
                # before the row-set change replaces it
                self._apply_sinks()
            self._transform(op, ctx)

    def _dependency_aliases(self, node: Node):
        """Node dependencies (side inputs, e.g. a TargetEncoding target
        produced by another node): bridge each dependency output to its
        PUBLIC name so the op reads it like a raw column. Collisions
        with live columns are rejected — the dependency branch must
        Rename first. Returns (new aliases, actual names an earlier
        consumer already bridged)."""
        dep_alias: Dict[str, str] = {}
        reused_acts: set = set()
        for d in node.dependency_nodes:
            for pub, act in self.maps[id(d)].items():
                if pub == act:
                    continue
                if self.bridged.get(pub) == act:
                    # don't treat an earlier consumer's alias as a collision
                    reused_acts.add(act)
                    continue
                if pub in self.df.columns or pub in self.deferred_cols:
                    raise ValueError(
                        f"dependency column '{pub}' of {node.label} "
                        f"collides with an existing column; Rename "
                        f"the dependency branch")
                dep_alias[pub] = act
        return dep_alias, reused_acts

    def _bridge(self, dep_alias: Dict[str, str]) -> None:
        cols = {p: F.col(a) for p, a in dep_alias.items()}
        self.df = self.df.withColumns(cols)
        if self.lean is not None and set(dep_alias.values()) <= self.lean_cols:
            self.lean = self.lean.withColumns(cols)
            self.lean_cols |= set(dep_alias)
        self.bridged.update(dep_alias)

    def _transform(self, op, ctx) -> None:
        """Apply ``op`` to the threaded frame and, on fitting runs, keep
        the lean frame in step."""
        self.df = op.transform(ctx, self.df)
        if self.lean is None:
            return
        if not op.row_preserving:
            # row set changed: resync the lean frame (the flush already ran)
            self.lean, self.lean_cols = self.df, set(self.df.columns)
        elif op.cheap_transform and (
                set(ctx.inputs.values()) | set(op.dependencies())
                <= self.lean_cols):
            self.lean = op.transform(ctx, self.lean)
            self.lean_cols |= set(ctx.outputs.values())

    def _flush_fits(self) -> None:
        if not self.batched and not self.heavy:
            return
        run_fits(self.batched, self.heavy, self.lean, self.plan.fit_report)
        # apply transforms in DAG order (all fitted now)
        for _, op, ctx, _ in sorted(self.batched + self.heavy,
                                    key=lambda t: t[0]):
            op.fitted = True
            self._transform(op, ctx)
        self.batched, self.heavy, self.deferred_cols = [], [], set()

    def _apply_windows(self) -> None:
        if self.windows:
            from ..operators.base import lower_windows
            self.df = lower_windows(self.df, self.windows)
            self.windows, self.window_cols = [], set()

    def _apply_sinks(self) -> None:
        self._apply_windows()   # sinks may read window outputs
        for op, ctx in self.sinks:
            self.df = op.transform(ctx, self.df)
        self.sinks = []
