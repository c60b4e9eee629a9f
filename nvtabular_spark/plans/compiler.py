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
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import Node, postorder, input_column_names


class CompiledPlan:
    def __init__(self, root: Node):
        self.root = root
        self.order: List[Node] = postorder(root)
        self.node_index: Dict[int, int] = {
            id(n): i for i, n in enumerate(self.order)
        }

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
        from ..operators.base import (AggStatOperator, Operator,
                                      StatOperator, TransformContext,
                                      WindowOperator, lower_windows)

        available = set(df.columns)
        maps: Dict[int, Dict[str, str]] = {}
        df_work = df
        #: per-fit accounting: how many shared-key fusion jobs,
        #: standalone heavy fits, and batched agg jobs ran — asserted by
        #: plan-shape tests (a constant input-scan count per key set).
        #: Only reset on fitting runs so it survives the transform pass.
        if fit or refit or not hasattr(self, "fit_report"):
            self.fit_report = {"fused_groups": 0, "fused_requests": 0,
                               "standalone_fits": 0, "batched_agg_jobs": 0}

        # Lean frame: input + cheap (pure-expression) transforms only.
        # Batched fit aggregations run against THIS frame, so they never
        # drag broadcast joins or window shuffles of sibling branches
        # into the stats job (Catalyst cannot prune a left join whose
        # duplication factor is unknown).
        df_lean = df
        lean_cols = set(df.columns)

        pending: list = []            # [(op, ctx)] deferred AggStatOperators
        pending_heavy: list = []      # [(op, ctx, df)] deferred heavy fits
        deferred_cols: set = set()    # actual output names not yet created
        bridged: Dict[str, str] = {}  # dependency pub -> actual already aliased

        # -- sinkable cheap projections -----------------------------------
        # A cheap (pure-expression) row-preserving non-stat op whose
        # outputs no OTHER op consumes only feeds the final select; its
        # projection is applied LAST so derived payload columns (padded
        # token arrays, renamed copies) are computed ABOVE any window/
        # aggregation Exchange instead of being shuffled through it
        # (guide §2.3 "project before the exchange" — measured 19.7s vs
        # 15.8s on the 10M-row tokenized workload's window stage).
        # Values are unchanged: the op is row-aligned and nothing
        # downstream reads its outputs. Deferred projections are
        # applied before any row-cardinality-changing op (whose output
        # frame would drop their input columns).
        from .graph import Node as _Node

        def _op_sources(n: _Node) -> set:
            out, stack = set(), list(n.parents) + list(n.dependency_nodes)
            while stack:
                p = stack.pop()
                if p.op is not None:
                    out.add(id(p))
                elif not p.is_selection:
                    stack.extend(p.parents)
                    stack.extend(p.dependency_nodes)
            return out

        consumed_ops: set = set()
        for n in self.order:
            if n.op is not None:
                consumed_ops |= _op_sources(n)

        def _sinkable(n: _Node) -> bool:
            return (n.op is not None
                    and getattr(n.op, "cheap_transform", False)
                    and n.op.row_preserving
                    and not isinstance(n.op, StatOperator)
                    and id(n) not in consumed_ops)

        sinkable_pending: list = []   # [(op, ctx)] projections applied last

        # -- window-op fusion (see WindowOperator) -------------------------
        # consecutive window ops are lowered together, in one projection
        win_pending: list = []        # [(op, ctx)] consecutive window ops
        win_cols: set = set()         # their (not yet created) outputs

        def apply_windows():
            nonlocal df_work
            if win_pending:
                df_work = lower_windows(df_work, win_pending)
                win_pending.clear()
                win_cols.clear()

        def apply_sinkable():
            nonlocal df_work
            apply_windows()   # sinked projections may read window outputs
            for op_, ctx_ in sinkable_pending:
                df_work = op_.transform(ctx_, df_work)
            sinkable_pending.clear()

        def apply_lean(op, ctx):
            nonlocal df_lean, lean_cols
            needs = set(ctx.inputs.values()) | set(op.dependencies())
            if getattr(op, "cheap_transform", False) and needs <= lean_cols:
                df_lean = op.transform(ctx, df_lean)
                lean_cols |= set(ctx.outputs.values())

        def flush():
            """Run every deferred fit: ONE fused agg job for the
            batchable stats, ONE groupBy job per distinct key set for
            the fusable grouped fits (JoinGroupby/TargetEncoding sharing
            keys share a single input scan), and the remaining heavy
            fits (Categorify vocab scans) — all CONCURRENTLY from driver
            threads; Spark interleaves their stages, so fit wall-clock ≈
            the longest single scan instead of the sum of scans."""
            nonlocal df_work
            if not pending and not pending_heavy:
                return
            errors = []
            from concurrent.futures import ThreadPoolExecutor

            def run_batched():
                exprs = []
                for op, ctx in pending:
                    exprs.extend(op._pending_exprs)
                row = df_lean.agg(*exprs).collect()[0]
                for op, ctx in pending:
                    op.consume_agg(row)
                    op.fitted = True

            # -- shared-key fusion: group fusable fit requests ---------------
            # by (input snapshot, key columns, fold signature); each
            # group becomes ONE groupBy job feeding every member op
            fusion_groups: Dict[tuple, list] = {}
            standalone = []
            seen_ops = set()
            for op, ctx, _snap in pending_heavy:
                if id(op) in seen_ops:
                    raise ValueError(
                        f"the same {type(op).__name__} instance is used at "
                        f"two DAG nodes — concurrent fits would race on its "
                        f"state; construct a separate instance per branch")
                seen_ops.add(id(op))
            for op, ctx, snap in pending_heavy:
                reqs = op.fused_fit_requests(ctx)
                if reqs is None:
                    standalone.append((op, ctx, snap))
                    continue
                op._fused_remaining = len(reqs)
                for r in reqs:
                    gk = (id(snap), r.keys, r.fold_sig)
                    fusion_groups.setdefault(gk, [snap, []])[1].append(r)
            # fold-agnostic requests (fold_sig None) piggyback on a
            # same-key group that has a fold; their partials are
            # fold-additive (re-aggregated in consume_fused)
            for gk in [k for k in fusion_groups if k[2] is None]:
                sid, keys, _ = gk
                hosts = [k for k in fusion_groups
                         if k[0] == sid and k[1] == keys and k[2]]
                if hosts:
                    snap, reqs = fusion_groups.pop(gk)
                    fusion_groups[hosts[0]][1].extend(reqs)

            import threading
            fuse_lock = threading.Lock()

            def run_fused(snap, reqs):
                from ..sources.artifacts import materialize
                keys = reqs[0].keys
                cols = [F.col(a).alias(f"__k{i}")
                        for i, a in enumerate(keys)]
                fold_req = next((r for r in reqs
                                 if r.fold_expr is not None), None)
                if fold_req is not None:
                    cols.append(fold_req.fold_expr.alias("__fold__"))
                aggs = [a for r in reqs for a in r.aggs]
                grouped = snap.groupBy(*cols).agg(*aggs)
                # record the physical plan for plan-shape assertions
                # (one Exchange, partial+final hash aggregate)
                try:
                    self.fit_report.setdefault("fused_plans", []).append(
                        grouped._jdf.queryExecution().executedPlan()
                        .toString())
                except Exception:
                    pass
                import uuid
                gdf, _ = materialize(
                    grouped, f"fusedfit_{uuid.uuid4().hex[:8]}")
                for r in reqs:
                    r.op.consume_fused(r, gdf)
                    # an op's requests may land in groups running on
                    # different threads — guard the remaining counter
                    with fuse_lock:
                        r.op._fused_remaining -= 1
                        if r.op._fused_remaining == 0:
                            r.op.fitted = True

            jobs = []
            if pending:
                jobs.append((run_batched, (), "batched-agg"))
                self.fit_report["batched_agg_jobs"] += 1
            for (sid, keys, _), (snap, reqs) in fusion_groups.items():
                label = f"fused-fit[{','.join(keys)}]"
                jobs.append((run_fused, (snap, reqs), label))
                self.fit_report["fused_groups"] += 1
                self.fit_report["fused_requests"] += len(reqs)
            for op, ctx, snap in standalone:
                jobs.append((op.fit, (ctx, snap), type(op).__name__))
                self.fit_report["standalone_fits"] += 1
            if len(jobs) == 1:
                jobs[0][0](*jobs[0][1])
            else:
                with ThreadPoolExecutor(max_workers=min(len(jobs), 8)) as ex:
                    futs = [ex.submit(fn, *args) for fn, args, _ in jobs]
                    for f, (_, _, name) in zip(futs, jobs):
                        try:
                            f.result()
                        except Exception as e:  # re-raise with op context
                            errors.append((name, e))
            if errors:
                raise errors[0][1]

            # apply transforms in DAG order (all fitted now)
            ordered = [(op, ctx) for op, ctx in pending] + \
                      [(op, ctx) for op, ctx, _ in pending_heavy]
            ordered.sort(key=lambda t: t[1]._defer_seq)
            for op, ctx in ordered:
                op.fitted = True
                df_work = op.transform(ctx, df_work)
                apply_lean(op, ctx)
                deferred_cols.difference_update(ctx.outputs.values())
            pending.clear()
            pending_heavy.clear()

        for node in self.order:
            idx = self.node_index[id(node)]
            if node.is_selection:
                missing = [c for c in node.selector.names if c not in available]
                if missing:
                    raise KeyError(
                        f"Input columns {missing} not found in DataFrame "
                        f"(have {sorted(available)})"
                    )
                maps[id(node)] = {c: c for c in node.selector.names}
                continue

            parent_map: Dict[str, str] = {}
            for p in node.parents:
                for pub, act in maps[id(p)].items():
                    if pub in parent_map and parent_map[pub] != act:
                        raise ValueError(
                            f"Duplicate column '{pub}' from sibling branches at "
                            f"{node.label}; use Rename to disambiguate"
                        )
                    parent_map[pub] = act

            if node.op is None:
                out_map = dict(parent_map)
                if node.removed:
                    for c in node.removed:
                        out_map.pop(c, None)
                if node.subset is not None:
                    out_map = {c: out_map[c] for c in node.subset}
                maps[id(node)] = out_map
                continue

            op: Operator = node.op
            selector = node.input_group_selector()
            ctx = TransformContext(selector, parent_map, {})

            # node dependencies (side inputs, e.g. a TargetEncoding
            # target produced by another node): bridge each dependency
            # output to its PUBLIC name so the op reads it like a raw
            # column. Collisions with live columns are rejected — the
            # dependency branch must Rename first.
            dep_alias: Dict[str, str] = {}
            reused_acts: set = set()
            for d in node.dependency_nodes:
                for pub, act in maps[id(d)].items():
                    if pub == act:
                        continue
                    if bridged.get(pub) == act:
                        # an earlier consumer of the same dependency
                        # already bridged pub -> act; reuse, don't
                        # treat our own alias as a collision
                        reused_acts.add(act)
                        continue
                    if pub in df_work.columns or pub in deferred_cols:
                        raise ValueError(
                            f"dependency column '{pub}' of {node.label} "
                            f"collides with an existing column; Rename "
                            f"the dependency branch")
                    dep_alias[pub] = act

            # flush pending batched fits when this node needs a deferred
            # column, or when it changes row cardinality (its row set
            # must not affect the pending aggregations' input)
            needs = set(parent_map.values()) | set(op.dependencies()) \
                | set(dep_alias.values()) | reused_acts
            if (pending or pending_heavy) and (
                needs & deferred_cols or not op.row_preserving
            ):
                flush()

            # apply batched window projections when this node reads one
            # of their outputs (row-set changes are handled inside
            # apply_sinkable, which non-row-preserving ops trigger)
            if win_pending and needs & win_cols:
                apply_windows()

            if dep_alias:
                df_work = df_work.withColumns(
                    {p: F.col(a) for p, a in dep_alias.items()})
                if set(dep_alias.values()) <= lean_cols:
                    df_lean = df_lean.withColumns(
                        {p: F.col(a) for p, a in dep_alias.items()})
                    lean_cols |= set(dep_alias)
                bridged.update(dep_alias)

            if _sinkable(node) and not node.dependency_nodes:
                out_publics = op.output_column_names(selector)
                ctx.outputs = {p: f"_n{idx}__{p}" for p in out_publics}
                sinkable_pending.append((op, ctx))
                maps[id(node)] = ctx.outputs
                continue

            needs_fit = isinstance(op, StatOperator) and (fit or refit) \
                and (refit or not op.fitted)

            if isinstance(op, WindowOperator) and not node.dependency_nodes:
                out_publics = op.output_column_names(selector)
                ctx.outputs = {p: f"_n{idx}__{p}" for p in out_publics}
                win_pending.append((op, ctx))
                win_cols.update(ctx.outputs.values())
                maps[id(node)] = ctx.outputs
                continue

            if needs_fit and getattr(op, "defer_ok", False):
                out_publics = op.output_column_names(selector)
                ctx.outputs = {p: f"_n{idx}__{p}" for p in out_publics}
                ctx._defer_seq = idx
                if isinstance(op, AggStatOperator) and needs <= lean_cols:
                    # fuse into the single batched agg job
                    op._pending_exprs = op.agg_requests(ctx, df_lean)
                    pending.append((op, ctx))
                else:
                    # heavy fit (its own groupBy jobs): run concurrently
                    # with the other deferred fits at the next flush
                    pending_heavy.append((op, ctx, df_work))
                deferred_cols.update(ctx.outputs.values())
                maps[id(node)] = ctx.outputs
                continue

            if needs_fit:
                op.fit(ctx, df_work)
                op.fitted = True

            # outputs are computed *after* fit — some stat ops (e.g.
            # DropLowCardinality) only know their outputs once fitted
            out_publics = op.output_column_names(selector)
            ctx.outputs = {p: f"_n{idx}__{p}" for p in out_publics}

            if not op.row_preserving:
                # sinked projections' input columns live in THIS frame —
                # apply them before the row-set change replaces it
                apply_sinkable()
            df_work = op.transform(ctx, df_work)
            if op.row_preserving:
                apply_lean(op, ctx)
            else:
                # row set changed: resync the lean frame (flush already ran)
                df_lean = df_work
                lean_cols = set(df_work.columns)
            maps[id(node)] = ctx.outputs

        flush()
        apply_sinkable()
        final_map = maps[id(self.root)]
        return df_work.select(
            *[F.col(act).alias(pub) for pub, act in final_map.items()]
        )
