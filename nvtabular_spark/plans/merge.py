"""Mergeable fitted state — fit per partition, combine, transform once.

At 10^12 rows a monthly re-fit over the FULL corpus is the dominant
cost of a feature pipeline. Where an operator's fitted state is a set
of distributive sufficient statistics (counts, sums, sums of squares,
min/max, per-group count+sum tables), two independently fitted
workflows over disjoint row sets can be combined EXACTLY:

    wf_a = nvt.Workflow(make_dag()).fit(january)
    wf_b = nvt.Workflow(make_dag()).fit(february)
    merged = nvt.merge_fits(wf_a, wf_b)     # ≡ fit(january ∪ february)
    merged.transform(march)

Supported exactly: Normalize (moment sums), NormalizeMinMax,
ValueCount, Categorify (count-preserving configurations: no
freq_threshold > 1, no max_size, no user vocab — those truncate the
stored counts, so a partition-wise merge would undercount), and
TargetEncoding (per-(group, fold) count/sum tables are additive; fold
assignment is row-local so partitioning cannot change it).

Refused with a clear error: order statistics (FillMedian, QuantileBin)
and finalized summaries (DataStats, JoinGroupby — its per-key table
stores FINALIZED mean/std, not the Chan partials) — their saved state
is not a sufficient statistic for the union. Re-fit those on the union
(their fits are single aggregation scans).

This mirrors the reference's two-phase fit/transform split
(nvtabular/workflow/workflow.py fit statistics pass) extended with the
standard distributive-aggregation merge; the reference itself has no
incremental fit.

Cost model, measured honestly: the merge itself costs O(state) — a
re-rank over vocab ROWS and a re-aggregation of group tables, plus a
handful of small Spark jobs — independent of how many corpus rows
produced that state. A full re-fit costs O(corpus scan). At sandbox
scale (150k rows, sub-2s scans) the fixed job overhead makes the full
re-fit FASTER (measured: 1.6s refit vs 3.3s delta+merge at sf0.1);
the crossover is wherever the historical scan exceeds a few seconds —
i.e. everywhere the north rule lives. Don't use merge_fits to
micro-optimize small fits; use it to avoid re-scanning a corpus.
"""

from __future__ import annotations

from .workflow import _overlay


class WorkflowMergeError(ValueError):
    pass


def _comparable_params(op) -> dict:
    p = dict(op.save_params() or {})
    # fitted state legitimately differs between the two halves — only
    # the op CONFIGURATION must match. An op's save_state() keys name
    # exactly its fitted attributes; incidental per-fit fields (temp
    # dirs, resolved paths) are likewise not part of the identity.
    state_keys = set()
    if hasattr(op, "save_state"):
        try:
            state_keys = set((op.save_state() or {}).keys())
        except Exception:
            pass
    return {k: v for k, v in p.items()
            if "path" not in k.lower() and k not in state_keys}


def merge_fits(into, other):
    """Merge ``other``'s fitted statistics INTO ``into`` (both fitted
    on disjoint row sets of the same logical table, with structurally
    identical DAGs). Returns ``into``. Exact: equivalent to having fit
    ``into`` on the union of both inputs, for every supported op.

    Validation is TWO-PHASE: every structural check and every op's
    ``merge_precheck`` runs over the whole DAG before the first
    mutation, so a refusal anywhere leaves ``into`` exactly as fitted
    — never half-merged."""
    a_order, b_order = into.plan.order, other.plan.order
    if len(a_order) != len(b_order):
        raise WorkflowMergeError(
            f"DAG shape mismatch: {len(a_order)} vs {len(b_order)} nodes")
    pairs = []
    for na, nb in zip(a_order, b_order):
        oa, ob = na.op, nb.op
        if (oa is None) != (ob is None):
            raise WorkflowMergeError("DAG shape mismatch: op vs selection "
                                     "node at the same position")
        if oa is None:
            continue
        if type(oa) is not type(ob):
            raise WorkflowMergeError(
                f"DAG mismatch: {type(oa).__name__} vs {type(ob).__name__}")
        if oa is ob:
            raise WorkflowMergeError(
                f"both workflows share the SAME {type(oa).__name__} "
                "instance — fit two separately constructed DAGs")
        if _comparable_params(oa) != _comparable_params(ob):
            raise WorkflowMergeError(
                f"{type(oa).__name__} params differ between the two "
                "workflows — merge requires identical op configuration")
        sa = list(na.selector.names) if na.selector else None
        sb = list(nb.selector.names) if nb.selector else None
        if sa != sb:
            raise WorkflowMergeError(
                f"selector mismatch at {type(oa).__name__}: {sa} vs {sb}")
        oa.merge_precheck(ob)
        pairs.append((oa, ob))
    for oa, ob in pairs:
        oa.merge_fitted(ob)
    # the schema holds the ops' property objects only until a save/load
    # round trip, so re-derive the merged ops' tags and properties
    if into.output_schema is not None and into.input_schema is not None:
        _overlay(into.output_schema,
                 into._propagate_schema(into.input_schema))
    return into
