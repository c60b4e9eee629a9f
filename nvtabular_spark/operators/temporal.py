"""Point-in-time / windowed feature ops (north_rule extensions).

NOT in the reference (closest analog: DifferenceLag,
difference_lag.py:23-105); required by BASELINE.json.north_rule:
as-of join, lag/lead, rolling backfill, timestamp-gap sessionization —
all with ZERO temporal leakage (no feature reads rows at t' >= t).

Spark-first formulations (SURVEY.md §2.11):

* **AsOfJoin** — union-tag trick: tag both sides, union, then
  ``last(value, ignorenulls=True) OVER (PARTITION BY entity ORDER BY
  ts, side ROWS UNBOUNDED PRECEDING .. -1|0)``. One shuffle on the
  entity key, no range-explosion, skew handled by AQE + optional
  salting. Strict mode (``allow_exact_matches=False``) ends the frame
  at -1 with right rows ordered *before* left at equal ts → only
  ``t' < t`` is visible (zero leakage by construction).
* **Lag / Lead / RollingAgg** — plain window functions; RollingAgg
  frames end at -1 row (strictly before current).
* **RollingBackfill** — forward/backward fill via
  ``last/first(ignorenulls=True)``; forward-fill only reads the past.
* **Sessionize** — gap = ts - lag(ts) > threshold; session id =
  running sum of boundary flags (classic sessionization).
"""

from __future__ import annotations

from typing import List, Optional, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .base import (AggStatOperator, Operator, TransformContext,
                   WindowOperator, as_list)
from ..plans.graph import ColumnSelector


def epoch_seconds(df: DataFrame, col: str) -> Column:
    """The engine's epoch-seconds rule: a timestamp column as
    fractional epoch seconds (matches DuckDB epoch()), any other column
    cast to double."""
    if df.schema[col].dataType.simpleString().startswith("timestamp"):
        return F.unix_micros(F.col(col).cast("timestamp")) / F.lit(1e6)
    return F.col(col).cast("double")


class AsOfJoin(Operator):
    """For each left row (entity, ts), attach the latest right-side
    value at ``t' < t`` (strict, default) or ``t' <= t``.

    ``right``: DataFrame with [entity, ts, value columns...].
    Selected (left) columns pass through unchanged; right value columns
    are appended with optional ``suffix``.
    """

    cheap_transform = False  # union+window-backed

    def __init__(self, right: DataFrame, on: Union[str, List[str]],
                 ts_col: str, right_ts_col: Optional[str] = None,
                 value_cols: Optional[List[str]] = None,
                 allow_exact_matches: bool = False, suffix: str = "",
                 bucket_seconds: Optional[float] = None,
                 broadcast_carry: Optional[bool] = None,
                 tolerance_seconds: Optional[float] = None):
        self.on = [on] if isinstance(on, str) else list(on)
        self.ts_col = ts_col
        self.right_ts_col = right_ts_col or ts_col
        self._right = right
        self.value_cols = value_cols or [
            c for c in right.columns
            if c not in set(self.on) | {self.right_ts_col}]
        self.allow_exact_matches = allow_exact_matches
        self.suffix = suffix
        #: skew handling (north_rule "salted repartitioning for skewed
        #: entities"): with bucket_seconds set, the window runs per
        #: (entity, time-bucket) — a hot entity's timeline splits across
        #: many tasks — plus a tiny carry-in pass over (entity, bucket)
        #: aggregates to seed each bucket with the last prior value.
        self.bucket_seconds = bucket_seconds
        #: carry/seed frames have one row per (entity, bucket) — tiny
        #: for hot-entity skew but NOT broadcastable at 1e8 entities.
        #: None (default) = no hint; AQE picks broadcast at runtime iff
        #: the materialized side is under autoBroadcastJoinThreshold.
        #: True forces the hint (small-entity workloads), False never.
        self.broadcast_carry = broadcast_carry
        #: pandas merge_asof ``tolerance``: a matched value older than
        #: this many seconds is discarded (NULL) — "use the last quote,
        #: but never one staler than 5 minutes". Implemented by carrying
        #: each non-null right value as a (right_ts, value) STRUCT
        #: through the SAME fill window (the struct is null exactly when
        #: the value is, so the ignorenulls fallback semantics are
        #: unchanged) and unwrapping with the staleness predicate after
        #: the fill — zero extra shuffles on either fill path.
        if tolerance_seconds is not None and tolerance_seconds <= 0:
            raise ValueError("tolerance_seconds must be > 0")
        self.tolerance_seconds = tolerance_seconds

    def dependencies(self):
        return self.on + [self.ts_col]

    def output_column_names(self, selector: ColumnSelector):
        return list(selector.names) + [f"{c}{self.suffix}"
                                       for c in self.value_cols]

    def transform(self, ctx: TransformContext, df: DataFrame) -> DataFrame:
        """Plan shape: the full left row payload rides THROUGH the
        union+window — ONE shuffle total, no row-id stamping, no
        self-join, no checkpoint. (Earlier designs joined the filled
        values back by a monotonically_increasing_id, which required a
        lineage-cutting localCheckpoint for correctness — a full input
        materialization at 100 TB. Carrying payload is strictly
        cheaper: the window shuffle moves each left row once either
        way, and the right side contributes only nulls that Catalyst
        never materializes.)"""
        right = self._right
        payload = list(df.columns)
        on_set = set(self.on)

        tol = self.tolerance_seconds
        if tol is not None:
            from pyspark.sql.types import (DoubleType, StructField,
                                           StructType)
            rsec = epoch_seconds(right, self.right_ts_col)

            def _rv_type(c):
                return StructType([
                    StructField("t", DoubleType()),
                    StructField("v", right.schema[c].dataType)])

            def _rv_right(c):
                # null struct exactly when the value is null, so the
                # ignorenulls fill still skips null right values
                return F.when(
                    F.col(c).isNotNull(),
                    F.struct(rsec.alias("t"), F.col(c).alias("v")))
        else:
            def _rv_type(c):
                return right.schema[c].dataType

            def _rv_right(c):
                return F.col(c)

        left_tagged = df.select(
            *[F.col(c) for c in payload],
            F.col(self.ts_col).alias("__ts__"),
            F.lit(1).alias("__side__"),   # left sorts AFTER right at equal ts
            *[F.lit(None).cast(_rv_type(c)).alias(f"__rv_{c}")
              for c in self.value_cols],
        )
        right_tagged = right.select(
            *[(F.col(c) if c in on_set
               else F.lit(None).cast(df.schema[c].dataType)).alias(c)
              for c in payload],
            F.col(self.right_ts_col).alias("__ts__"),
            F.lit(0).alias("__side__"),
            *[_rv_right(c).alias(f"__rv_{c}") for c in self.value_cols],
        )
        unioned = left_tagged.unionByName(right_tagged)

        # Frame (unbounded, -1) excludes the current (left) row. The tie
        # order at equal ts decides leakage:
        #  * exact matches allowed (t' <= t): right(0) sorts BEFORE
        #    left(1) → equal-ts right rows fall inside the -1 frame.
        #  * strict (t' < t): left(1) sorts first → equal-ts right rows
        #    fall OUTSIDE the frame; only t' < t is visible. Equal-ts
        #    left rows that slip into the frame carry null right-values,
        #    so last(ignorenulls) never reads them.
        side_order = (F.col("__side__") if self.allow_exact_matches
                      else F.col("__side__").desc())

        if self.bucket_seconds:
            filled = self._bucketed_fill(unioned, payload, side_order)
        else:
            w = (Window.partitionBy(*self.on)
                 .orderBy(F.col("__ts__"), side_order)
                 .rowsBetween(Window.unboundedPreceding, -1))
            filled = unioned.select(
                *payload,
                F.col("__side__"),
                *[F.last(F.col(f"__rv_{c}"), ignorenulls=True).over(w)
                  .alias(f"__rv_{c}") for c in self.value_cols],
            ).filter(F.col("__side__") == 1).drop("__side__")

        cols = {ctx.out(pub): F.col(act) for pub, act in ctx.pairs()}
        if tol is None:
            for c in self.value_cols:
                cols[ctx.out(f"{c}{self.suffix}")] = F.col(f"__rv_{c}")
        else:
            lsec = epoch_seconds(filled, self.ts_col)
            for c in self.value_cols:
                s = F.col(f"__rv_{c}")
                cols[ctx.out(f"{c}{self.suffix}")] = F.when(
                    lsec - s["t"] <= F.lit(float(tol)), s["v"])
        return filled.withColumns(cols).drop(
            *[f"__rv_{c}" for c in self.value_cols])

    def _bucketed_fill(self, unioned: DataFrame, payload: List[str],
                       side_order) -> DataFrame:
        """Skew-proof fill: (1) per-(entity, time-bucket) local window —
        a hot entity spreads over many tasks; (2) per-bucket last right
        value, aggregated (tiny frame); (3) running carry-in from prior
        buckets; (4) coalesce(local, carry_in). The left payload rides
        the local window; the carry/seed branches project it away, so
        Catalyst never shuffles it twice."""
        epoch = F.unix_micros(F.col("__ts__").cast("timestamp")) / F.lit(1e6)
        u = unioned.withColumn(
            "__bkt__", F.floor(epoch / F.lit(float(self.bucket_seconds))))

        w_local = (Window.partitionBy(*self.on, "__bkt__")
                   .orderBy(F.col("__ts__"), side_order)
                   .rowsBetween(Window.unboundedPreceding, -1))
        non_key_payload = [c for c in payload if c not in set(self.on)]
        local = u.select(
            F.col("__side__"), F.col("__bkt__"),
            *[F.col(c) for c in self.on],
            *[F.col(c) for c in non_key_payload],
            *[F.last(F.col(f"__rv_{c}"), ignorenulls=True).over(w_local)
              .alias(f"__loc_{c}") for c in self.value_cols])

        # last right-side value inside each bucket (right rows only):
        # max_by over (ts) — deterministic when (entity, ts) unique
        per_bucket = (u.filter(F.col("__side__") == 0)
                      .groupBy(*self.on, "__bkt__")
                      .agg(*[F.max_by(F.col(f"__rv_{c}"), F.col("__ts__"))
                             .alias(f"__pb_{c}") for c in self.value_cols]))
        # running INCLUSIVE: carry(B') = last right value in buckets ≤ B'
        w_carry = (Window.partitionBy(*self.on).orderBy("__bkt__")
                   .rowsBetween(Window.unboundedPreceding, 0))
        carry = per_bucket.select(
            *self.on, "__bkt__",
            *[F.last(F.col(f"__pb_{c}"), ignorenulls=True).over(w_carry)
              .alias(f"__ci_{c}") for c in self.value_cols])

        # seed for a left bucket B = carry of the LARGEST carry bucket
        # strictly < B (bucket B's own right rows are covered by the
        # local window). The carry frame is tiny — broadcast join.
        def _hint(frame):
            # size-guarded broadcast: only force the hint when the user
            # asserts the (entity, bucket) frame is small; by default
            # AQE decides from the materialized size at runtime
            return F.broadcast(frame) if self.broadcast_carry else frame

        left_rows = local.filter(F.col("__side__") == 1)
        lb = left_rows.select(*self.on, "__bkt__").distinct()
        from functools import reduce
        import operator as _op
        joined = lb.alias("l").join(
            _hint(carry.alias("r")),
            reduce(_op.and_, [F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}"))
                              for c in self.on]
                   + [F.col("r.__bkt__") < F.col("l.__bkt__")]), "left")
        w_pick = Window.partitionBy(
            *[F.col(f"l.{c}") for c in self.on], F.col("l.__bkt__")) \
            .orderBy(F.col("r.__bkt__").desc_nulls_last())
        seed = (joined.withColumn("__rn__", F.row_number().over(w_pick))
                .filter(F.col("__rn__") == 1)
                .select(*[F.col(f"l.{c}").alias(c) for c in self.on],
                        F.col("l.__bkt__").alias("__bkt__"),
                        *[F.col(f"r.__ci_{c}").alias(f"__seed_{c}")
                          for c in self.value_cols]))

        out = left_rows.join(_hint(seed), [*self.on, "__bkt__"],
                             "left")
        return out.select(
            *[F.col(c) for c in payload],
            *[F.coalesce(F.col(f"__loc_{c}"), F.col(f"__seed_{c}"))
              .alias(f"__rv_{c}") for c in self.value_cols])

    def artifacts(self):
        return {"right": self._right}

    def load_artifacts(self, spark, paths):
        self._right = spark.read.parquet(paths["right"])

    def save_params(self):
        return {"on": self.on, "ts_col": self.ts_col,
                "right_ts_col": self.right_ts_col,
                "value_cols": self.value_cols,
                "allow_exact_matches": self.allow_exact_matches,
                "suffix": self.suffix,
                "bucket_seconds": self.bucket_seconds,
                "broadcast_carry": self.broadcast_carry,
                "tolerance_seconds": self.tolerance_seconds}

    @classmethod
    def load_params(cls, params):
        op = cls.__new__(cls)
        op.broadcast_carry = None  # default for pre-r2 saved graphs
        op.tolerance_seconds = None  # default for pre-r5 saved graphs
        for k, v in params.items():
            setattr(op, k, v)
        op._right = None
        return op


class Lag(WindowOperator):
    """``lag(x, k)`` over an entity-time window; NULL at boundaries.
    Every shift k must be >= 1: strictly past-looking → zero leakage."""

    _shift, _kind = staticmethod(F.lag), "lag"

    def __init__(self, partition_cols: Union[str, List[str]],
                 order_by: Union[str, List[str]], shifts: Union[int, List[int]] = 1):
        super().__init__(partition_cols, order_by)
        self.shifts = as_list(shifts)
        if not all(isinstance(s, int) and s >= 1 for s in self.shifts):
            raise ValueError(f"{type(self).__name__} shifts must be ints "
                             f">= 1, got {self.shifts}")

    def output_column_names(self, selector: ColumnSelector):
        return [f"{c}_{self._kind}_{s}" for c in selector.names
                for s in self.shifts]

    def window_fusion(self, ctx, df):
        w = Window.partitionBy(*self.partition_cols).orderBy(*self.order_by)
        return {ctx.out(f"{pub}_{self._kind}_{s}"):
                self._shift(F.col(act), s).over(w)
                for pub, act in ctx.pairs() for s in self.shifts}


class Lead(Lag):
    """``lead(x, k)`` — future-looking by definition; intended for label
    construction, never for features at serving time."""

    _shift, _kind = staticmethod(F.lead), "lead"


class RollingBackfill(WindowOperator):
    """Fill nulls from neighbours within an entity-time window.
    ``direction='forward'`` (default) carries the last past non-null
    value forward — reads only ``t' <= t``, no leakage.
    ``direction='backward'`` reads the future (use for offline label
    cleanup only)."""

    def __init__(self, partition_cols: Union[str, List[str]],
                 order_by: Union[str, List[str]], direction: str = "forward"):
        if direction not in ("forward", "backward"):
            raise ValueError("direction must be 'forward' or 'backward'")
        super().__init__(partition_cols, order_by)
        self.direction = direction

    def window_fusion(self, ctx, df):
        base = Window.partitionBy(*self.partition_cols).orderBy(*self.order_by)
        cols = {}
        for pub, act in ctx.pairs():
            c = F.col(act)
            if df.schema[act].dataType.simpleString() in ("double", "float"):
                c = F.when(F.isnan(c), F.lit(None)).otherwise(c)  # NaN ≡ missing
            if self.direction == "forward":
                w = base.rowsBetween(Window.unboundedPreceding, 0)
                cols[ctx.out(pub)] = F.last(c, ignorenulls=True).over(w)
            else:
                w = base.rowsBetween(0, Window.unboundedFollowing)
                cols[ctx.out(pub)] = F.first(c, ignorenulls=True).over(w)
        return cols


class Sessionize(WindowOperator):
    """Session ids from timestamp gaps: a new session starts when
    ``ts - lag(ts) > gap`` seconds. Applied to the timestamp column;
    outputs ``<ts>_session_id`` (0-based per entity). Uses only past
    rows → zero leakage."""

    def __init__(self, partition_cols: Union[str, List[str]], gap: float):
        super().__init__(partition_cols)
        self.gap = gap

    def output_column_names(self, selector: ColumnSelector):
        return [f"{c}_session_id" for c in selector.names]

    def window_fusion(self, ctx, df):
        cols = {}
        for pub, act in ctx.pairs():
            ts = epoch_seconds(df, act)
            w = Window.partitionBy(*self.partition_cols).orderBy(F.col(act))
            prev = F.lag(ts).over(w)
            boundary = F.when(prev.isNull(), F.lit(0)) \
                .when(ts - prev > F.lit(float(self.gap)), F.lit(1)) \
                .otherwise(F.lit(0))
            wsum = w.rowsBetween(Window.unboundedPreceding, 0)
            # the nested lag inside the running sum is extracted by
            # Catalyst into its own Window level automatically
            cols[ctx.out(f"{pub}_session_id")] = F.sum(boundary).over(wsum) \
                .cast("long")
        return cols


def _check_time_frame(order_by: List[str], window_seconds,
                      gap_seconds) -> None:
    """Contract of the trailing time-range frame shared by RollingAgg
    and TimeDecay."""
    if len(order_by) != 1:
        raise ValueError("a time-range frame orders by exactly one "
                         "timestamp/numeric column")
    if int(window_seconds) <= 0 or int(gap_seconds) < 1:
        raise ValueError("window_seconds must be > 0 and "
                         "gap_seconds >= 1 (whole seconds; the "
                         ">=1s gap is what guarantees the "
                         "strictly-past contract under ties)")


def _time_frame(op: WindowOperator, df: DataFrame):
    """(epoch seconds of the op's timestamp, the range frame
    [ts - window_seconds, ts - gap_seconds] over them). Int boundaries
    coerce to the double order key."""
    sec = epoch_seconds(df, op.order_by[0])
    return sec, (Window.partitionBy(*op.partition_cols).orderBy(sec)
                 .rangeBetween(-int(op.window_seconds),
                               -int(op.gap_seconds)))


class RollingAgg(WindowOperator):
    """Rolling aggregates over the strictly-past window: e.g. trailing
    mean/sum/count of the previous ``n`` events (row frame ending at
    -1 row) or of the trailing ``window_seconds`` of wall time (range
    frame over epoch seconds of the single ``order_by`` timestamp,
    ending at ``gap_seconds`` before the current row). Zero temporal
    leakage by construction — the current row is never inside its own
    frame, and in time mode neither is any row with the same (or a
    sub-``gap_seconds``-older) timestamp, which also makes the result
    deterministic under timestamp ties.

    Both frames are a single partitionBy(entity).orderBy(ts) window —
    ONE Exchange, or zero when the input is already entity-bucketed
    and ts-sorted (``sources.write_bucketed``); at 10^12 rows the
    range frame costs the same shuffle as the row frame.

    ``nunique`` is the trailing distinct count (e.g. distinct items a
    user touched in the last hour — the classic breadth counter):
    exact via ``size(collect_set) OVER``, whose frame state is
    O(distinct-in-frame); ``approx_nunique`` is the HyperLogLog++
    variant whose state is O(2^p) REGARDLESS of frame width — the
    100 TB choice whenever a hot entity can hold millions of distinct
    values inside one window. Nulls never count; an empty frame
    yields 0 (a count, not a moment — unlike std/var there is no
    minimum-observations contract)."""

    _FNS = {"sum": F.sum, "mean": F.mean, "min": F.min, "max": F.max,
            "count": F.count, "std": F.stddev_samp, "var": F.var_samp}
    _DISTINCT = {"nunique", "approx_nunique"}

    def __init__(self, partition_cols: Union[str, List[str]],
                 order_by: Union[str, List[str]],
                 window_rows: Optional[int] = None,
                 aggs: Union[str, List[str]] = "mean",
                 window_seconds: Optional[int] = None,
                 gap_seconds: int = 1):
        super().__init__(partition_cols, order_by)
        self.window_rows = window_rows
        self.aggs = as_list(aggs)
        self.window_seconds = window_seconds
        self.gap_seconds = gap_seconds
        bad = set(self.aggs) - set(self._FNS) - self._DISTINCT
        if bad:
            raise ValueError(f"unsupported rolling aggs: {sorted(bad)}")
        if window_seconds is not None:
            if window_rows is not None:
                raise ValueError(
                    "window_rows and window_seconds are exclusive; "
                    "compose two RollingAgg ops for both frames")
            _check_time_frame(self.order_by, window_seconds, gap_seconds)

    def _suffix(self):
        if self.window_seconds is not None:
            return f"t{int(self.window_seconds)}s"
        return self.window_rows or "all"

    def output_column_names(self, selector: ColumnSelector):
        n = self._suffix()
        return [f"{c}_rolling_{a}_{n}" for c in selector.names
                for a in self.aggs]

    def window_fusion(self, ctx, df):
        if self.window_seconds is not None:
            _, w = _time_frame(self, df)
        else:
            start = Window.unboundedPreceding if self.window_rows is None \
                else -self.window_rows
            w = (Window.partitionBy(*self.partition_cols)
                 .orderBy(*self.order_by)
                 .rowsBetween(start, -1))  # -1: strictly before current row
        n = self._suffix()
        cols = {}
        for pub, act in ctx.pairs():
            for a in self.aggs:
                if a == "nunique":
                    # collect_set drops nulls; empty frame → size 0
                    out = F.size(
                        F.collect_set(F.col(act)).over(w)).cast("long")
                elif a == "approx_nunique":
                    out = F.approx_count_distinct(
                        F.col(act)).over(w).cast("long")
                else:
                    out = self._FNS[a](F.col(act)).over(w)
                    if a == "count":
                        out = out.cast("long")
                cols[ctx.out(f"{pub}_rolling_{a}_{n}")] = out
        return cols


class TimeDecay(WindowOperator):
    """Exponentially time-decayed trailing aggregates — the classic
    CTR-counter feature: at each (entity, t),

        decayed_sum(t)   = sum_{t-W <= t' <= t-gap} v(t') * 0.5^((t-t')/h)
        decayed_count(t) = same with v(t') := 1 for non-null v

    with half-life ``h`` seconds over the trailing ``window_seconds``
    = W. Strictly past (frame ends ``gap_seconds`` before the row, so
    timestamp ties never leak and the result is deterministic).

    Execution is pure Catalyst: ONE entity×ts range window collects
    the in-frame (t', v) pairs, then ``F.aggregate`` folds the decay
    weights JVM-side — no Python on data, exponents bounded by W/h so
    the fold cannot overflow (the naive prefix-sum factorization
    0.5^(-t'/h) does overflow for long-lived entities, which is why
    the window-bounded fold is the exact path). Cost is
    O(events-in-frame) per row, the same bound any sliding-frame
    aggregate pays; W is required, which also caps frame memory.
    Zero Exchange on entity-bucketed input (same window as RollingAgg).
    """

    def __init__(self, partition_cols: Union[str, List[str]],
                 order_by: str,
                 half_life_seconds: float,
                 window_seconds: int,
                 gap_seconds: int = 1,
                 aggs: Union[str, List[str]] = "sum"):
        super().__init__(partition_cols, order_by)
        self.half_life_seconds = float(half_life_seconds)
        self.window_seconds = int(window_seconds)
        self.gap_seconds = int(gap_seconds)
        self.aggs = as_list(aggs)
        _check_time_frame(self.order_by, window_seconds, gap_seconds)
        if self.half_life_seconds <= 0:
            raise ValueError("half_life_seconds must be > 0")
        bad = set(self.aggs) - {"sum", "count"}
        if bad:
            raise ValueError(f"unsupported decay aggs: {sorted(bad)}")

    def output_column_names(self, selector: ColumnSelector):
        h = int(self.half_life_seconds)
        return [f"{c}_decay_{a}_h{h}s" for c in selector.names
                for a in self.aggs]

    def window_fusion(self, ctx, df):
        sec, w = _time_frame(self, df)
        h = F.lit(self.half_life_seconds)
        half = F.lit(0.5)
        cols = {}
        for pub, act in ctx.pairs():
            pairs = F.collect_list(
                F.struct(sec.alias("t"), F.col(act).alias("v"))).over(w)
            for a in self.aggs:
                if a == "sum":
                    contrib = lambda x: F.coalesce(x["v"], F.lit(0.0))  # noqa: E731
                else:
                    contrib = lambda x: F.when(                         # noqa: E731
                        x["v"].isNotNull(), F.lit(1.0)).otherwise(0.0)
                out = F.aggregate(
                    pairs, F.lit(0.0),
                    lambda acc, x: acc + contrib(x)
                    * F.pow(half, (sec - x["t"]) / h))
                name = f"{pub}_decay_{a}_h{int(self.half_life_seconds)}s"
                cols[ctx.out(name)] = out
        return cols


class ExpandingTargetEncoding(AggStatOperator):
    """Leakage-free time-ordered target encoding: at each (entity, t)
    the smoothed mean of the target over the entity's STRICTLY-PAST
    rows,

        ETE(t) = (sum_{t' <= t-gap} y + p_smooth * prior)
               / (count_{t' <= t-gap}  + p_smooth)

    Selector columns are the entity keys (grouped selectors encode
    multi-column keys, as in :class:`~.target_encoding.TargetEncoding`,
    reference target_encoding.py:35-61 for the smoothing formula);
    output ``ETE_<key>_<target>``, keys pass through.

    vs the kfold TargetEncoding: same formula, but "the other rows"
    are the entity's own past instead of the other folds — the
    streaming/production shape where a training row may only use
    features computable at its own event time (north_rule: zero
    temporal leakage, no feature reads rows at t' >= t). An entity's
    first event encodes to exactly ``prior`` (count 0, empty-frame sum
    coalesced to 0); with ``p_smooth=0`` history-less rows are NULL
    (0/0) — the raw expanding mean.

    Execution: ONE entity-partitioned range window per key group —
    sum and count share the frame, Spark's window executor evaluates
    both incrementally in a single pass; no join, no second scan of
    the input. fit is a single global aggregate (the prior), batched
    by the compiler with every other AggStatOperator in the DAG into
    one job. The frame is a RANGE over epoch seconds ending
    ``gap_seconds`` before the row, so timestamp ties never leak and
    the encoding is deterministic under ties (a ROWS frame would be
    tie-order dependent). Zero Exchange on entity-bucketed, ts-sorted
    input — the same window shape as RollingAgg, so at 10^12 rows a
    feature stack of [RollingAgg, TimeDecay, ExpandingTargetEncoding]
    over one entity key pays ONE shuffle total.
    """

    cheap_transform = False  # window-backed

    def __init__(self, target: Union[str, List[str]], order_by: str,
                 p_smooth: float = 20, target_mean: Optional[float] = None,
                 gap_seconds: int = 1, out_dtype: str = "double",
                 name_sep: str = "_"):
        super().__init__()
        self.targets = [target] if isinstance(target, str) else list(target)
        self.order_by = order_by
        self.p_smooth = float(p_smooth)
        self.target_mean = target_mean
        self.gap_seconds = int(gap_seconds)
        self.out_dtype = out_dtype
        self.name_sep = name_sep
        self.means: dict = {}
        if self.gap_seconds < 1:
            raise ValueError("gap_seconds must be >= 1 (0 would let "
                             "same-timestamp rows leak into the frame)")

    def dependencies(self):
        return list(self.targets) + [self.order_by]

    @staticmethod
    def _clean(t: str) -> Column:
        tc = F.col(t).cast("double")
        # pandas/cudf agg semantics: NaN ≡ missing (see TargetEncoding)
        return F.when(F.isnan(tc), F.lit(None)).otherwise(tc)

    def _groups(self, selector: ColumnSelector) -> List[tuple]:
        return [g if isinstance(g, tuple) else (g,)
                for g in selector.grouped_names]

    def output_column_names(self, selector: ColumnSelector):
        return list(selector.names) + [
            f"ETE_{self.name_sep.join(g)}_{t}"
            for g in self._groups(selector) for t in self.targets]

    # -- fit: the global prior, one fused aggregate ---------------------------
    def agg_requests(self, ctx: TransformContext, df: DataFrame):
        # count rides along for exact delta-fit merges (merge_fitted's
        # weighted mean); it costs nothing extra in the fused agg job
        return [e for t in self.targets for e in
                (F.avg(self._clean(t)).alias(self._alias(f"mean_{t}")),
                 F.count(self._clean(t)).alias(self._alias(f"cnt_{t}")))]

    def consume_agg(self, row) -> None:
        self._counts = {t: int(row[self._alias(f"cnt_{t}")])
                        for t in self.targets}
        if self.target_mean is not None:
            self.means = {t: float(self.target_mean) for t in self.targets}
            return
        # an all-null target has no defined mean; 0.0 keeps the
        # encoding total (the formula then shrinks toward 0)
        self.means = {
            t: (float(v) if (v := row[self._alias(f"mean_{t}")])
                is not None else 0.0)
            for t in self.targets}

    def merge_precheck(self, other: "ExpandingTargetEncoding") -> None:
        from ..plans.merge import WorkflowMergeError
        self._require_fitted(), other._require_fitted()
        if self.targets != other.targets:
            raise WorkflowMergeError(
                f"ExpandingTargetEncoding targets differ: "
                f"{self.targets} vs {other.targets}")
        if (self.target_mean is None) != (other.target_mean is None):
            raise WorkflowMergeError(
                "ExpandingTargetEncoding: one side fixes target_mean, "
                "the other fitted it — priors are not mergeable")
        if not getattr(self, "_counts", None) \
                or not getattr(other, "_counts", None):
            raise WorkflowMergeError(
                "ExpandingTargetEncoding: fitted state predates count "
                "tracking (re-fit to enable merges)")

    def merge_fitted(self, other: "ExpandingTargetEncoding") -> None:
        """Exact delta-fit merge: the prior is a global mean, so the
        union prior is the count-weighted mean of the two."""
        for t in self.targets:
            ca, cb = self._counts[t], other._counts[t]
            if self.target_mean is None and (ca or cb):
                self.means[t] = ((self.means[t] * ca
                                  + other.means[t] * cb) / (ca + cb))
            self._counts[t] = ca + cb

    def save_state(self):
        return {"means": self.means,
                "counts": getattr(self, "_counts", {})}

    def load_state(self, state):
        self.means = state["means"]
        self._counts = {k: int(v) for k, v in
                        state.get("counts", {}).items()}
        self.fitted = True

    # -- transform: one range window per key group -----------------------------
    def transform(self, ctx: TransformContext, df: DataFrame) -> DataFrame:
        self._require_fitted()
        sec = epoch_seconds(df, self.order_by)
        cols = {}
        for g in self._groups(ctx.selector):
            acts = [ctx.inputs.get(c, c) for c in g]
            w = (Window.partitionBy(*acts).orderBy(sec)
                 .rangeBetween(Window.unboundedPreceding,
                               -self.gap_seconds))
            for t in self.targets:
                tc = self._clean(t)
                s = F.coalesce(F.sum(tc).over(w), F.lit(0.0))
                c = F.count(tc).over(w)
                # try_divide: with p_smooth=0 a history-less row is
                # 0/0 → NULL by contract (ANSI mode would error)
                te = F.try_divide(
                    s + F.lit(self.p_smooth) * F.lit(self.means[t]),
                    c + F.lit(self.p_smooth)).cast(self.out_dtype)
                name = f"ETE_{self.name_sep.join(g)}_{t}"
                cols[ctx.out(name)] = te
        # key columns pass through under their output names
        cols.update({ctx.out(pub): F.col(act) for pub, act in ctx.pairs()})
        return df.withColumns(cols)
