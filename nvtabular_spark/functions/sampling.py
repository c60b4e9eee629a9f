"""Deterministic sampling for training-data curation.

Random `df.sample` is neither reproducible across retries/partitionings
nor expressible in an oracle; these samplers hash a stable key instead,
so membership is a pure row-local predicate — no shuffle, no state,
identical on ANY engine with the same hash (md5 family twin in DuckDB),
and stable under re-runs, task retries and repartitioning. This is the
standard curation-pipeline shape (per-source mixing quotas).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import hash64

#: hash-space denominator: fractions quantize to 1/1e6 (0.0001%)
_DENOM = 1_000_000


def _keyed(key: Column) -> Column:
    """NULL keys hash deterministically instead of yielding a NULL
    predicate that BOTH filter branches drop (hashing.py contract:
    callers decide null routing before hashing).

    Contract note: keyed sampling decides per KEY, so all NULL-key
    rows share ONE decision (they form a single key group) — a corpus
    with many NULL keys is kept or dropped as a block, not fraction-
    sampled. Pass a real per-row key for per-row sampling, and
    replicate the sentinel (``coalesce(key, '\\x00<NULL>')``) in any
    SQL twin."""
    return F.coalesce(key.cast("string"), F.lit("\x00<NULL>"))


def sample_predicate(key: Column, fraction: float, seed: int = 0,
                     family: str = "md5") -> Column:
    """Boolean column: row is in the deterministic ``fraction`` sample.
    ``pmod(hash(key, seed), 1e6) < round(fraction * 1e6)`` — row-local,
    exact on any engine sharing the hash family; NULL keys participate
    (sentinel-hashed), they are never silently dropped."""
    return F.pmod(hash64(_keyed(key), family, seed),
                  F.lit(_DENOM)) < F.lit(int(round(fraction * _DENOM)))


def deterministic_sample(df: DataFrame, fraction: float,
                         key_col: str = "doc_id", seed: int = 0,
                         family: str = "md5") -> DataFrame:
    """Reproducible ``fraction`` sample keyed on ``key_col``."""
    return df.filter(sample_predicate(F.col(key_col), fraction, seed,
                                      family))


def stratified_sample(df: DataFrame, fractions: Dict[str, float],
                      strata_col: str = "source",
                      key_col: str = "doc_id", seed: int = 0,
                      default_fraction: float = 0.0,
                      family: str = "md5") -> DataFrame:
    """Per-stratum deterministic sampling — the data-mixing step of a
    curation pipeline (e.g. keep 100% wiki, 30% web). Strata absent
    from ``fractions`` get ``default_fraction``. One row-local
    predicate, no shuffle; exact, not approximate like
    ``df.stat.sampleBy``."""
    # thresholds are computed DRIVER-side with round(), matching
    # sample_predicate and the decimal-arithmetic oracle twin — a
    # double multiply + truncating cast in the plan drops the boundary
    # bucket for ~1% of four-decimal fractions (15699.999… → 15699)
    thresh = F.lit(int(round(float(default_fraction) * _DENOM)))
    for k, v in sorted(fractions.items()):
        thresh = F.when(F.col(strata_col) == k,
                        F.lit(int(round(float(v) * _DENOM)))) \
            .otherwise(thresh)
    h = F.pmod(hash64(_keyed(F.col(key_col)), family, seed),
               F.lit(_DENOM))
    return df.filter(h < thresh)


def split_train_holdout(df: DataFrame, holdout_fraction: float = 0.01,
                        key_col: str = "doc_id", seed: int = 17,
                        family: str = "md5"):
    """(train, holdout) split on a stable key — disjoint and exhaustive
    by construction (same hash, complementary predicates; NULL keys
    hash via a sentinel so every input row lands in exactly one
    split)."""
    pred = sample_predicate(F.col(key_col), holdout_fraction, seed,
                            family)
    return df.filter(~pred), df.filter(pred)


def temperature_fractions(counts: Dict, alpha: float = 0.7) -> Dict:
    """Per-stratum keep fractions that flatten the source distribution
    to ``p_i^alpha`` (temperature sampling, the standard multilingual /
    multi-source pre-training mix — public method, e.g. multilingual
    BERT / mT5 data sampling). Downsampling-only: the SMALLEST stratum
    keeps fraction 1.0 and every larger stratum keeps
    ``(n_min / n_i)^(1 - alpha)`` — so the kept counts are
    proportional to ``n_i^alpha``. ``alpha=1`` keeps everything
    (natural mix), ``alpha=0`` equalizes all strata to n_min."""
    if not counts:
        return {}
    a = float(alpha)
    n_min = min(counts.values())
    return {k: (n_min / n) ** (1.0 - a) if n > 0 else 0.0
            for k, n in counts.items()}


def temperature_mix(df: DataFrame, alpha: float = 0.7,
                    strata_col: str = "source",
                    key_col: str = "doc_id", seed: int = 0,
                    family: str = "md5") -> DataFrame:
    """Deterministic temperature-based source mixing: one tiny
    groupBy-count (collected driver-side — O(#strata) rows), fractions
    from :func:`temperature_fractions`, then the same row-local hash
    predicate as :func:`stratified_sample` — no extra shuffle over the
    corpus, reproducible under retries/repartitioning. NULL strata
    form their own group (sampled at their own temperature
    fraction)."""
    rows = df.groupBy(strata_col).count().collect()
    counts = {r[strata_col]: r["count"] for r in rows}
    fr = temperature_fractions(counts, alpha)
    null_fraction = fr.pop(None, 0.0)
    return stratified_sample(df, fr, strata_col=strata_col,
                             key_col=key_col, seed=seed,
                             default_fraction=null_fraction,
                             family=family)


def token_vocab_stats(df: DataFrame, tokens_col: str = "tokens",
                      top_k: Optional[int] = None) -> DataFrame:
    """Corpus token-frequency table from an ``array<int>`` column:
    ``(token, freq, doc_freq)``. Plan shape: TWO explode+groupBy
    branches over the input (occurrence counts, and per-doc-distinct
    counts) joined on token — i.e. two scans of the tokens column plus
    one join exchange; a single-scan variant would need
    ``count_distinct`` (whose Expand doubles rows) for no net win.
    ``top_k`` truncates by (freq desc, token) for a deterministic
    head."""
    freq = (df.select(F.explode(tokens_col).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("long").alias("freq")))
    # doc_freq: each doc contributes each DISTINCT token once
    dfreq = (df.select(F.explode(F.array_distinct(tokens_col))
                       .alias("token"))
             .groupBy("token")
             .agg(F.count(F.lit(1)).cast("long").alias("doc_freq")))
    out = freq.join(dfreq, "token")
    if top_k:
        out = (out.orderBy(F.col("freq").desc(), F.col("token").asc())
               .limit(int(top_k)))
    return out


def split_time_holdout(df: DataFrame, ts_col: str, cutoff,
                       embargo_seconds: int = 0):
    """(train, holdout) TEMPORAL split: train = rows strictly before
    ``cutoff`` minus a trailing ``embargo_seconds`` purge gap, holdout
    = rows at/after ``cutoff``. The embargo discards rows in
    ``[cutoff - embargo, cutoff)`` so features computed over trailing
    windows of train rows (RollingAgg, TimeDecay, AsOfJoin state)
    cannot overlap the holdout period — the purged time-series split
    used to keep windowed features from leaking across the boundary
    (de Prado's purging/embargo, public method). ``embargo_seconds=0``
    is a plain cutoff split.

    ``cutoff`` is an epoch-seconds number or an ISO timestamp string.
    Row-local predicates on the timestamp — zero shuffle, partition-
    prunable when the table is date-partitioned, disjoint by
    construction (rows inside the embargo belong to NEITHER split;
    NULL timestamps are dropped from both, they have no place on a
    time axis)."""
    from ..operators.temporal import epoch_seconds
    if embargo_seconds < 0:
        raise ValueError("embargo_seconds must be >= 0")
    if isinstance(cutoff, str):
        cut = F.unix_micros(F.to_timestamp(F.lit(cutoff))) / F.lit(1e6)
    else:
        cut = F.lit(float(cutoff))
    sec = epoch_seconds(df, ts_col)
    train = df.filter(sec < cut - F.lit(float(embargo_seconds)))
    holdout = df.filter(sec >= cut)
    return train, holdout
