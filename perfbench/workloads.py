"""The benchmark's workloads.

Every workload makes its inputs from the seed, writes them to parquet
and hands nvtabular_spark only what it reads back. One *unit* is the
work whose time the benchmark reports: an iteration of a batch
workload, or one request of ``serve_batches``.

Sizes are chosen so that one run (Spark start, input generation,
warm-up and the timed units) fits the benchmark's run length on a
4-core machine; see README.md for the measurements behind them.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Dict, List

import pandas as pd

CORES = 4

CRITEO_CATS = [f"cat_{i}" for i in range(26)]
CRITEO_CONTS = [f"cont_{i}" for i in range(13)]
CRITEO_FREQ_THRESHOLD = 15
CRITEO_BUCKETS = 16
#: cardinality of the categorical columns: with SERVE_TRAIN_ROWS rows,
#: 400-450 values per column pass the frequency threshold, as with the
#: 200k rows of cardinality 50k of the Criteo-shaped ETL, at half the
#: fit and generation time
CRITEO_CARDINALITY = 18_000
#: categorical columns whose codes are checked against an independent vocab
CRITEO_CHECKED = ["cat_0", "cat_7", "cat_25"]
#: the code check only counts if at least this share of the checked
#: request values is in the vocab (about 7.5% are); below it, a
#: Categorify that ignored its vocab would pass
CRITEO_MIN_VOCAB_HITS = 0.02

TOKEN_ROWS = 100_000
TOKEN_SLICE = 64

SERVE_TRAIN_ROWS = 100_000
SERVE_BATCH_ROWS = 1_000
SERVE_BATCHES = 8
SERVE_FITS = 3


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def expected_codes(pdf, col: str) -> Dict[str, int]:
    """Frequency-threshold vocab of one column computed without
    nvtabular_spark: values seen at least ``CRITEO_FREQ_THRESHOLD``
    times, most frequent first, ties by value; codes start after the
    null slot and the OOV buckets."""
    counts = pdf[col].dropna().value_counts()
    kept = sorted(((-n, v) for v, n in counts.items()
                   if n >= CRITEO_FREQ_THRESHOLD))
    start = 2 + CRITEO_BUCKETS
    return {v: start + i for i, (_n, v) in enumerate(kept)}


def code_errors(pdf_in, pdf_out, vocabs: Dict[str, Dict[str, int]]):
    """``(bad, hits)`` per column over every row: ``bad`` counts codes
    that break the Categorify contract (1 for null, the vocab code for
    a kept value, an OOV bucket in ``[2, 2 + buckets)`` for any other
    value), ``hits`` the values that are in the vocab."""
    merged = pdf_in.merge(pdf_out, on="row_id", suffixes=("", "_code"))
    out = {}
    for col, vocab in vocabs.items():
        bad = hits = 0
        for value, code in zip(merged[col], merged[col + "_code"]):
            if value is None:
                ok = code == 1
            elif value in vocab:
                ok = code == vocab[value]
                hits += 1
            else:
                ok = 2 <= code < 2 + CRITEO_BUCKETS
            bad += not ok
        out[col] = (bad, hits)
    return out


class Workload:
    """One workload: ``generate`` writes the inputs, ``prepare`` reads
    them back, ``unit`` runs one timed unit and returns its phase
    times, ``check_unit``/``final_checks`` return the names of failed
    correctness checks."""

    name = ""
    #: untimed units run after set-up so JIT warm-up is not timed
    warmup_units = 0

    def __init__(self, spark, tracer, root: str, seed: int):
        self.spark, self.tracer, self.root, self.seed = \
            spark, tracer, root, seed
        self.input_dir = os.path.join(root, "input")
        self.rows = 0          # input rows one unit processes
        self.info: dict = {}   # facts about the inputs, for the run report
        #: fit times measured in set-up, for a workload whose units do
        #: not fit (serve_batches)
        self.setup_fits: List[float] = []

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        raise NotImplementedError

    def unit(self) -> dict:
        raise NotImplementedError

    def check_unit(self, result: dict) -> List[str]:
        return []

    def final_checks(self) -> List[str]:
        return []

    def _fresh_input_dir(self) -> None:
        shutil.rmtree(self.input_dir, ignore_errors=True)
        os.makedirs(self.input_dir)

    def _gen(self, name: str, df) -> str:
        path = os.path.join(self.input_dir, name)
        df.write.mode("overwrite").parquet(path)
        return path


class TokenWindows(Workload):
    """Tokenized sequences: every window/as-of op, fit + noop sink."""

    name = "token_windows"
    warmup_units = 4

    def generate(self):
        from pyspark.sql import functions as F
        from nvtabular_spark.sources import tokenized_sequences
        self._fresh_input_dir()
        seqs = self._gen("seqs", tokenized_sequences(
            self.spark, TOKEN_ROWS, seed=self.seed, partitions=CORES))
        src = self.spark.read.parquet(seqs)
        # as-of side table: ~10% of rows, each moved 1..600 s earlier;
        # its values are the side row's own entity and time, so a
        # joined value shows exactly which side row it came from
        h = F.abs(F.xxhash64("doc_id", F.lit(self.seed)))
        ts = F.timestamp_seconds(F.unix_seconds("ts") - 1 - h % 600)
        side = (src.filter(h % 10 == 0)
                .select("entity_id", ts.alias("ts"))
                .select("entity_id", "ts",
                        F.unix_seconds("ts").alias("ref_ts"),
                        F.col("entity_id").alias("ref_ent")))
        self._gen("side", side)

    def prepare(self):
        self.data = self.spark.read.parquet(
            os.path.join(self.input_dir, "seqs"))
        self.side = self.spark.read.parquet(
            os.path.join(self.input_dir, "side"))
        self.rows = TOKEN_ROWS

    def pipeline(self):
        from nvtabular_spark import ops
        return (
            (["source", "entity_id"] >> ops.Categorify(freq_threshold=2,
                                                       num_buckets=16))
            + (["x", "y"] >> ops.FillMissing(0) >> ops.Normalize())
            + (["source"] >> ops.TargetEncoding(
                target="label", fold_col="doc_id", kfold=3, p_smooth=20)
               >> ops.Rename(postfix="_te"))
            + (["tokens"] >> ops.ListSlice(0, TOKEN_SLICE, pad=True,
                                           pad_value=0))
            + (["n_tok"] >> ops.Lag("entity_id", "ts", 1))
            + (["n_tok"] >> ops.RollingAgg("entity_id", "ts", window_rows=8,
                                           aggs=["mean"]))
            + (["ts"] >> ops.Sessionize("entity_id", gap=1800.0))
            + (["doc_id"] >> ops.AsOfJoin(self.side, on="entity_id",
                                          ts_col="ts", suffix="_asof"))
            + ["n_tok", "label"])

    def unit(self):
        import nvtabular_spark as nvt
        tr = self.tracer
        t0 = time.perf_counter()
        wf = nvt.Workflow(self.pipeline())
        with tr.span("plans.Workflow.fit"):
            wf.fit(self.data)
        t1 = time.perf_counter()
        with tr.span("plans.Workflow.transform"):
            out = wf.transform(self.data)
        with tr.span("spark.execute"):
            out.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        self.last_out = out
        return {"fit_s": t1 - t0, "transform_s": t2 - t1,
                "total_s": t2 - t0, "out": out}

    def final_checks(self):
        """One Spark job over the last unit's output joined back to the
        input: row count, zero temporal leakage, byte-equal slices."""
        from pyspark.sql import functions as F
        src = self.data.select(
            "doc_id", F.col("tokens").alias("src_tokens"),
            F.unix_seconds("ts").alias("src_ts"),
            F.col("entity_id").alias("src_ent"))
        j = self.last_out.select("doc_id", "tokens", "ref_ts_asof",
                                 "ref_ent_asof").join(src, "doc_id")
        matched = F.col("ref_ts_asof").isNotNull()
        leak = matched & ((F.col("ref_ts_asof") >= F.col("src_ts"))
                          | (F.col("ref_ent_asof") != F.col("src_ent")))
        want = F.concat(
            F.slice("src_tokens", 1, TOKEN_SLICE),
            F.array_repeat(F.lit(0), F.greatest(
                F.lit(TOKEN_SLICE) - F.size("src_tokens"), F.lit(0))))
        r = j.agg(F.count(F.lit(1)).alias("rows"),
                  F.sum(matched.cast("int")).alias("matched"),
                  F.sum(leak.cast("int")).alias("leaks"),
                  F.sum((F.col("tokens") != want).cast("int"))
                  .alias("bad_slices")).collect()[0]
        failed = []
        if r["rows"] != TOKEN_ROWS:
            failed.append("token_windows.row_count")
        if not r["matched"]:
            failed.append("token_windows.asof_matches_some_rows")
        if r["leaks"]:
            failed.append("token_windows.zero_temporal_leakage")
        if r["bad_slices"]:
            failed.append("token_windows.slices_equal_source_prefix")
        return failed


class ServeBatches(Workload):
    """Closed loop, one client: read a 1,000-row batch, transform it
    with a workflow fitted in set-up, collect the rows."""

    name = "serve_batches"
    warmup_units = 2

    def generate(self):
        from pyspark.sql import functions as F
        from nvtabular_spark.sources import synthetic_tabular
        self._fresh_input_dir()
        # one table, split by a partition column into the training set
        # (part=-1) and the request batches (part=0..); the workflow
        # does not use the multi-hot column, so it is not written
        n = SERVE_TRAIN_ROWS + SERVE_BATCH_ROWS * SERVE_BATCHES
        df = synthetic_tabular(self.spark, n, seed=self.seed, n_cats=26,
                               n_conts=13, cat_cardinality=CRITEO_CARDINALITY,
                               partitions=CORES)
        row = F.col("row_id") - SERVE_TRAIN_ROWS
        part = F.when(row < 0, F.lit(-1)).otherwise(
            (row / SERVE_BATCH_ROWS).cast("int"))
        (df.drop("mh_0").withColumn("part", part).write.mode("overwrite")
         .partitionBy("part").parquet(self.input_dir))

    def prepare(self):
        import pyarrow.parquet as pq
        import nvtabular_spark as nvt
        from nvtabular_spark.sources import read_dataset
        train_path = os.path.join(self.input_dir, "part=-1")
        train = self.spark.read.parquet(train_path)
        for _ in range(SERVE_FITS):
            t0 = time.perf_counter()
            wf = nvt.Workflow(self.pipeline())
            wf.fit(train)
            self.setup_fits.append(time.perf_counter() - t0)
        self.wf = wf
        # reference: one offline transform of all batches; it also
        # warms up the request path
        batches = [os.path.join(self.input_dir, f"part={i}")
                   for i in range(SERVE_BATCHES)]
        offline = wf.transform(read_dataset(self.spark, batches))
        self.columns = offline.columns
        rows = offline.collect()
        self.reference = {r["row_id"]: tuple(r) for r in rows}
        # the reference itself is checked against vocabs computed
        # from the training data without nvtabular_spark
        cols = ["row_id"] + CRITEO_CHECKED
        pdf_train = pq.read_table(train_path, columns=cols).to_pandas()
        vocabs = {c: expected_codes(pdf_train, c) for c in CRITEO_CHECKED}
        pdf_in = pd.concat([pq.read_table(b, columns=cols).to_pandas()
                            for b in batches])
        pdf_out = pd.DataFrame([[r[c] for c in cols] for r in rows],
                               columns=cols)
        self.vocab_failures = []
        if len(rows) != SERVE_BATCH_ROWS * SERVE_BATCHES:
            self.vocab_failures.append("serve_batches.offline_row_count")
        checked = code_errors(pdf_in, pdf_out, vocabs)
        self.info = {"vocab_size": {c: len(v) for c, v in vocabs.items()},
                     "vocab_hits": {c: h for c, (_b, h) in checked.items()}}
        if any(bad for bad, _hits in checked.values()):
            self.vocab_failures.append("serve_batches.codes_match_vocab")
        if any(hits < CRITEO_MIN_VOCAB_HITS * len(rows)
               for _bad, hits in checked.values()):
            self.vocab_failures.append("serve_batches.enough_vocab_hits")
        self.rows = SERVE_BATCH_ROWS
        self.requests = 0

    def pipeline(self):
        """The Criteo preprocessing shape, plus ``row_id`` to match
        request rows to the offline reference."""
        from nvtabular_spark import ops
        return ((CRITEO_CATS >> ops.Categorify(
                    freq_threshold=CRITEO_FREQ_THRESHOLD,
                    num_buckets=CRITEO_BUCKETS))
                + (CRITEO_CONTS >> ops.FillMissing(0)
                   >> ops.Clip(min_value=0) >> ops.LogOp())
                + ["label", "row_id"])

    def unit(self):
        from nvtabular_spark import sources
        tr = self.tracer
        path = os.path.join(self.input_dir,
                            f"part={self.requests % SERVE_BATCHES}")
        self.requests += 1
        t0 = time.perf_counter()
        with tr.span("sources.read_dataset"):
            batch = sources.read_dataset(self.spark, path)
        t1 = time.perf_counter()
        with tr.span("plans.Workflow.transform"):
            out = self.wf.transform(batch)
        with tr.span("spark.execute"):
            rows = out.collect()
        t2 = time.perf_counter()
        return {"transform_s": t2 - t1, "total_s": t2 - t0,
                "out": out, "rows": rows}

    def check_unit(self, result):
        rows = result["rows"]
        if result["out"].columns != self.columns:
            return ["serve_batches.columns"]
        ok = len(rows) == SERVE_BATCH_ROWS and all(
            self.reference.get(r["row_id"]) == tuple(r) for r in rows)
        return [] if ok else ["serve_batches.rows_equal_offline"]

    def final_checks(self):
        return self.vocab_failures


WORKLOADS = {w.name: w for w in (TokenWindows, ServeBatches)}
