"""Property-based tests (hypothesis) — invariants over generated inputs.
The reference suite is example-based only; these guard the slicing and
encoding contracts against edge shapes."""
import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import nvtabular_spark as nvt
from nvtabular_spark import ops

_lists = st.lists(
    st.lists(st.integers(min_value=-100, max_value=100), max_size=12),
    min_size=1, max_size=8)
_slices = st.tuples(st.integers(-6, 6), st.integers(-6, 6))


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(data=_lists, sl=_slices)
def test_listslice_matches_python_slicing(spark, data, sl):
    start, end = sl
    pdf = pd.DataFrame({"l": data, "rid": range(len(data))})
    # explicit schema: all-empty list columns can't be inferred
    df = spark.createDataFrame(pdf.astype({"rid": "int64"}),
                               schema="l array<int>, rid long")
    out = nvt.Workflow((["l"] >> ops.ListSlice(start, end)) + ["rid"]) \
        .transform(df).orderBy("rid").toPandas()
    got = [list(x) for x in out["l"]]
    exp = [list(x[start:end]) for x in data]
    assert got == exp


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(vals=st.lists(st.sampled_from(["a", "b", "c", "d", None]),
                     min_size=1, max_size=40))
def test_categorify_code_contract(spark, vals):
    """For any value multiset: nulls → 1; codes ≥ 2; equal values get
    equal codes; more-frequent values get smaller codes (freq-desc)."""
    pdf = pd.DataFrame({"c": vals, "rid": range(len(vals))})
    df = spark.createDataFrame(pdf.astype({"rid": "int64"}),
                               schema="c string, rid long")
    out = nvt.Workflow((["c"] >> ops.Categorify()) + ["rid"]) \
        .fit_transform(df).orderBy("rid").toPandas()
    codes = dict(zip(pdf["c"], out["c"]))
    freq = pdf["c"].value_counts(dropna=True)
    for v, code in codes.items():
        if v is None:
            assert code == 1
        else:
            assert code >= 3  # 2 is the (single) OOV slot
    seen = [(v, codes[v]) for v in freq.index]
    for (v1, c1) in seen:
        for (v2, c2) in seen:
            if freq[v1] > freq[v2]:
                assert c1 < c2, (v1, v2, codes)
            elif freq[v1] == freq[v2] and v1 < v2:
                assert c1 < c2


_texts = st.lists(
    st.text(alphabet="abcdef gh", min_size=0, max_size=60),
    min_size=1, max_size=6)


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(texts=_texts)
def test_shingle_hashes_match_python_reference(spark, texts):
    """word_shingle_hashes (md5 family) must equal a direct python
    recomputation of the rolling-polynomial combine — the same formula
    the DuckDB oracles evaluate (shingle_hashes_sql)."""
    import hashlib
    from pyspark.sql import functions as F
    from nvtabular_spark.functions.dedup import (SHINGLE_P,
                                                 word_shingle_hashes)
    MASK32, MASK44 = (1 << 32) - 1, (1 << 44) - 1

    def py_hash64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def py_shingles(text, n=3):
        w = text.split(" ")
        hw = [py_hash64(x) & MASK32 for x in w]
        out = []
        for i in range(max(0, len(w) - n + 1)):
            acc = hw[i]
            for j in range(1, n):
                acc = (acc & MASK44) * SHINGLE_P + hw[i + j]
            out.append(acc)
        return out

    pdf = pd.DataFrame({"t": texts, "rid": range(len(texts))})
    df = spark.createDataFrame(pdf)
    got = df.select(
        "rid", word_shingle_hashes(F.col("t"), 3, "md5").alias("sh")) \
        .orderBy("rid").toPandas()
    for text, sh in zip(pdf["t"], got["sh"]):
        assert list(sh) == py_shingles(text), text


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(texts=_texts)
def test_minhash_jaccard_consistency(spark, texts):
    """Minhash invariants: identical texts → identical signatures;
    signature values always in [0, MINHASH_PRIME); fewer than n words
    → NULL signature."""
    from pyspark.sql import functions as F
    from nvtabular_spark.functions.dedup import (MINHASH_PRIME,
                                                 minhash_signature)
    pdf = pd.DataFrame({"t": texts + texts,
                        "rid": range(2 * len(texts))})
    df = spark.createDataFrame(pdf)
    got = df.select(
        "rid", minhash_signature(F.col("t"), 6, 3, "xxhash64").alias("s")) \
        .orderBy("rid").toPandas()
    n = len(texts)
    for i in range(n):
        a, b = got["s"].iloc[i], got["s"].iloc[i + n]
        if a is None:
            assert b is None
            assert len(texts[i].split(" ")) < 3 or \
                all(len(x) == 0 for x in texts[i].split(" ")[:1])
        else:
            assert list(a) == list(b)
            assert all(0 <= v < MINHASH_PRIME for v in a)


_words = st.sampled_from(["fox", "dog", "cat", "run", "the", "a", "blue",
                          "red", "big", "sky"])
_docs = st.lists(st.lists(_words, min_size=0, max_size=12).map(" ".join),
                 min_size=2, max_size=10)


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(texts=_docs, max_hamming=st.integers(0, 3))
def test_simhash_pigeonhole_completeness(spark, texts, max_hamming):
    """Candidate generation is COMPLETE: every pair within max_hamming
    (computed directly from the simhashes) appears in the banded-join
    output — the pigeonhole chunking may overgenerate, never drop."""
    from nvtabular_spark.functions import dedup
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    sh = df.select("doc_id",
                   dedup.simhash(df["text"], bits=64).alias("sh")) \
        .orderBy("doc_id").toPandas()
    vals = sh["sh"].tolist()
    exp = set()
    for i in range(len(vals)):
        for j in range(i + 1, len(vals)):
            if bin((vals[i] ^ vals[j]) & ((1 << 64) - 1)).count("1") \
                    <= max_hamming:
                exp.add((i, j))
    got = dedup.simhash_near_dups(df, bits=64, max_hamming=max_hamming,
                                  max_bucket=None).toPandas()
    got_pairs = set(map(tuple, got[["id_a", "id_b"]].to_numpy()))
    assert exp == got_pairs


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(texts=_docs,
       threshold=st.sampled_from([0.2, 0.5, 0.8]))
def test_ngram_prefix_plan_exact_on_random_docs(spark, texts, threshold):
    """PPJoin prefix plan ≡ brute-force python Jaccard on random word
    soup."""
    from nvtabular_spark.functions import dedup
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    r = dedup.ngram_jaccard_pairs(df, n=2, threshold=threshold,
                                  max_posting=None).toPandas()
    got = sorted((int(a), int(b), round(float(j), 9))
                 for a, b, j in r[["id_a", "id_b", "jaccard"]].to_numpy())

    # brute force over python sets of word bigrams
    def shingles(t):
        ws = [w for w in t.split(" ") if w]
        return {(ws[i], ws[i + 1]) for i in range(len(ws) - 1)}

    exp = []
    ss = [shingles(t) for t in texts]
    for i in range(len(ss)):
        for j in range(i + 1, len(ss)):
            if not ss[i] or not ss[j]:
                continue
            jac = len(ss[i] & ss[j]) / len(ss[i] | ss[j])
            if jac >= threshold:
                exp.append((i, j, round(jac, 9)))
    assert sorted(exp) == got


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(h=st.integers(8, 24), w=st.integers(8, 24),
       seed=st.integers(0, 10 ** 6),
       subsampling=st.sampled_from(["444", "420"]))
def test_jpeg_roundtrip_property(h, w, seed, subsampling):
    """encode→decode bounded error for arbitrary sizes (incl. non-
    multiples of the MCU) on smooth random gradients."""
    from nvtabular_spark.sources.jpeg import decode_jpeg, encode_jpeg
    rng = np.random.RandomState(seed)
    base = rng.randint(0, 200, 3)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack([(base[c] + yy * (c + 1) + xx) % 230
                    for c in range(3)], axis=-1).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=95, subsampling=subsampling))
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int)).mean()
    assert err < 12.0, (h, w, subsampling, err)


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(docs=st.lists(
    st.lists(st.sampled_from("abcde"), min_size=0, max_size=12)
    .map(lambda ws: " ".join(ws)),
    min_size=2, max_size=6), k=st.integers(2, 4))
def test_duplicate_spans_matches_python_oracle(spark, docs, k):
    """duplicate_spans == a brute-force python reference: every k-gram
    occurring in >= 2 docs marks [pos, pos+k), merged per doc."""
    from nvtabular_spark.functions import dedup

    # python oracle
    grams = {}
    tokenized = [d.split(" ") if d else [""] for d in docs]
    for i, ws in enumerate(tokenized):
        for p in range(len(ws) - k + 1):
            grams.setdefault(tuple(ws[p:p + k]), set()).add(i)
    dup = {g for g, ds in grams.items() if len(ds) >= 2}
    expect = set()
    for i, ws in enumerate(tokenized):
        spans = sorted(p for p in range(len(ws) - k + 1)
                       if tuple(ws[p:p + k]) in dup)
        cur = None
        for p in spans:
            if cur and p <= cur[1]:
                cur = (cur[0], max(cur[1], p + k))
            else:
                if cur:
                    expect.add((i, cur[0], cur[1]))
                cur = (p, p + k)
        if cur:
            expect.add((i, cur[0], cur[1]))

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(docs)), "text": docs}))
    got = {(r["doc_id"], r["span_start"], r["span_end"])
           for r in dedup.duplicate_spans(df, k=k).collect()}
    assert got == expect


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(docs=st.lists(
    st.lists(st.sampled_from(["aa", "b", "ccc"]), min_size=0, max_size=10)
    .map(lambda ws: " ".join(ws)),
    min_size=1, max_size=5))
def test_repetition_stats_matches_python_oracle(spark, docs):
    from collections import Counter
    from nvtabular_spark.functions import text as T

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(docs)), "text": docs}))
    got = {r["doc_id"]: r for r in T.repetition_stats(df, n=2).collect()}
    for i, d in enumerate(docs):
        ws = d.split(" ")
        grams = [" ".join(ws[j:j + 2]) for j in range(len(ws) - 1)]
        if len(ws) < 2 or not grams:
            assert i not in got
            continue
        c = Counter(grams)
        r = got[i]
        assert r["ngram_count"] == len(grams)
        assert r["distinct_ngrams"] == len(c)
        assert r["top_ngram_count"] == max(c.values())
        tchars = len(d)
        assert r["top_ngram_char_frac"] == pytest.approx(
            max(n * len(g) for g, n in c.items()) / tchars)
        assert r["dup_ngram_char_frac"] == pytest.approx(
            sum(n * len(g) for g, n in c.items() if n > 1) / tchars)
