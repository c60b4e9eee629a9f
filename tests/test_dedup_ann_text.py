"""Training-data pipeline ops: dedup, ANN, text analysis, token
byte-equality (BASELINE.json input_hint invariant)."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import nvtabular_spark as nvt
from nvtabular_spark import ops
from nvtabular_spark.functions import ann, dedup, text


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(6)),
        "text": [
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumps over the lazy dog",      # exact dup
            "The quick brown fox jumps over the lazy dog!",     # case/punct dup
            "the quick brown fox leaps over the lazy dog",      # near dup
            "completely different text about spark engines here",
            "short",
        ],
    }))


def test_exact_dedup_normalized(spark, docs_df):
    out = dedup.exact_duplicates(docs_df).orderBy("doc_id").toPandas()
    # docs 0,1,2 share the normalized fingerprint; canonical = 0
    assert out.loc[out["doc_id"].isin([0, 1, 2]), "canonical_id"] \
        .tolist() == [0, 0, 0]
    assert out["is_dup"].tolist() == [False, True, True, False, False, False]


def test_minhash_identical_docs_identical_sigs(spark, docs_df):
    sigs = docs_df.filter("doc_id < 2").select(
        dedup.minhash_signature(F.col("text"), 8).alias("s")).toPandas()
    assert list(sigs["s"][0]) == list(sigs["s"][1])


def test_minhash_lsh_finds_near_dups(spark, docs_df):
    pairs = dedup.minhash_lsh_pairs(docs_df, num_hashes=8, bands=4) \
        .toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (0, 1) in got                       # identical docs always pair
    assert all(a < b for a, b in got)


def test_simhash_hamming_near_dups(spark, docs_df):
    pairs = dedup.simhash_near_dups(docs_df, bits=16, max_hamming=2) \
        .toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (0, 1) in got
    d = pairs.set_index(["id_a", "id_b"])["hamming"]
    assert d.loc[(0, 1)] == 0


def test_ngram_jaccard_values(spark, docs_df):
    pairs = dedup.ngram_jaccard_pairs(docs_df, n=3, threshold=0.3,
                                      max_posting=None).toPandas()
    d = pairs.set_index(["id_a", "id_b"])["jaccard"]
    assert d.loc[(0, 1)] == 1.0
    # doc 3 differs in 1 word of 9 → shares 4 of 7 trigrams with doc 0
    assert 0.3 < d.loc[(0, 3)] < 1.0


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.RandomState(9)
    vecs = rng.randn(50, 16).astype("float32")
    vecs[1] = vecs[0] * 2.0                     # same direction as 0
    return spark.createDataFrame(pd.DataFrame({
        "vec_id": list(range(50)),
        "embedding": [v.tolist() for v in vecs]}))


def test_brute_force_topk_matches_numpy(spark, emb_df):
    out = ann.brute_force_topk(emb_df, emb_df.filter("vec_id = 0"), k=5) \
        .toPandas()
    pdf = emb_df.toPandas()
    m = np.stack([np.array(v) for v in pdf["embedding"]]).astype("float64")
    sims = m @ m[0] / (np.linalg.norm(m, axis=1) * np.linalg.norm(m[0]))
    order = [i for i in np.argsort(-sims) if i != 0][:5]
    assert out.sort_values("rank")["neighbor_id"].tolist() == order
    assert out.sort_values("rank")["neighbor_id"].iloc[0] == 1  # colinear vec


def test_lsh_topk_recall(spark, emb_df):
    exact = ann.brute_force_topk(emb_df, emb_df.filter("vec_id < 5"), k=3) \
        .toPandas()
    approx = ann.lsh_topk(emb_df, emb_df.filter("vec_id < 5"), k=3, dim=16,
                          num_planes=4, multiprobe_hamming=2).toPandas()
    # rank-1 neighbor recall over the 5 queries should be high
    e1 = exact[exact["rank"] == 1].set_index("query_id")["neighbor_id"]
    a1 = approx[approx["rank"] == 1].set_index("query_id")["neighbor_id"]
    hits = sum(int(a1.get(q, -1) == e1[q]) for q in e1.index)
    assert hits >= 3


def test_embedding_near_dups_exact(spark, emb_df):
    pairs = ann.embedding_near_dups(emb_df, threshold=0.999, dim=16,
                                    exact=True).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (0, 1) in got


def test_text_token_count_and_quality(spark, docs_df):
    out = docs_df.select(
        "doc_id", text.token_count(F.col("text")).alias("n"),
        text.quality_score(F.col("text")).alias("q")).orderBy("doc_id") \
        .toPandas()
    assert out["n"].tolist() == [9, 9, 9, 9, 7, 1]
    assert ((out["q"] >= 0) & (out["q"] <= 1)).all()


def test_lang_id_stopword_heuristic(spark):
    df = spark.createDataFrame(pd.DataFrame({"t": [
        "the cat and the dog in a house",
        "der Hund ist nicht mit der Katze",
        "el perro y la casa es un lugar",
        "xyzzy plugh qwerty",
    ]}))
    out = df.select(text.lang_id(F.col("t")).alias("l")).toPandas()
    assert out["l"].tolist() == ["en", "de", "es", "en"]


def test_tokens_byte_equality_through_pipeline(spark):
    """input_hint invariant: token arrays byte-equal through the
    pipeline (no float coercion, no reordering)."""
    rng = np.random.RandomState(2)
    toks = [rng.randint(0, 50000, rng.randint(1, 30)).astype("int32")
            for _ in range(50)]
    pdf = pd.DataFrame({"doc_id": range(50),
                        "tokens": [t.tolist() for t in toks],
                        "x": rng.randn(50)})
    df = spark.createDataFrame(pdf)
    wf = nvt.Workflow(
        (["x"] >> ops.FillMissing() >> ops.Normalize())
        + ["doc_id", "tokens"])
    out = wf.fit_transform(df).orderBy("doc_id").toPandas()
    for orig, got in zip(toks, out["tokens"]):
        assert np.asarray(got, dtype="int32").tobytes() == orig.tobytes()
    # and through a pandas_udf op (Arrow round trip)
    cat = ops.Categorify(list_strategy="udf")
    wf2 = nvt.Workflow((["tokens"] >> cat) + ["doc_id"])
    out2 = wf2.fit_transform(df).orderBy("doc_id").toPandas()
    assert all(len(a) == len(b) for a, b in zip(out2["tokens"], toks))


def test_multimodal_plumbing(spark):
    from nvtabular_spark.sources import multimodal as mm
    base = spark.range(10).select(F.col("id").cast("string").alias("doc_id"))
    with_bin = mm.attach_fake_binary(base, "doc_id", payload_bytes=64)
    assert dict(with_bin.dtypes)["payload"] == "binary"
    feats = mm.extract_image_features(with_bin, feature_dim=8).toPandas()
    assert len(feats) == 10
    assert all(len(f) == 8 for f in feats["features"])
    # determinism across runs
    feats2 = mm.extract_image_features(with_bin, feature_dim=8).toPandas()
    a = feats.sort_values("doc_id")["features"].tolist()
    b = feats2.sort_values("doc_id")["features"].tolist()
    assert [list(x) for x in a] == [list(x) for x in b]
    frames = mm.sample_video_frames(with_bin, every_n=2).toPandas()
    assert (frames.groupby("doc_id").size() > 0).all()
    # strict mode marks the stub boundary
    import pytest as _pytest
    with _pytest.raises(Exception):
        mm.extract_image_features(with_bin, strict=True).collect()


def test_skew_caps_inactive_at_test_scale(spark, docs_df):
    """The skew caps (max_posting / max_bucket) must be NO-OPs when no
    bucket exceeds them — capped and uncapped results identical. Keeps
    the example queries (which ship with caps ON) oracle-exact."""
    capped = dedup.ngram_jaccard_pairs(docs_df, n=3, threshold=0.5,
                                       max_posting=10000).toPandas()
    uncapped = dedup.ngram_jaccard_pairs(docs_df, n=3, threshold=0.5,
                                         max_posting=None).toPandas()
    key = lambda d: sorted(map(tuple, d[["id_a", "id_b"]].to_numpy()))
    assert key(capped) == key(uncapped)

    c2 = dedup.minhash_lsh_pairs(docs_df, num_hashes=4, bands=2,
                                 max_bucket=1000).toPandas()
    u2 = dedup.minhash_lsh_pairs(docs_df, num_hashes=4, bands=2,
                                 max_bucket=None).toPandas()
    assert key(c2) == key(u2)

    c3 = dedup.simhash_near_dups(docs_df, max_bucket=1000).toPandas()
    u3 = dedup.simhash_near_dups(docs_df, max_bucket=None).toPandas()
    assert key(c3) == key(u3)


def test_simhash_near_dups_bucket_cap_binds(spark):
    """When a (chunk, key) bucket exceeds max_bucket it is dropped
    entirely: identical docs all land in one bucket per chunk, so a cap
    below the group size yields NO pairs, while the uncapped run pairs
    them all."""
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(8)),
        "text": ["same text in every document here"] * 8,
    }))
    uncapped = dedup.simhash_near_dups(docs, max_bucket=None).toPandas()
    assert len(uncapped) == 8 * 7 // 2
    capped = dedup.simhash_near_dups(docs, max_bucket=4).toPandas()
    assert len(capped) == 0


def test_embedding_near_dups_bucketed_caps(spark, emb_df):
    """Bucketed (non-exact) path: capped ≡ uncapped when no bucket
    exceeds the cap, both ⊆ exact, and a binding cap drops the hot
    bucket's pairs."""
    kw = dict(threshold=0.9, dim=16, num_planes=4)
    key = lambda d: sorted(map(tuple, d[["id_a", "id_b"]].to_numpy()))
    capped = ann.embedding_near_dups(emb_df, max_bucket=1000, **kw).toPandas()
    uncapped = ann.embedding_near_dups(emb_df, max_bucket=None, **kw).toPandas()
    assert key(capped) == key(uncapped)
    exact = ann.embedding_near_dups(emb_df, exact=True, **kw).toPandas()
    assert set(key(capped)) <= set(key(exact))
    tiny = ann.embedding_near_dups(emb_df, max_bucket=1, **kw).toPandas()
    assert len(tiny) == 0  # every pair needs >= 2 rows in a bucket


def test_minhash_families_agree_on_dup_structure(spark, docs_df):
    """md5 (oracle-portable) and xxhash64 (production) families must
    induce the same signature-equality structure on identical docs, and
    each must be deterministic across evaluations."""
    for fam in ("md5", "xxhash64"):
        sig = dedup.minhash_signature(F.col("text"), num_hashes=4,
                                      family=fam)
        out = docs_df.select("doc_id", sig.alias("s")).orderBy("doc_id") \
            .toPandas()
        out2 = docs_df.select("doc_id", sig.alias("s")).orderBy("doc_id") \
            .toPandas()
        a = [None if v is None else list(v) for v in out["s"]]
        b = [None if v is None else list(v) for v in out2["s"]]
        assert a == b                       # deterministic
        assert a[0] == a[1]                 # exact dups → equal sigs
        assert a[0] != a[4]                 # different docs → differ
        assert a[5] is None                 # < 3 words → null signature


def test_simhash_matches_reference_impl(spark, docs_df):
    """Single-pass simhash must equal a direct python recomputation of
    the per-bit majority definition (md5 family parity retained for
    oracle reproducibility)."""
    import hashlib

    def py_simhash(text, bits=16):
        toks = [t for t in text.split(" ") if t]
        counts = [0] * bits
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for b in range(bits):
                counts[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(bits) if counts[b] > 0)

    out = docs_df.select(
        "doc_id", dedup.simhash(F.col("text"), bits=16).alias("sh")) \
        .orderBy("doc_id").toPandas()
    texts = docs_df.orderBy("doc_id").toPandas()["text"]
    for got, txt in zip(out["sh"], texts):
        assert int(got) == py_simhash(txt)


def test_real_bmp_decode_roundtrip_and_features(spark):
    """BMP decode is REAL (pure numpy): encode → decode round-trips
    byte-exactly, resize works, and the distributed extractor yields
    grid-pool features that match a local recomputation."""
    from nvtabular_spark.sources import multimodal as mm
    rng = np.random.RandomState(3)
    imgs = {f"d{i}": rng.randint(0, 256, (13, 17, 3), dtype=np.uint8)
            for i in range(4)}
    # round-trip (includes non-multiple-of-4 row stride → padding path)
    for img in imgs.values():
        assert np.array_equal(mm.decode_bmp(mm.encode_bmp(img)), img)
    assert mm.resize_image(list(imgs.values())[0], 8, 8).shape == (8, 8, 3)

    pdf = pd.DataFrame({"doc_id": list(imgs),
                        "payload": [mm.encode_bmp(v) for v in imgs.values()]})
    df = spark.createDataFrame(pdf)
    # strict=True must NOT raise for BMP — the codec is real
    out = mm.extract_image_features(df, grid=2, strict=True) \
        .orderBy("doc_id").toPandas()
    assert all(len(f) == 12 for f in out["features"])     # 3 * 2²
    for did, feats in zip(out["doc_id"], out["features"]):
        exp = mm.image_grid_features(imgs[did], grid=2)
        np.testing.assert_allclose(np.array(list(feats)), exp, rtol=1e-6)


def test_real_wav_decode_and_energy_features(spark):
    from nvtabular_spark.sources import multimodal as mm
    t = np.linspace(0, 1, 16000, endpoint=False)
    quiet = 0.01 * np.sin(2 * np.pi * 440 * t)
    loud = 0.9 * np.sin(2 * np.pi * 440 * t)
    pdf = pd.DataFrame({"doc_id": ["quiet", "loud"],
                        "payload": [mm.encode_wav(quiet), mm.encode_wav(loud)]})
    samples, sr = mm.decode_wav(mm.encode_wav(loud))
    assert sr == 16000 and samples.shape == (16000, 1)
    np.testing.assert_allclose(samples[:, 0], loud, atol=2e-4)

    df = spark.createDataFrame(pdf)
    out = mm.extract_audio_features(df, n_frames=4, strict=True) \
        .orderBy("doc_id").toPandas()
    assert out["sample_rate"].tolist() == [16000, 16000]
    assert out["n_samples"].tolist() == [16000, 16000]
    e_loud = np.array(list(out[out.doc_id == "loud"]["features"].iloc[0]))
    e_quiet = np.array(list(out[out.doc_id == "quiet"]["features"].iloc[0]))
    assert (e_loud > e_quiet * 50).all()   # RMS tracks amplitude


def test_ivf_topk_recall_vs_exact(spark):
    """IVF (spherical k-means + nprobe inverted lists) must be
    deterministic and reach reasonable recall@k vs brute force on the
    embeddings table; full probe (nprobe = n_centroids) must be exact."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = ann.ivf_train(emb, n_centroids=8, iters=2, sample_rows=500)
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)
    cents2 = ann.ivf_train(emb, n_centroids=8, iters=2, sample_rows=500)
    assert np.allclose(np.array(cents), np.array(cents2))  # deterministic

    exact = ann.brute_force_topk(emb, queries, k=5).toPandas()
    approx = ann.ivf_topk(emb, queries, cents, k=5, nprobe=3).toPandas()
    full = ann.ivf_topk(emb, queries, cents, k=5, nprobe=8).toPandas()

    def sets(d):
        return {q: set(g["neighbor_id"]) for q, g in d.groupby("query_id")}
    ex, ap, fu = sets(exact), sets(approx), sets(full)
    assert ex == fu                      # full probe == exact
    recall = np.mean([len(ex[q] & ap.get(q, set())) / len(ex[q])
                      for q in ex])
    assert recall >= 0.4, recall         # random 64-dim data is hard; the
    # structural guarantee (probing top clusters) is what's under test


def test_drop_exact_duplicates(spark, docs_df):
    out = dedup.drop_exact_duplicates(docs_df).orderBy("doc_id").toPandas()
    # docs 0,1,2 share the normalized fingerprint -> only doc 0 kept
    assert out["doc_id"].tolist() == [0, 3, 4, 5]
    assert set(out.columns) == {"doc_id", "text"}


def test_zero_vector_does_not_kill_ann(spark):
    """ANSI mode: a zero embedding must yield NULL cosine (and a
    deterministic IVF cluster), never a DIVIDE_BY_ZERO job failure."""
    import pyspark.sql.types as T
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType()))])
    rng = np.random.RandomState(2)
    rows = [(i, rng.rand(8).tolist()) for i in range(20)]
    rows.append((20, [0.0] * 8))                    # zero vector
    emb = spark.createDataFrame(rows, schema)
    q = emb.filter(F.col("vec_id").isin([0, 20]))
    out = ann.brute_force_topk(emb, q, k=3).toPandas()
    assert len(out[out.query_id == 0]) == 3
    zq = out[out.query_id == 20]
    assert zq["cosine_sim"].isna().all() or len(zq) == 3
    cents = ann.ivf_train(emb, n_centroids=4, iters=1, sample_rows=21)
    got = ann.ivf_topk(emb, q, cents, k=3, nprobe=4).toPandas()
    assert len(got[got.query_id == 0]) == 3          # no job failure


def test_real_png_decode_roundtrip_and_filters(spark):
    """PNG decode is REAL (stdlib zlib + numpy): our encoder round-trips
    byte-exactly, and all five scanline filter types unfilter correctly
    (synthetic multi-filter stream); distributed extractor agrees with
    the BMP features for the same pixels."""
    import zlib
    from nvtabular_spark.sources import multimodal as mm
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (9, 11, 3), dtype=np.uint8)
    assert np.array_equal(mm.decode_png(mm.encode_png(img)), img)

    # hand-build a PNG exercising filters 0..4 (one per row)
    h, w, ch = 5, 4, 3
    ref = rng.randint(0, 256, (h, w, ch), dtype=np.uint8).astype(np.int64)
    stride, bpp = w * ch, ch
    rows = []
    flat = ref.reshape(h, stride)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = flat[y]
        prev = flat[y - 1] if y else np.zeros(stride, dtype=np.int64)
        filt = np.zeros(stride, dtype=np.int64)
        for x in range(stride):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ftype == 0: pred = 0
            elif ftype == 1: pred = a
            elif ftype == 2: pred = b
            elif ftype == 3: pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[x] = (cur[x] - pred) & 0xFF
        rows.append(bytes([ftype]) + bytes(filt.astype(np.uint8)))
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0]))
    payload = (b"\x89PNG\r\n\x1a\n" + mm._png_chunk(b"IHDR", ihdr)
               + mm._png_chunk(b"IDAT", zlib.compress(b"".join(rows)))
               + mm._png_chunk(b"IEND", b""))
    assert np.array_equal(mm.decode_png(payload),
                          ref.astype(np.uint8).reshape(h, w, ch))

    # distributed extractor: PNG and BMP of the same pixels → same features
    pdf = pd.DataFrame({"doc_id": ["png", "bmp"],
                        "payload": [mm.encode_png(img), mm.encode_bmp(img)]})
    out = mm.extract_image_features(spark.createDataFrame(pdf), grid=2,
                                    strict=True).orderBy("doc_id").toPandas()
    f_bmp = np.array(list(out[out.doc_id == "bmp"]["features"].iloc[0]))
    f_png = np.array(list(out[out.doc_id == "png"]["features"].iloc[0]))
    np.testing.assert_allclose(f_png, f_bmp, rtol=1e-6)


def _brute_force_jaccard(texts, n, threshold):
    """(i, j, jaccard) of every doc pair over python sets of word
    n-grams (the engine splits words on single spaces)."""
    def shingles(t):
        ws = t.split(" ")
        return {tuple(ws[i:i + n]) for i in range(len(ws) - n + 1)}
    ss = [shingles(t) for t in texts]
    return sorted(
        (i, j, round(len(ss[i] & ss[j]) / len(ss[i] | ss[j]), 9))
        for i in range(len(ss)) for j in range(i + 1, len(ss))
        if ss[i] and ss[j]
        and len(ss[i] & ss[j]) / len(ss[i] | ss[j]) >= threshold)


def test_ngram_jaccard_equals_brute_force(spark, docs_df):
    """The prefix/length/positional/bitmap filters are EXACT: identical
    (id_a, id_b, jaccard) to brute-force python Jaccard over word
    trigram sets, at several thresholds, capped and uncapped."""
    texts = [r["text"] for r in docs_df.orderBy("doc_id").collect()]
    for t in (0.3, 0.5, 0.8):
        exp = _brute_force_jaccard(texts, 3, t)
        for cap in (10000, None):
            got = dedup.ngram_jaccard_pairs(docs_df, n=3, threshold=t,
                                            max_posting=cap).toPandas()
            assert sorted(
                (int(a), int(b), round(float(j), 9))
                for a, b, j in got[["id_a", "id_b", "jaccard"]].to_numpy()
            ) == exp, f"threshold {t}, max_posting {cap}"


def test_ngram_jaccard_one_plan(spark, docs_df, tmp_path):
    """A 6-doc parquet corpus (whose scan statistics give a small row
    estimate) runs the prefix plan too: the bitmap residual is in the
    candidate join, and the verify joins carry no broadcast hint, so
    AQE decides from measured bytes."""
    docs_df.write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    plan = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "bit_count" in plan
    assert "broadcast" not in plan.lower()


def test_ivf_stored_assignment_equals_inline(spark, tmp_path):
    """ivf_topk over a persisted (partitioned-by-cluster) assignment
    table must equal the inline-assignment path."""
    rng = np.random.RandomState(21)
    vecs = rng.randn(80, 16).astype("float64")
    corpus = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(80), "embedding": [v.tolist() for v in vecs]}))
    queries = corpus.filter("vec_id < 4")
    cents = ann.ivf_train(corpus, n_centroids=4, iters=2)

    inline = ann.ivf_topk(corpus, queries, cents, k=3, nprobe=2).toPandas()

    p = str(tmp_path / "ivf_assign")
    ann.ivf_write_assignment(corpus, cents, p)
    stored = ann.ivf_read_assignment(spark, p)
    via_store = ann.ivf_topk(None, queries, cents, k=3, nprobe=2,
                             assignment=stored).toPandas()

    key = lambda d: sorted(map(tuple, d[["query_id", "rank", "neighbor_id"]]
                               .to_numpy()))
    assert key(inline) == key(via_store)
    # the stored layout is partitioned by cluster id (partition pruning
    # is what makes repeated probes cheap)
    import os
    assert any(name.startswith("__cl__=") for name in os.listdir(p))


def test_real_jpeg_decode_roundtrip_and_features(spark):
    """Baseline JPEG is a REAL codec: encode → decode round-trips
    within lossy tolerance for 4:4:4 and 4:2:0, strict-mode feature
    extraction accepts JPEG payloads, and the remaining unsupported
    SOF modes (lossless 0xC3) still raise at the declared boundary."""
    from nvtabular_spark.sources import multimodal as mm
    from nvtabular_spark.sources.jpeg import decode_jpeg, encode_jpeg

    h, w = 41, 53
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack([np.minimum(xx * 5, 255), np.minimum(yy * 6, 255),
                    np.minimum(xx + yy, 255)], axis=-1).astype(np.uint8)
    for ss, tol in (("444", 1.5), ("420", 3.0)):
        payload = encode_jpeg(img, quality=92, subsampling=ss)
        assert payload[:3] == b"\xff\xd8\xff" and payload[-2:] == b"\xff\xd9"
        out = decode_jpeg(payload)
        assert out.shape == img.shape
        err = np.abs(out.astype(int) - img.astype(int)).mean()
        assert err < tol, (ss, err)

    # strict-mode Spark path over JPEG payloads
    pdf = pd.DataFrame({
        "doc_id": ["a", "b"],
        "payload": [encode_jpeg(img, subsampling="444"),
                    encode_jpeg(img, subsampling="420")]})
    df = spark.createDataFrame(pdf)
    feats = mm.extract_image_features(df, grid=2, strict=True) \
        .orderBy("doc_id").toPandas()
    assert all(len(f) == 12 for f in feats["features"])
    exp = mm.image_grid_features(img, grid=2)
    got = np.array(list(feats["features"].iloc[0]))
    np.testing.assert_allclose(got, exp, atol=2.0)  # lossy codec

    # lossless JPEG (SOF3) stays a declared NotImplementedError
    # boundary; a marker-flipped fake SOF2 stream is now decoded as
    # progressive for real and rejected as malformed
    fake = bytearray(encode_jpeg(img))
    i = fake.find(b"\xff\xc0")
    fake[i + 1] = 0xC3
    with pytest.raises(NotImplementedError, match="SOF"):
        decode_jpeg(bytes(fake))
    fake[i + 1] = 0xC2
    with pytest.raises((ValueError, IndexError, EOFError)):
        decode_jpeg(bytes(fake))


def test_progressive_jpeg_decode_matches_baseline(spark):
    """Progressive (SOF2) decode is REAL: the spectral-selection +
    successive-approximation scan script reconstructs the exact same
    quantized coefficients as baseline, so both decodes are pixel-
    identical; strict-mode Spark extraction accepts SOF2 payloads."""
    from nvtabular_spark.sources import multimodal as mm
    from nvtabular_spark.sources.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(7)
    imgs = []
    for h, w in ((16, 16), (41, 53), (8, 8), (24, 17)):
        yy, xx = np.mgrid[0:h, 0:w]
        imgs.append(np.stack(
            [np.minimum(xx * 5, 255), np.minimum(yy * 6, 255),
             (xx + yy) % 256], axis=-1).astype(np.uint8))
        imgs.append(rng.randint(0, 256, (h, w, 3), dtype=np.uint8))
    # flat image: every AC band is one long EOB run
    imgs.append(np.full((32, 32, 3), 128, dtype=np.uint8))
    for img in imgs:
        for ss in ("444", "420"):
            base = decode_jpeg(encode_jpeg(img, quality=85,
                                           subsampling=ss))
            prog_bytes = encode_jpeg(img, quality=85, subsampling=ss,
                                     progressive=True)
            assert b"\xff\xc2" in prog_bytes            # really SOF2
            prog = decode_jpeg(prog_bytes)
            np.testing.assert_array_equal(base, prog)

    # strict-mode Spark path over a progressive payload
    img = imgs[1]
    pdf = pd.DataFrame({
        "doc_id": ["p"],
        "payload": [encode_jpeg(img, subsampling="420",
                                progressive=True)]})
    feats = mm.extract_image_features(
        spark.createDataFrame(pdf), binary_col="payload", grid=2,
        strict=True).toPandas()
    assert len(feats["features"].iloc[0]) == 12


def test_embedding_near_dups_auto_planes(spark, emb_df):
    """num_planes="auto" sizes the key space from corpus count: tiny
    corpus → the 8-plane floor (same pairs as explicit 8 at dim=16
    would differ — compare against explicit num_planes=8/dim=16)."""
    key = lambda d: sorted(map(tuple, d[["id_a", "id_b"]].to_numpy()))
    auto = ann.embedding_near_dups(emb_df, threshold=0.9, dim=16,
                                   num_planes="auto").toPandas()
    explicit = ann.embedding_near_dups(emb_df, threshold=0.9, dim=16,
                                       num_planes=8).toPandas()
    assert key(auto) == key(explicit)  # 50 rows << occupancy → floor 8


# ---------------------------------------------------------------------------
# connected components / fuzzy-dedup clustering
# ---------------------------------------------------------------------------

def _union_find_components(edges):
    """Reference min-id labeling via union-find (driver-side)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {x for e in edges if e[0] != e[1] for x in e}
    groups = {}
    for x in nodes:
        groups.setdefault(find(x), []).append(x)
    return {x: min(mem) for mem in groups.values() for x in mem}


def test_connected_components_random_graph(spark):
    import random
    rng = random.Random(1234)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(250)]
    expect = _union_find_components(edges)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in dedup.connected_components(df).collect()}
    assert got == expect


def test_connected_components_chain_converges_fast(spark):
    # a 1001-node path is the worst case for label propagation
    # (diameter rounds); large-star/small-star must finish in O(log² n)
    chain = [(i, i + 1) for i in range(1000)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    rows = dedup.connected_components(df, max_iter=20).collect()
    assert len(rows) == 1001
    assert all(r["component"] == 0 for r in rows)


def test_connected_components_self_loops_and_reversed(spark):
    edges = [(5, 5), (2, 1), (1, 2), (9, 3)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in dedup.connected_components(df).collect()}
    # pure self-loop node 5 carries no connectivity information and is
    # not emitted; duplicate/reversed edges collapse
    assert got == {1: 1, 2: 1, 3: 3, 9: 3}


def test_drop_near_duplicates_keeps_min_per_cluster(spark, docs_df):
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 0), (4, 5)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in
                  dedup.drop_near_duplicates(docs_df, pairs).collect())
    assert kept == [0, 4]


def test_drop_near_duplicates_no_pairs_is_identity(spark, docs_df):
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.drop_near_duplicates(docs_df, empty).count() == \
        docs_df.count()


# ---------------------------------------------------------------------------
# repetition stats (Gopher-style)
# ---------------------------------------------------------------------------

def test_repetition_stats_values(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [
            "a b a b a b",        # 2-grams: [a b, b a, a b, b a, a b]
            "x y z",              # 2-grams: [x y, y z] — all unique
            "w",                  # < 2 words → absent from output
        ],
    }))
    out = {r["doc_id"]: r for r in
           text.repetition_stats(df, n=2).collect()}
    assert set(out) == {0, 1}
    r0 = out[0]
    assert r0["ngram_count"] == 5
    assert r0["distinct_ngrams"] == 2
    assert r0["top_ngram_count"] == 3
    assert r0["dup_ngram_frac"] == pytest.approx(1 - 2 / 5)
    # len("a b a b a b") == 11; top mass = 3 * len("a b") = 9
    assert r0["top_ngram_char_frac"] == pytest.approx(9 / 11)
    # dup mass = 3*3 ("a b") + 2*3 ("b a") = 15
    assert r0["dup_ngram_char_frac"] == pytest.approx(15 / 11)
    r1 = out[1]
    assert r1["dup_ngram_frac"] == 0.0
    assert r1["dup_ngram_char_frac"] == 0.0


def test_repetition_stats_unigrams(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0], "text": ["spark spark duck"]}))
    r = text.repetition_stats(df, n=1).collect()[0]
    assert r["ngram_count"] == 3 and r["distinct_ngrams"] == 2
    assert r["top_ngram_count"] == 2
    # len = 16; dup mass = 2 * len("spark") = 10
    assert r["dup_ngram_char_frac"] == pytest.approx(10 / 16)


# ---------------------------------------------------------------------------
# duplicate spans (substring-level dedup, Lee et al. 2022)
# ---------------------------------------------------------------------------

def test_duplicate_spans_planted(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [
            f"start {shared} end",          # span at words [1, 9)
            f"{shared} trailing words here",  # span at words [0, 8)
            "completely different content with no overlap at all",
        ]}))
    spans = {(r["doc_id"], r["span_start"], r["span_end"])
             for r in dedup.duplicate_spans(df, k=8).collect()}
    assert spans == {(0, 1, 9), (1, 0, 8)}


def test_duplicate_spans_merge_overlapping(spark):
    # two docs share a 10-word run → k=8 gives 3 overlapping 8-windows
    # in each doc that must merge into ONE maximal span
    run = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1],
        "text": [f"{run} tailA tailB", f"prefix {run}"]}))
    spans = {(r["doc_id"], r["span_start"], r["span_end"])
             for r in dedup.duplicate_spans(df, k=8).collect()}
    assert spans == {(0, 0, 10), (1, 1, 11)}


def test_duplicate_span_stats_fractions(spark):
    shared = " ".join(f"s{i}" for i in range(8))
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [
            f"{shared} x y",                 # 8 of 10 words duplicated
            shared,                          # 8 of 8
            "unique text entirely its own lane",  # 0 of 6
        ]}))
    stats = {r["doc_id"]: r for r in
             dedup.duplicate_span_stats(df, k=8).collect()}
    assert stats[0]["dup_words"] == 8 and stats[0]["n_words"] == 10
    assert stats[0]["dup_word_frac"] == pytest.approx(0.8)
    assert stats[1]["dup_word_frac"] == pytest.approx(1.0)
    assert stats[2]["n_dup_spans"] == 0
    assert stats[2]["dup_word_frac"] == 0.0


def test_duplicate_spans_within_doc_repeat_not_flagged(spark):
    # the signal is CROSS-document duplication: a doc repeating its own
    # 8-gram (but unique corpus-wide) produces no spans
    run = " ".join(f"r{i}" for i in range(8))
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1],
        "text": [f"{run} {run}", "some other words " * 3]}))
    assert dedup.duplicate_spans(df, k=8).count() == 0


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------

def test_scrub_pii_and_counts(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [
            "mail me at jane.doe+x@corp.example.org today",
            "see https://a.example/path?q=1 or http://b.example and "
            "ping 192.168.1.200 now",
            "nothing sensitive here",
        ]}))
    counts = text.pii_counts(F.col("text"))
    out = df.select(
        "doc_id", text.scrub_pii(F.col("text")).alias("s"),
        counts["url"].alias("nu"), counts["email"].alias("ne"),
        counts["ipv4"].alias("ni")).orderBy("doc_id").collect()
    assert out[0]["s"] == "mail me at <EMAIL> today"
    assert (out[0]["ne"], out[0]["nu"], out[0]["ni"]) == (1, 0, 0)
    assert out[1]["s"] == "see <URL> or <URL> and ping <IP> now"
    assert (out[1]["nu"], out[1]["ni"]) == (2, 1)
    assert out[2]["s"] == "nothing sensitive here"


def test_scrub_pii_url_swallows_embedded_email(spark):
    # URL scrub runs first: an email-shaped substring inside a URL must
    # not leave a dangling <EMAIL> inside the <URL> token
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0], "text": ["go http://x.example/u@y.example.com/z end"]}))
    s = df.select(text.scrub_pii(F.col("text")).alias("s")).collect()[0]["s"]
    assert s == "go <URL> end"


def test_random_projection_preserves_neighborhoods(spark):
    """JL sign projection: deterministic, and an unbiased inner-product
    estimator — pairwise inner products and norms are preserved within
    the 1/sqrt(out_dim) JL error scale. (Top-k recall is NOT asserted:
    the synthetic embeddings are near-isotropic, so their neighbor
    ranking is noise-dominated and no distance-preserving sketch could
    recover it.)"""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    proj = ann.random_projection(F.col("embedding"), dim=64, out_dim=32)
    pdf = emb.select("vec_id", "embedding", proj.alias("p")).toPandas()

    # determinism
    pdf2 = emb.select(ann.random_projection(
        F.col("embedding"), dim=64, out_dim=32).alias("p")).toPandas()
    assert pdf["p"].apply(tuple).tolist() == pdf2["p"].apply(tuple).tolist()

    E = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    P = np.stack(pdf["p"].to_numpy())
    # normalize rows so the JL error scale is 1/sqrt(out_dim)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    Pn_raw = P / np.linalg.norm(E, axis=1, keepdims=True)

    # sign projection is an unbiased inner-product estimator:
    # E[<Px,Py>] = <x,y>, std ≈ 1/sqrt(out_dim) ≈ 0.177 for unit
    # vectors at out_dim=32 — the MEAN absolute error over many pairs
    # must sit near that scale, far below the ±1 cosine range
    errs = []
    n = len(En)
    for a in range(0, n, 3):
        for b in range(a + 1, n, 7):
            errs.append(abs(float(Pn_raw[a] @ Pn_raw[b])
                            - float(En[a] @ En[b])))
    assert np.mean(errs) < 0.25, np.mean(errs)
    # and norms are preserved on average (E[|Px|²] = |x|²)
    ratio = np.linalg.norm(P, axis=1) / np.linalg.norm(E, axis=1)
    assert abs(float(np.mean(ratio)) - 1.0) < 0.15, np.mean(ratio)


def test_mjpeg_avi_real_frame_sampling(spark):
    """MJPEG AVI is real video now: the RIFF walker returns each
    sampled frame's complete JFIF payload, decodable by the native
    JPEG codec; strict mode accepts AVI and still rejects unknown
    containers."""
    from nvtabular_spark.sources import multimodal as mm
    from nvtabular_spark.sources.avi import (avi_mjpeg_frames,
                                             encode_avi_mjpeg, is_avi)
    from nvtabular_spark.sources.jpeg import decode_jpeg, encode_jpeg

    h, w = 24, 32
    rng = np.random.RandomState(5)
    frames_rgb = [rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
                  for _ in range(7)]
    jpegs = [encode_jpeg(f, quality=90) for f in frames_rgb]
    avi = encode_avi_mjpeg(jpegs, width=w, height=h, fps=10)
    assert is_avi(avi)
    assert avi_mjpeg_frames(avi) == jpegs          # byte-exact payloads

    pdf = pd.DataFrame({"doc_id": ["v"], "payload": [avi]})
    out = mm.sample_video_frames(spark.createDataFrame(pdf), every_n=3,
                                 strict=True).orderBy("frame_idx") \
        .toPandas()
    assert list(out["frame_idx"]) == [0, 3, 6]
    for _, row in out.iterrows():
        img = decode_jpeg(bytes(row["frame_bytes"]))
        ref = decode_jpeg(jpegs[row["frame_idx"]])
        np.testing.assert_array_equal(img, ref)

    # strict mode still rejects non-AVI payloads
    bad = pd.DataFrame({"doc_id": ["x"], "payload": [b"\x00" * 64]})
    with pytest.raises(Exception, match="ffmpeg"):
        mm.sample_video_frames(spark.createDataFrame(bad),
                               strict=True).collect()

    # and a non-MJPEG AVI raises NotImplementedError directly
    fake_avi = bytearray(encode_avi_mjpeg([b"\x00\x01\x02\x03"],
                                          width=2, height=2))
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        avi_mjpeg_frames(bytes(fake_avi))


def test_pca_fit_matches_numpy(spark):
    """Distributed partial-moment PCA == numpy PCA on the collected
    matrix (same covariance, same eigvecs up to canonical sign)."""
    import numpy as np
    rng = np.random.default_rng(5)
    # low-rank + noise so the spectrum is unambiguous
    base = rng.normal(size=(300, 3)) @ rng.normal(size=(3, 16))
    x = base + 0.01 * rng.normal(size=(300, 16))
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame(
        {"vec_id": range(300), "embedding": [r.tolist() for r in x]}))
    model = ann.pca_fit(df, "embedding", dim=16, out_dim=3)
    assert model["n"] == 300

    mu = x.mean(axis=0)
    cov = np.cov(x, rowvar=False)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:3]
    assert np.allclose(model["mean"], mu, atol=1e-9)
    assert np.allclose(sorted(model["explained_variance"], reverse=True),
                       sorted(w[order], reverse=True), rtol=1e-9)
    for j, oi in enumerate(order):
        c_ref = v[:, oi]
        if c_ref[int(np.argmax(np.abs(c_ref)))] < 0:
            c_ref = -c_ref
        assert np.allclose(model["components"][j], c_ref, atol=1e-8), j

    # projection: expression fold == numpy matmul
    out = df.select("vec_id", ann.pca_project(
        F.col("embedding"), model).alias("p")).orderBy("vec_id").toPandas()
    got = np.stack([np.asarray(p) for p in out["p"]])
    want = (x - mu) @ np.asarray(model["components"]).T
    assert np.allclose(got, want, atol=1e-8)
    # 3 components of a rank-3 signal capture ~all variance
    assert sum(model["explained_variance"]) / w.sum() > 0.99


def test_pca_project_then_ann_agrees_on_strong_pairs(spark):
    """PCA to the true signal rank preserves the near-dup structure:
    top-1 neighbors found in projected space match full-space top-1
    for planted duplicate pairs."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(11)
    base = rng.normal(size=(40, 4)) @ rng.normal(size=(4, 32))
    dups = base[:10] + 0.001 * rng.normal(size=(10, 32))
    x = np.vstack([base, dups])
    df = spark.createDataFrame(pd.DataFrame(
        {"vec_id": range(50), "embedding": [r.tolist() for r in x]}))
    model = ann.pca_fit(df, "embedding", dim=32, out_dim=4)
    proj = df.select("vec_id", ann.pca_project(
        F.col("embedding"), model).alias("embedding"))
    # planted dup i <-> base i must be mutual nearest in projected space
    pdf = proj.orderBy("vec_id").toPandas()
    p = np.stack([np.asarray(v) for v in pdf["embedding"]])
    pn = p / np.linalg.norm(p, axis=1, keepdims=True)
    sims = pn @ pn.T
    np.fill_diagonal(sims, -1)
    for i in range(10):
        assert sims[40 + i].argmax() == i


def test_drop_near_duplicates_keep_by_quality(spark):
    """keep_by keeps the highest-scoring cluster member (ties -> min
    id), instead of the default min-id representative."""
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "q": [0.1, 0.9, 0.5, 0.7, 0.7],
    }))
    pairs = spark.createDataFrame(pd.DataFrame(
        {"id_a": [1, 2, 4], "id_b": [2, 3, 5]}))   # clusters {1,2,3},{4,5}
    default = dedup.drop_near_duplicates(df, pairs)
    assert sorted(r["doc_id"] for r in default.collect()) == [1, 4]
    best = dedup.drop_near_duplicates(df, pairs, keep_by="q")
    # cluster {1,2,3}: doc 2 has max q; cluster {4,5}: tie 0.7 -> min id 4
    assert sorted(r["doc_id"] for r in best.collect()) == [2, 4]


def test_semantic_dedup_drops_planted_near_identicals(spark):
    """SemDeDup composition: PCA -> cluster -> within-cluster cosine ->
    components -> min-id survivor. Planted near-identical vectors must
    collapse to one survivor each; distinct vectors all survive."""
    rng = np.random.RandomState(21)
    base = rng.randn(30, 24).astype("float64")
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # docs 30..39 are near-copies of docs 0..9
    dups = base[:10] + 0.0005 * rng.randn(10, 24)
    x = np.vstack([base, dups])
    df = spark.createDataFrame(pd.DataFrame(
        {"vec_id": range(40), "embedding": [r.tolist() for r in x]}))
    survivors, pairs = ann.semantic_dedup(
        df, threshold=0.999, dim=24, n_clusters=4, keep_pairs=True)
    ids = sorted(r["vec_id"] for r in survivors.select("vec_id").collect())
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # every planted pair that shares a cluster must be found AND the
    # min-id member survives; non-dup docs 10..29 all survive
    assert set(range(10, 30)) <= set(ids)
    for i in range(10):
        if (i, 30 + i) in got_pairs:
            assert 30 + i not in ids and i in ids
    # at least most planted pairs land in the same k-means cluster
    assert sum((i, 30 + i) in got_pairs for i in range(10)) >= 7

    # PCA-reduced variant runs end-to-end and keeps all non-dups
    surv2 = ann.semantic_dedup(df, threshold=0.999, dim=24, pca_dim=8,
                               n_clusters=4)
    ids2 = sorted(r["vec_id"] for r in surv2.select("vec_id").collect())
    assert set(range(10, 30)) <= set(ids2)


def test_pca_fit_large_offset_stability(spark):
    """Un-normalized encoders can have ||mean|| >> spread — the pilot
    shift must keep the covariance (and thus components) accurate
    where the naive xtx - n*mu*mu' form loses all significant digits."""
    rng = np.random.RandomState(8)
    base = rng.normal(size=(200, 2)) @ rng.normal(size=(2, 12))
    offset = 1.0e8 * np.ones(12)        # mean 8 orders above the spread
    x = base + offset
    df = spark.createDataFrame(pd.DataFrame(
        {"vec_id": range(200), "embedding": [r.tolist() for r in x]}))
    model = ann.pca_fit(df, "embedding", dim=12, out_dim=2)
    cov = np.cov(x, rowvar=False)
    w = np.sort(np.linalg.eigvalsh(cov))[::-1][:2]
    got = np.asarray(sorted(model["explained_variance"], reverse=True))
    assert np.allclose(got, w, rtol=1e-6), (got, w)
    assert (got > 0).all()
    assert np.allclose(model["mean"], x.mean(axis=0), rtol=1e-12)


# ---------------------------------------------------------------------------
# line-level dedup (RefinedWeb-style)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def line_docs(spark):
    boiler = "Subscribe to our newsletter for updates"
    nav = "Home | About | Contact"
    return spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2, 3, 4],
        "text": [
            f"{boiler}\nUnique story about a fox.\n{nav}",
            f"{boiler}\nA different unique paragraph.\n\n{nav}",
            f"intro line kept\n{boiler}\nmore unique prose",
            "no boilerplate at all\njust plain text",
            None,
        ],
    }))


def test_drop_duplicate_lines_planted(spark, line_docs):
    out = (dedup.drop_duplicate_lines(line_docs, min_count=2)
           .orderBy("doc_id").toPandas())
    # boilerplate + nav occur >= 2x -> removed everywhere; blanks and
    # unique lines survive in original order
    assert out.loc[0, "text_clean"] == "Unique story about a fox."
    assert out.loc[1, "text_clean"] == "A different unique paragraph.\n"
    assert out.loc[2, "text_clean"] == "intro line kept\nmore unique prose"
    assert out.loc[3, "text_clean"] == out.loc[3, "text"]
    assert out.loc[4, "text_clean"] is None
    assert out["n_lines"].tolist() == [3, 4, 3, 2, 0]
    assert out["n_lines_removed"].tolist() == [2, 2, 1, 0, 0]
    assert out.loc[3, "removed_char_frac"] == 0.0
    assert 0.0 < out.loc[0, "removed_char_frac"] < 1.0


def test_drop_duplicate_lines_short_lines_always_kept(spark):
    # "---" occurs 3x but is under min_chars -> structural, kept
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["a real sentence here\n---",
                 "another real sentence\n---",
                 "---\nthird unique sentence"],
    }))
    out = (dedup.drop_duplicate_lines(df, min_count=2)
           .orderBy("doc_id").toPandas())
    assert out["n_lines_removed"].tolist() == [0, 0, 0]
    assert (out["text_clean"] == out["text"]).all()


def test_drop_duplicate_lines_normalization_toggle(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["Cookie Banner Text\nunique one",
                 "  cookie banner text  \nunique two"],
    }))
    norm = (dedup.drop_duplicate_lines(df, min_count=2)
            .orderBy("doc_id").toPandas())
    assert norm["n_lines_removed"].tolist() == [1, 1]
    raw = (dedup.drop_duplicate_lines(df, min_count=2, normalized=False)
           .orderBy("doc_id").toPandas())
    assert raw["n_lines_removed"].tolist() == [0, 0]


def test_drop_duplicate_lines_duckdb_equivalence(spark):
    """Cross-engine check on the sf0.001 documents table: DuckDB
    rebuilds the same eligible-line counts, removal set, reassembly
    and stats with raw SQL (string keys — equivalent to the md5 line
    hash modulo collisions, which the 5k-line corpus cannot hit)."""
    duckdb = pytest.importorskip("duckdb")
    path = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(path)
    got = (dedup.drop_duplicate_lines(docs, min_count=2)
           .select("doc_id", "text_clean", "n_lines", "n_lines_removed")
           .orderBy("doc_id").toPandas())
    con = duckdb.connect()
    exp = con.execute(f"""
        WITH lines AS (
          SELECT doc_id,
                 unnest(ls) AS line,
                 generate_subscripts(ls, 1) AS pos
          FROM (SELECT doc_id,
                       string_split(text, chr(10)) AS ls
                FROM '{path}' WHERE text IS NOT NULL) d),
        counts AS (
          SELECT lower(trim(line)) AS k, COUNT(*) AS n
          FROM lines WHERE length(trim(line)) >= 5 GROUP BY 1),
        dup AS (SELECT k FROM counts WHERE n >= 2),
        marked AS (
          SELECT l.doc_id, l.pos, l.line,
                 (length(trim(l.line)) >= 5 AND
                  lower(trim(l.line)) IN (SELECT k FROM dup)) AS is_dup
          FROM lines l)
        SELECT m.doc_id,
               COALESCE(string_agg(CASE WHEN NOT is_dup THEN line END,
                                   chr(10) ORDER BY pos), '') AS text_clean,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_lines_removed
        FROM marked m GROUP BY 1 ORDER BY 1""").df()
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["n_lines"].tolist() == exp["n_lines"].tolist()
    assert got["n_lines_removed"].tolist() == exp["n_lines_removed"].tolist()
    assert got["text_clean"].tolist() == exp["text_clean"].tolist()


# ---------------------------------------------------------------- unigram LM

@pytest.fixture(scope="module")
def lm_corpus(spark):
    return spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(5)),
        "text": [
            "the cat sat on the mat",
            "the dog sat on the log",
            "The CAT and the DOG",       # case folding
            "a completely different sentence entirely",
            "the the the the",           # skews 'the' to the top
        ],
    }))


def _py_unigram(texts, vocab_size, k, lowercase=True):
    """Pure-Python reference of the add-k capped-vocab unigram LM."""
    from collections import Counter
    c = Counter()
    for t in texts:
        if t is None:
            continue
        if lowercase:
            t = t.lower()
        c.update(w for w in t.split(" ") if w != "")
    n_tokens = sum(c.values())
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    v_eff = min(vocab_size, len(c))
    denom = n_tokens + k * (v_eff + 1)
    logp = {t: np.log10((n + k) / denom) for t, n in top}
    oov = n_tokens - sum(n for _, n in top)
    n_oov_types = len(c) - v_eff
    oov_logp = (np.log10((oov + k) / denom)
                - np.log10(max(1, n_oov_types)))
    return logp, float(oov_logp), n_tokens


def test_unigram_lm_fit_matches_python(spark, lm_corpus):
    from nvtabular_spark.functions import lm
    model = lm.unigram_lm_fit(lm_corpus, vocab_size=5, smoothing_k=0.5)
    exp_logp, exp_oov, exp_n = _py_unigram(
        [r["text"] for r in lm_corpus.collect()], 5, 0.5)
    got = model.as_rows()
    assert set(got) == set(exp_logp)
    for t in got:
        assert got[t] == pytest.approx(exp_logp[t], abs=1e-12)
    assert model.oov_logp == pytest.approx(exp_oov, abs=1e-12)
    assert model.n_tokens == exp_n


def test_unigram_lm_probability_mass_sums_to_one(spark, lm_corpus):
    from nvtabular_spark.functions import lm
    model = lm.unigram_lm_fit(lm_corpus, vocab_size=4, smoothing_k=0.5)
    mass = sum(10.0 ** p for p in model.as_rows().values())
    # vocab mass + whole <unk> CLASS mass = 1 exactly; per-token oov
    # logp is the class mass spread over the distinct OOV types
    mass += 10.0 ** model.oov_class_logp
    assert mass == pytest.approx(1.0, abs=1e-12)
    n_oov_types = model.n_distinct - 4
    assert model.oov_logp == pytest.approx(
        model.oov_class_logp - np.log10(n_oov_types), abs=1e-12)


def test_perplexity_score_matches_python(spark, lm_corpus):
    from nvtabular_spark.functions import lm
    model = lm.unigram_lm_fit(lm_corpus, vocab_size=5, smoothing_k=0.5)
    exp_logp, exp_oov, _ = _py_unigram(
        [r["text"] for r in lm_corpus.collect()], 5, 0.5)
    target = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["the cat sat", "unknown words here", ""],
    }))
    out = lm.perplexity_score(target, model).orderBy("doc_id").toPandas()
    for i, txt in enumerate(["the cat sat", "unknown words here"]):
        lps = [exp_logp.get(w, exp_oov) for w in txt.lower().split()]
        exp_ppl = 10.0 ** (-np.mean(lps))
        assert out.loc[i, "n_tok"] == len(lps)
        assert out.loc[i, "perplexity"] == pytest.approx(exp_ppl,
                                                         rel=1e-12)
    # empty text: present, unscored
    assert out.loc[2, "n_tok"] == 0
    assert pd.isna(out.loc[2, "perplexity"])
    # all-OOV text scores strictly worse than in-vocab text
    assert out.loc[1, "perplexity"] > out.loc[0, "perplexity"]


def test_perplexity_score_broadcast_plan(spark, lm_corpus):
    from nvtabular_spark.functions import lm
    model = lm.unigram_lm_fit(lm_corpus, vocab_size=5, smoothing_k=0.5)
    plan = lm.perplexity_score(lm_corpus, model) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_perplexity_partition_buckets(spark, lm_corpus):
    from nvtabular_spark.functions import lm
    model = lm.unigram_lm_fit(lm_corpus, vocab_size=6, smoothing_k=0.5)
    target = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(9)),
        "text": ["the cat sat on the mat"] * 3
                + ["the dog entirely different"] * 3
                + ["zz qq xx vv ww yy"] * 3,
    }))
    scores = lm.perplexity_score(target, model)
    out = lm.perplexity_partition(scores, 1 / 3, 1 / 3) \
        .orderBy("doc_id").toPandas()
    assert out["ppl_bucket"].tolist() == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3)
    # bucket ordering respects perplexity ordering
    by_bucket = out.groupby("ppl_bucket")["perplexity"]
    assert by_bucket.max()["head"] <= by_bucket.min()["middle"]
    assert by_bucket.max()["middle"] <= by_bucket.min()["tail"]


def test_unigram_lm_fit_empty_corpus_raises(spark):
    from nvtabular_spark.functions import lm
    empty = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": [""]}))
    with pytest.raises(ValueError, match="no tokens"):
        lm.unigram_lm_fit(empty)


# ------------------------------------------------- Gopher / C4 filters

def test_gopher_quality_flags(spark):
    good = " ".join(
        ["the quick brown fox jumps over that lazy dog again and"] * 6)
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(6)),
        "text": [
            good,                                  # passes everything
            "too short",                           # word count
            " ".join(["a"] * 60),                  # mean word len < 3
            " ".join(["the### and#"] * 30),        # symbol ratio
            "\n".join(["- the bullet item here"] * 10),   # bullets
            None,                                  # null → all fail
        ],
    }))
    out = text.gopher_quality_flags(docs).orderBy("doc_id").toPandas()
    assert out["gopher_pass"].tolist() == [True] + [False] * 5
    assert not out.loc[1, "ok_word_count"]
    assert not out.loc[2, "ok_mean_word_len"]
    assert not out.loc[3, "ok_symbol_ratio"]
    assert not out.loc[4, "ok_bullet_lines"]
    assert not out.loc[5].filter(like="ok_").any()
    # stats are exact
    assert out.loc[0, "n_words"] == 66
    exp_mwl = np.mean([len(w) for w in good.split()])
    assert out.loc[0, "mean_word_len"] == pytest.approx(exp_mwl)


def test_gopher_ellipsis_and_stopwords(spark):
    base = "the quick brown fox jumps over that lazy dog again and " * 6
    many_ellipsis = "\n".join([base + "..."] * 5)
    no_stops = " ".join(["zq%d wv%d" % (i, i) for i in range(30)])
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1],
        "text": [many_ellipsis, no_stops],
    }))
    out = text.gopher_quality_flags(docs).orderBy("doc_id").toPandas()
    assert not out.loc[0, "ok_ellipsis_lines"]
    assert not out.loc[1, "ok_stop_words"]
    assert not out.loc[1, "ok_alpha_words"] or True  # alnum words OK
    assert out.loc[0, "ok_stop_words"]


def test_c4_clean(spark):
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(4)),
        "text": [
            "This is a good sentence.\nAnother full sentence here!\n"
            "Is this kept too?\nno punct line\nok.\n"
            "click here javascript required.",
            "Lorem Ipsum dolor sit amet.\nGood sentence number two.\n"
            "Good sentence number three.\nGood sentence number four.",
            "function f() {\nreturn 1;\n}\nA real sentence here.\n"
            "Another real sentence now.\nAnd a third one too.",
            None,
        ],
    }))
    out = text.c4_clean(docs).orderBy("doc_id").toPandas()
    # doc 0: keeps the 3 full sentences; drops short-'ok.', no-punct,
    # and javascript lines
    assert out.loc[0, "text_clean"] == (
        "This is a good sentence.\nAnother full sentence here!\n"
        "Is this kept too?")
    assert out.loc[0, "n_lines_kept"] == 3
    assert bool(out.loc[0, "c4_keep"])
    # doc 1: lorem ipsum flag kills it despite enough sentences
    assert bool(out.loc[1, "has_lorem_ipsum"])
    assert not out.loc[1, "c4_keep"]
    assert out.loc[1, "n_lines_kept"] == 4
    # doc 2: brace flag
    assert bool(out.loc[2, "has_brace"])
    assert not out.loc[2, "c4_keep"]
    # doc 3: null
    assert out.loc[3, "text_clean"] is None
    assert out.loc[3, "n_lines_kept"] == 0
    assert not out.loc[3, "c4_keep"]


def test_gopher_c4_pure_codegen(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["a."]}))
    for fn in (text.gopher_quality_flags, text.c4_clean):
        plan = fn(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan        # single narrow pass
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


# --------------------------------------------------------------- DSIR

@pytest.fixture(scope="module")
def dsir_lms(spark, lm_corpus):
    from nvtabular_spark.functions import lm
    target = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["the cat sat on the mat with the cat",
                 "a cat and a mat and the cat sat"],
    }))
    t = lm.unigram_lm_fit(target, vocab_size=8, smoothing_k=0.5)
    r = lm.unigram_lm_fit(lm_corpus, vocab_size=8, smoothing_k=0.5)
    return t, r


def test_dsir_log_weights_match_python(spark, lm_corpus, dsir_lms):
    from nvtabular_spark.functions import lm
    t, r = dsir_lms
    pool = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["the cat sat on the mat",     # target-like
                 "completely different sentence entirely",
                 ""],
    }))
    out = lm.dsir_log_weights(pool, t, r).orderBy("doc_id").toPandas()
    t_rows, r_rows = t.as_rows(), r.as_rows()
    for i, txt in enumerate(["the cat sat on the mat",
                             "completely different sentence entirely"]):
        exp = sum(t_rows.get(w, t.oov_logp) - r_rows.get(w, r.oov_logp)
                  for w in txt.split())
        assert out.loc[i, "log_weight"] == pytest.approx(exp, abs=1e-10)
    # target-like text outweighs off-target text
    assert out.loc[0, "log_weight"] > out.loc[1, "log_weight"]
    # empty doc: weight 1 (log 0), present
    assert out.loc[2, "log_weight"] == 0.0
    assert out.loc[2, "n_tok"] == 0


def test_dsir_sample_deterministic_topk(spark, dsir_lms):
    from nvtabular_spark.functions import lm
    t, r = dsir_lms
    pool = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(40)),
        "text": (["the cat sat on the mat"] * 20
                 + ["zz qq ww vv xx yy uu tt"] * 20),
    }))
    s1 = lm.dsir_sample(pool, t, r, k=10, seed=7) \
        .orderBy("doc_id").toPandas()
    s2 = lm.dsir_sample(pool, t, r, k=10, seed=7) \
        .orderBy("doc_id").toPandas()
    assert len(s1) == 10
    assert s1["doc_id"].tolist() == s2["doc_id"].tolist()  # reproducible
    # importance resampling should overwhelmingly pick target-like docs
    assert (s1["doc_id"] < 20).sum() >= 9
    # a different seed reshuffles the Gumbel noise
    s3 = lm.dsir_sample(pool, t, r, k=10, seed=8) \
        .orderBy("doc_id").toPandas()
    assert set(s3["doc_id"]) != set(s1["doc_id"]) or True  # may coincide
    # winners carry the ranking key and the original columns
    assert {"text", "log_weight", "gumbel_key"} <= set(s1.columns)


def test_dsir_sample_broadcast_plan(spark, dsir_lms):
    from nvtabular_spark.functions import lm
    t, r = dsir_lms
    pool = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1], "text": ["the cat", "zz qq"]}))
    plan = lm.dsir_sample(pool, t, r, k=1) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_dsir_lowercase_mismatch_raises(spark, lm_corpus):
    from nvtabular_spark.functions import lm
    a = lm.unigram_lm_fit(lm_corpus, vocab_size=4, lowercase=True)
    b = lm.unigram_lm_fit(lm_corpus, vocab_size=4, lowercase=False)
    with pytest.raises(ValueError, match="lowercase"):
        lm.dsir_log_weights(lm_corpus, a, b)


def test_novel_documents_incremental(spark):
    """Incremental ingest dedup: planted cross-corpus dups vanish,
    within-increment dup groups keep the min-id row, and the persisted
    exact_keys ledger path is identical to fingerprinting the corpus."""
    seen = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["alpha doc body", "beta doc body", "gamma doc body"],
    }))
    inc = spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 11, 12, 13, 14, 15],
        "text": [
            "Alpha DOC body",        # dup of seen 0 (normalized)
            "delta doc body",        # novel
            "delta doc body",        # within-increment dup of 11
            "epsilon doc body",      # novel
            "beta doc body",         # exact dup of seen 1
            "zeta doc body",         # novel
        ],
    }))
    out = dedup.novel_documents(inc, seen).orderBy("doc_id").toPandas()
    assert out["doc_id"].tolist() == [11, 13, 15]
    assert list(out.columns) == ["doc_id", "text"]

    # ledger path ≡ corpus path
    ledger = dedup.exact_keys(seen)
    out2 = dedup.novel_documents(inc, ledger, seen_is_keys=True) \
        .orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(out, out2)

    # dedup_within=False keeps both copies of the novel dup group
    out3 = dedup.novel_documents(inc, seen, dedup_within=False) \
        .orderBy("doc_id").toPandas()
    assert out3["doc_id"].tolist() == [11, 12, 13, 15]

    # normalized=False treats the case-variant as novel
    out4 = dedup.novel_documents(inc, seen, normalized=False) \
        .orderBy("doc_id").toPandas()
    assert 10 in out4["doc_id"].tolist()

    # NULL-text rows are not duplicates of each other: every one
    # passes through the within-increment dedup instead of collapsing
    # on the NULL fingerprint (or being dropped by the equi-join)
    inc_nulls = spark.createDataFrame(pd.DataFrame({
        "doc_id": [20, 21, 22, 23],
        "text": [None, None, "delta doc body", "alpha doc body"],
    }))
    out5 = dedup.novel_documents(inc_nulls, seen).orderBy("doc_id") \
        .toPandas()
    assert out5["doc_id"].tolist() == [20, 21, 22]


def test_novel_documents_duckdb_equivalence(spark):
    """Cross-engine: anti-join + min-id-within on md5(lower/trimmed
    collapse) must match DuckDB running the same relational plan."""
    duckdb = pytest.importorskip("duckdb")
    rng = np.random.RandomState(7)
    def mk(n, start):
        return pd.DataFrame({
            "doc_id": np.arange(start, start + n),
            "text": ["doc body %d" % rng.randint(0, 40) for _ in range(n)],
        })
    seen_pdf, inc_pdf = mk(60, 0), mk(50, 1000)
    seen = spark.createDataFrame(seen_pdf)
    inc = spark.createDataFrame(inc_pdf)
    got = dedup.novel_documents(inc, seen).orderBy("doc_id").toPandas()

    con = duckdb.connect()
    con.register("seen", seen_pdf)
    con.register("inc", inc_pdf)
    # same normalization as text.fingerprint: lower → strip non-
    # [a-z0-9 ] → collapse spaces → trim → md5
    norm = ("md5(trim(regexp_replace(regexp_replace(lower(text), "
            "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))")
    exp = con.execute(f"""
        WITH ik AS (SELECT doc_id, text, {norm} AS dk FROM inc),
        sk AS (SELECT DISTINCT {norm} AS dk FROM seen),
        fresh AS (SELECT * FROM ik WHERE dk NOT IN (SELECT dk FROM sk)),
        canon AS (SELECT dk, MIN(doc_id) cid FROM fresh GROUP BY 1)
        SELECT f.doc_id, f.text FROM fresh f JOIN canon c
        ON f.dk = c.dk WHERE f.doc_id = c.cid ORDER BY f.doc_id""").df()
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["text"].tolist() == exp["text"].tolist()


# -- drift: PSI / JS divergence -------------------------------------------------

def test_psi_identical_snapshots_is_zero(spark):
    from nvtabular_spark.functions import drift
    pdf = pd.DataFrame({"v": np.linspace(0, 10, 200)})
    a = spark.createDataFrame(pdf)
    out = drift.psi(a, a, "v", bins=8).toPandas().sort_values("bin")
    assert len(out) == 8
    np.testing.assert_allclose(out["psi_contrib"], 0.0, atol=1e-15)
    np.testing.assert_allclose(out["js_contrib"], 0.0, atol=1e-15)
    np.testing.assert_allclose(out["p_ref"], out["p_cur"])


def test_psi_brute_force_and_clamping(spark):
    """PSI/JS vs a numpy recomputation with the same Laplace smoothing;
    current-snapshot values beyond the reference range clamp into the
    edge bins (out-of-range drift counts, never vanishes)."""
    from nvtabular_spark.functions import drift
    rng = np.random.RandomState(3)
    ref_v = rng.normal(0, 1, 500)
    cur_v = np.concatenate([rng.normal(0.8, 1.3, 400),
                            [-99.0, 99.0]])          # out-of-range
    bins, alpha = 10, 0.5
    ref = spark.createDataFrame(pd.DataFrame({"v": ref_v}))
    cur = spark.createDataFrame(pd.DataFrame({"v": cur_v}))
    out = drift.psi(ref, cur, "v", bins=bins, alpha=alpha) \
        .toPandas().sort_values("bin").reset_index(drop=True)

    lo, hi = ref_v.min(), ref_v.max()
    width = (hi - lo) / bins
    def hist(v):
        b = np.clip(np.floor((v - lo) / width).astype(int), 0, bins - 1)
        return np.bincount(b, minlength=bins)
    n_r, n_c = hist(ref_v), hist(cur_v)
    p_r = (n_r + alpha) / (len(ref_v) + alpha * bins)
    p_c = (n_c + alpha) / (len(cur_v) + alpha * bins)
    np.testing.assert_array_equal(out["n_ref"], n_r)
    np.testing.assert_array_equal(out["n_cur"], n_c)
    np.testing.assert_allclose(out["psi_contrib"],
                               (p_c - p_r) * np.log(p_c / p_r),
                               rtol=1e-12)
    m = (p_r + p_c) / 2
    np.testing.assert_allclose(
        out["js_contrib"],
        (p_r * np.log(p_r / m) + p_c * np.log(p_c / m)) / 2, rtol=1e-12)
    # the planted outliers live in the edge bins
    assert out["n_cur"].iloc[0] >= 1 and out["n_cur"].iloc[-1] >= 1

    s = drift.drift_summary(ref, cur, "v", bins=bins,
                            alpha=alpha).toPandas()
    np.testing.assert_allclose(s["psi"].iloc[0],
                               ((p_c - p_r) * np.log(p_c / p_r)).sum(),
                               rtol=1e-12)
    assert 0 <= s["js_divergence"].iloc[0] <= np.log(2) + 1e-12


def test_psi_nulls_nans_excluded_and_validation(spark):
    from nvtabular_spark.functions import drift
    ref = spark.createDataFrame(
        [(0.0,), (1.0,), (2.0,), (None,)], "v double")
    cur = spark.createDataFrame(
        pd.DataFrame({"v": [0.0, 2.0, np.nan]}))
    out = drift.psi(ref, cur, "v", bins=2).toPandas().sort_values("bin")
    assert out["n_ref"].sum() == 3 and out["n_cur"].sum() == 2
    with pytest.raises(ValueError, match="bins"):
        drift.psi(ref, cur, "v", bins=1)
    with pytest.raises(ValueError, match="alpha"):
        drift.psi(ref, cur, "v", alpha=0.0)
    empty = spark.createDataFrame([(None,)], "v double")
    with pytest.raises(ValueError, match="no non-null"):
        drift.psi(empty, cur, "v")


def test_psi_constant_reference_column(spark):
    """A constant reference column (width 0 → 1.0) puts all mass in
    bin 0 on both sides; drift shows only if cur moves above lo."""
    from nvtabular_spark.functions import drift
    ref = spark.createDataFrame(pd.DataFrame({"v": [5.0] * 10}))
    cur = spark.createDataFrame(pd.DataFrame({"v": [5.0] * 8 + [7.0] * 2}))
    out = drift.psi(ref, cur, "v", bins=4).toPandas().sort_values("bin")
    assert out["n_ref"].iloc[0] == 10
    assert out["n_cur"].iloc[0] == 8
    assert out["n_cur"].sum() == 10   # the 7.0s clamp into a later bin


def test_psi_categorical_brute_force(spark):
    """Top-k + __other__ bucketing vs a pandas recomputation, with a
    tie at the k boundary (lexicographic break) and a category that
    exists only in the current snapshot (must fold into __other__)."""
    from nvtabular_spark.functions import drift
    ref_v = ["a"] * 50 + ["b"] * 30 + ["c"] * 10 + ["d"] * 10 + ["e"] * 5
    cur_v = ["a"] * 20 + ["b"] * 40 + ["zz"] * 30 + ["c"] * 5
    ref = spark.createDataFrame(pd.DataFrame({"cat": ref_v}))
    cur = spark.createDataFrame(pd.DataFrame({"cat": cur_v}))
    k, alpha = 3, 0.5
    out = drift.psi_categorical(ref, cur, "cat", top_k=k, alpha=alpha) \
        .toPandas().sort_values("category").reset_index(drop=True)

    # ref freq: a50 b30 c10 d10 e5 → top3 = a, b, c (c beats d lexic.)
    assert sorted(out["category"]) == ["__other__", "a", "b", "c"]
    exp_ref = {"a": 50, "b": 30, "c": 10, "__other__": 15}
    exp_cur = {"a": 20, "b": 40, "c": 5, "__other__": 30}
    got_r = dict(zip(out["category"], out["n_ref"]))
    got_c = dict(zip(out["category"], out["n_cur"]))
    assert got_r == exp_ref and got_c == exp_cur

    nb = 4
    for _, row in out.iterrows():
        pr = (exp_ref[row["category"]] + alpha) / (105 + alpha * nb)
        pc = (exp_cur[row["category"]] + alpha) / (95 + alpha * nb)
        np.testing.assert_allclose(row["p_ref"], pr, rtol=1e-12)
        np.testing.assert_allclose(row["p_cur"], pc, rtol=1e-12)
        np.testing.assert_allclose(row["psi_contrib"],
                                   (pc - pr) * np.log(pc / pr),
                                   rtol=1e-12)


def test_psi_categorical_identical_and_validation(spark):
    from nvtabular_spark.functions import drift
    pdf = pd.DataFrame({"cat": ["x", "y", "z", "x", None]})
    a = spark.createDataFrame(pdf)
    out = drift.psi_categorical(a, a, "cat", top_k=2).toPandas()
    # top2 = x + (y or z lexic. → y); z folds to __other__; NULL dropped
    assert out["n_ref"].sum() == 4
    np.testing.assert_allclose(out["psi_contrib"], 0.0, atol=1e-15)
    with pytest.raises(ValueError, match="top_k"):
        drift.psi_categorical(a, a, "cat", top_k=0)
    with pytest.raises(ValueError, match="alpha"):
        drift.psi_categorical(a, a, "cat", alpha=-1)


def test_split_time_holdout_embargo(spark):
    """Purged temporal split: train strictly before cutoff-embargo,
    holdout at/after cutoff, the embargo band in NEITHER; NULL ts in
    neither; string cutoff ≡ numeric cutoff."""
    from nvtabular_spark.functions import sampling
    pdf = pd.DataFrame({
        "rid": range(6),
        "ts": pd.to_datetime([100, 200, 290, 295, 300, 310], unit="s"),
    })
    df = spark.createDataFrame(pdf)
    df = df.union(spark.createDataFrame(
        [(99, None)], schema=df.schema))           # NULL ts row
    tr, ho = sampling.split_time_holdout(df, "ts", 300,
                                         embargo_seconds=20)
    assert sorted(r.rid for r in tr.collect()) == [0, 1]      # <280
    assert sorted(r.rid for r in ho.collect()) == [4, 5]      # >=300
    # zero embargo: plain cutoff
    tr0, ho0 = sampling.split_time_holdout(df, "ts", 300)
    assert sorted(r.rid for r in tr0.collect()) == [0, 1, 2, 3]
    # ISO-string cutoff equals the numeric one
    trs, hos = sampling.split_time_holdout(
        df, "ts", "1970-01-01 00:05:00", embargo_seconds=20)
    assert sorted(r.rid for r in trs.collect()) \
        == sorted(r.rid for r in tr.collect())
    with pytest.raises(ValueError, match="embargo"):
        sampling.split_time_holdout(df, "ts", 300, embargo_seconds=-1)


def test_mutual_information_brute_force(spark):
    """MI/entropies/NMI vs a numpy contingency recomputation; NULLs on
    either side excluded; independent columns → MI ~ 0 exactly for a
    product-form table."""
    from nvtabular_spark.functions import drift
    pdf = pd.DataFrame({
        "x": ["a", "a", "a", "b", "b", "c", None, "a"],
        "y": ["p", "p", "q", "q", "q", "p", "p", None],
    })
    df = spark.createDataFrame(pdf)
    out = drift.mutual_information(df, "x", "y").toPandas()
    sub = pdf.dropna()
    n = len(sub)
    cells = sub.groupby(["x", "y"]).size()
    nx = sub.groupby("x").size()
    ny = sub.groupby("y").size()
    mi = sum((c / n) * np.log(c * n / (nx[i[0]] * ny[i[1]]))
             for i, c in cells.items())
    hx = -sum((v / n) * np.log(v / n) for v in nx)
    hy = -sum((v / n) * np.log(v / n) for v in ny)
    np.testing.assert_allclose(out["mi"].iloc[0], mi, rtol=1e-12)
    np.testing.assert_allclose(out["h_x"].iloc[0], hx, rtol=1e-12)
    np.testing.assert_allclose(out["h_y"].iloc[0], hy, rtol=1e-12)
    np.testing.assert_allclose(out["nmi"].iloc[0],
                               mi / np.sqrt(hx * hy), rtol=1e-12)
    assert out["n"].iloc[0] == n

    # exact independence: product-form 2x2 table → MI exactly 0
    ind = pd.DataFrame({"x": ["a"] * 4 + ["b"] * 4,
                        "y": ["p", "p", "q", "q"] * 2})
    out2 = drift.mutual_information(spark.createDataFrame(ind),
                                    "x", "y").toPandas()
    np.testing.assert_allclose(out2["mi"].iloc[0], 0.0, atol=1e-15)
    # constant column → zero entropy → NMI contract 0
    const = pd.DataFrame({"x": ["a", "b"], "y": ["k", "k"]})
    out3 = drift.mutual_information(spark.createDataFrame(const),
                                    "x", "y").toPandas()
    assert out3["nmi"].iloc[0] == 0.0


def test_correlation_matrix_brute_force(spark):
    """All-pairs Pearson vs numpy; NaN cells excluded pairwise; plan
    is ONE aggregate over the input (no join, no Python)."""
    from nvtabular_spark.functions import drift
    rng = np.random.RandomState(21)
    pdf = pd.DataFrame({
        "a": rng.rand(200),
        "b": rng.rand(200),
        "c": rng.rand(200),
    })
    pdf["b"] = pdf["a"] * 2 + rng.rand(200) * 0.1     # strongly corr
    pdf.loc[3, "c"] = np.nan                           # pairwise skip
    df = spark.createDataFrame(pdf)
    out = drift.correlation_matrix(df, ["c", "a", "b"]) \
        .toPandas().set_index(["col_x", "col_y"])
    assert list(out.index) == [("a", "b"), ("a", "c"), ("b", "c")]
    np.testing.assert_allclose(
        out.loc[("a", "b"), "corr"],
        np.corrcoef(pdf["a"], pdf["b"])[0, 1], rtol=1e-9)
    mask = pdf["c"].notna()
    np.testing.assert_allclose(
        out.loc[("a", "c"), "corr"],
        np.corrcoef(pdf.loc[mask, "a"], pdf.loc[mask, "c"])[0, 1],
        rtol=1e-9)
    with pytest.raises(ValueError, match=">= 2"):
        drift.correlation_matrix(df, ["a"])
    # single-scan plan: no Exchange before the partial aggregate, no join
    plan = drift.correlation_matrix(df, ["a", "b", "c"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_schema_drift_brute_force(spark):
    """Per-column null fractions, moments and the Welch z shift vs a
    pandas recomputation; strings profile nulls only; NaN ≡ missing."""
    from nvtabular_spark.functions import drift
    rng = np.random.RandomState(8)
    ref_pdf = pd.DataFrame({
        "x": rng.normal(10, 2, 300),
        "s": ["a"] * 298 + [None, None],
    })
    cur_pdf = pd.DataFrame({
        "x": np.concatenate([rng.normal(11, 2, 195), [np.nan] * 5]),
        "s": ["a"] * 180 + [None] * 20,
    })
    ref = spark.createDataFrame(ref_pdf)
    cur = spark.createDataFrame(cur_pdf)
    out = drift.schema_drift(ref, cur).toPandas().set_index("column")

    np.testing.assert_allclose(out.loc["s", "null_frac_ref"], 2 / 300)
    np.testing.assert_allclose(out.loc["s", "null_frac_cur"], 0.1)
    assert pd.isna(out.loc["s", "z_mean"])
    np.testing.assert_allclose(out.loc["x", "null_frac_cur"], 5 / 200)
    np.testing.assert_allclose(out.loc["x", "mean_ref"],
                               ref_pdf["x"].mean(), rtol=1e-12)
    cx = cur_pdf["x"].dropna()
    np.testing.assert_allclose(out.loc["x", "mean_cur"], cx.mean(),
                               rtol=1e-12)
    z = (cx.mean() - ref_pdf["x"].mean()) / np.sqrt(
        ref_pdf["x"].std(ddof=1) ** 2 / 300 + cx.std(ddof=1) ** 2 / 195)
    np.testing.assert_allclose(out.loc["x", "z_mean"], z, rtol=1e-9)
    # the planted +1 shift must flag loudly
    assert abs(out.loc["x", "z_mean"]) > 3
    with pytest.raises(ValueError, match="shared"):
        drift.schema_drift(ref.select("x"), cur.select("s"))


def test_perplexity_partition_exact_deterministic(spark, lm_corpus):
    """exact=True pins the cut points to the true percentiles: bucket
    membership is identical across repeated runs AND across input
    repartitionings (the approximate path's merge order can move
    boundary docs)."""
    from nvtabular_spark.functions import lm
    model = lm.unigram_lm_fit(lm_corpus, vocab_size=50)
    scores = lm.perplexity_score(lm_corpus, model)
    ref = lm.perplexity_partition(scores, 1 / 3, 1 / 3, exact=True) \
        .orderBy("doc_id").toPandas()
    for parts in (1, 7):
        again = lm.perplexity_partition(
            scores.repartition(parts), 1 / 3, 1 / 3, exact=True) \
            .orderBy("doc_id").toPandas()
        assert again["ppl_bucket"].tolist() == ref["ppl_bucket"].tolist()
