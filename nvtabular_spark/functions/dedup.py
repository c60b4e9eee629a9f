"""Deduplication at training-data scale.

Five strategies over a ``documents(doc_id, text)`` corpus, all
Spark-first (expressions + joins; Python never touches row data):

* exact           — hash-groupBy on normalized text
* MinHash + LSH   — shingle → k minhashes → banded bucket-join
* SimHash         — per-bit majority of token hashes
* n-gram Jaccard  — inverted-index self-join on shingles
* embedding cosine near-dup — see functions/ann.py

Scale notes: the shingle explode is a flatMap (no shuffle); candidate
generation shuffles once on the band/bucket key; the verify join is
band-local. Skewed buckets (boilerplate shingles) are capped with
``max_bucket`` — standard practice for web-scale LSH; the cap is logged
in the plan, not silent (the helper returns the dropped-bucket count
via an optional accumulator DataFrame).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import planning
from .hashing import hash64
from .text import fingerprint, words


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     normalized: bool = True) -> DataFrame:
    """One row per document: its dedup key and the canonical (min) id of
    its duplicate group. ``is_dup`` marks rows to drop."""
    df = planning.ensure_min_parallelism(df)  # hashing is CPU-bound
    key = fingerprint(F.col(text_col)) if normalized else F.md5(F.col(text_col))
    keyed = df.select(F.col(id_col), key.alias("dup_key"))
    canon = keyed.groupBy("dup_key").agg(F.min(id_col).alias("canonical_id"))
    return (keyed.join(canon, "dup_key")
            .withColumn("is_dup", F.col(id_col) != F.col("canonical_id")))


def drop_exact_duplicates(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          normalized: bool = True) -> DataFrame:
    """Corpus minus exact duplicates: keeps the canonical (min-id) row
    of each duplicate group, all original columns intact. The common
    one-call entry point over :func:`exact_duplicates`."""
    key = fingerprint(F.col(text_col)) if normalized \
        else F.md5(F.col(text_col))
    w_cols = df.columns
    keyed = df.withColumn("__dk__", key)
    canon = keyed.groupBy("__dk__").agg(F.min(id_col).alias("__cid__"))
    return (keyed.join(canon, "__dk__")
            .filter(F.col(id_col) == F.col("__cid__"))
            .select(*w_cols))


#: universal-hash modulus for minhash lanes — the 31-bit prime used by
#: Spark MLlib's MinHashLSH (public API); (a*x + b) stays < 2^63 for
#: 32-bit x, so the arithmetic is exact in BIGINT in Spark AND DuckDB.
MINHASH_PRIME = 2038074743
_MASK32 = (1 << 32) - 1
#: rolling shingle-hash combiner: acc' = (acc & MASK44)*P + next_word32.
#: Bounds make every intermediate exact in 64-bit SIGNED arithmetic on
#: BOTH engines (DuckDB raises on BIGINT overflow, Spark wraps):
#: (2^44)·(2^19-1) + 2^32 < 2^63.
SHINGLE_P = 524287            # 2^19 - 1 (Mersenne)
_MASK44 = (1 << 44) - 1

#: 64-bit words in the shingle-set Bloom bitmap used by the n-gram
#: candidate pre-filter (256 bits total): sized so that at typical shingle
#: counts (tens to low hundreds) a non-qualifying pair's xor-popcount
#: lower bound on |A(+)B| exceeds the threshold-implied maximum with
#: many sigmas of margin.
_BM_WORDS = 4


def word_shingle_hashes(col: Column, n: int = 3,
                        family: str = "md5") -> Column:
    """Array of shingle hashes over word n-grams WITHOUT materializing
    shingle strings: each word is hashed once (md5/xxhash64 family, low
    32 bits), then n consecutive word hashes are combined with a
    rolling polynomial over n-1 zip_with passes of pre-sliced shifted
    arrays — ~3.5× cheaper than building per-position substrings (the
    old string-shingle path) and identical in DuckDB SQL for the md5
    family. Fewer than n words → empty array."""
    w = words(col)
    hw = F.transform(w,
                     lambda x: hash64(x, family).bitwiseAND(F.lit(_MASK32)))
    length = F.greatest(F.size(w) - F.lit(n - 1), F.lit(0))
    acc = F.slice(hw, 1, length)
    for j in range(1, n):
        shifted = F.slice(hw, j + 1, length)
        acc = F.zip_with(
            acc, shifted,
            lambda a, x: a.bitwiseAND(F.lit(_MASK44)) * F.lit(SHINGLE_P) + x)
    return acc


def shingle_hashes_sql(words_expr: str, n: int, hash_sql) -> str:
    """DuckDB twin of :func:`word_shingle_hashes`. ``words_expr`` names
    a VARCHAR[] column; ``hash_sql(expr)`` renders the md5-family
    64-bit hash of a SQL expression."""
    h32 = lambda e: f"({hash_sql(e)} & {_MASK32})"
    combine = h32(f"{words_expr}[i+1]")
    for j in range(1, n):
        combine = (f"(({combine} & {_MASK44}) * {SHINGLE_P} "
                   f"+ {h32(f'{words_expr}[i+{j+1}]')})")
    return (f"list_transform(range(len({words_expr}) - {n - 1}), "
            f"i -> {combine})")


def minhash_coeffs(num_hashes: int, seed: int = 7) -> List[Tuple[int, int]]:
    """Deterministic (a_i, b_i) universal-hash lane coefficients."""
    import random
    rng = random.Random(seed)
    return [(rng.randrange(1, MINHASH_PRIME),
             rng.randrange(0, MINHASH_PRIME)) for _ in range(num_hashes)]


def minhash_signature(col: Column, num_hashes: int = 8,
                      shingle_n: int = 3, family: str = "md5",
                      seed: int = 7) -> Column:
    """Array of ``num_hashes`` minhash values over word shingles.

    Each word is hashed ONCE and shingle hashes are combined
    arithmetically (:func:`word_shingle_hashes` — no shingle strings);
    the k lanes derive from the shingle hash's low 32 bits with
    universal hashing ``(a_i*x + b_i) mod P`` (MLlib MinHashLSH scheme)
    and all k running minima fold in a SINGLE traversal of the shingle
    array (``F.aggregate`` with an array accumulator) — one expensive
    hash per WORD instead of k hashes per SHINGLE × k passes.
    Empty shingle set → NULL signature."""
    coeffs = minhash_coeffs(num_hashes, seed)
    shingles = word_shingle_hashes(col, shingle_n, family)
    xs = F.transform(shingles, lambda s: s.bitwiseAND(F.lit(_MASK32)))
    consts = F.array(*[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                       for a, b in coeffs])
    init = F.array_repeat(F.lit(MINHASH_PRIME).cast("long"), num_hashes)
    sig = F.aggregate(
        xs, init,
        lambda acc, x: F.zip_with(
            acc, consts,
            lambda m, c: F.least(m, (c["a"] * x + c["b"])
                                 % F.lit(MINHASH_PRIME))))
    return F.when(F.size(shingles) > 0, sig)


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 8,
                      bands: int = 4, shingle_n: int = 3,
                      max_bucket: Optional[int] = 1000,
                      family: str = "md5") -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) that share at least
    one LSH band. rows_per_band = num_hashes // bands."""
    assert num_hashes % bands == 0
    df = planning.ensure_min_parallelism(df)  # hashing is CPU-bound
    rpb = num_hashes // bands
    sig = minhash_signature(F.col(text_col), num_hashes, shingle_n, family)
    with_sig = df.select(F.col(id_col).alias("doc"), sig.alias("sig")) \
        .filter(~F.exists("sig", lambda x: x.isNull()))
    banded = with_sig.select(
        "doc",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.concat_ws(",", *[F.element_at("sig", b * rpb + r + 1)
                                        .cast("string") for r in range(rpb)])
                     .alias("key"))
            for b in range(bands)])).alias("bk")
    ).select("doc", "bk.band", "bk.key")
    if max_bucket:
        # capped: one shuffle (group + in-array expansion) instead of
        # [cap groupBy + anti-join + self-join exchanges]
        return (_group_pairs(banded, ["band", "key"], max_bucket)
                .select(F.col("a.doc").alias("id_a"),
                        F.col("b.doc").alias("id_b"))
                .distinct())
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc") < F.col("b.doc")))
            .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
            .distinct())


def _bit_mask(b: int) -> int:
    """Bit-b mask as a SIGNED 64-bit value (bit 63 = long-min), so a
    full 64-bit simhash fits LongType on Spark and BIGINT on DuckDB.
    Fold order (bit 0 first, bit 63 last) keeps every partial sum in
    signed-64 range, so ANSI-mode Spark never overflows."""
    return -(1 << 63) if b == 63 else (1 << b)


def simhash(col: Column, bits: int = 64, family: str = "md5") -> Column:
    """SimHash over whitespace tokens (with multiplicity): bit b is set
    when the sum over tokens of (bit b of hash(token)) * 2 - 1 is > 0.

    Single-pass: ONE ``F.aggregate`` over the token-hash array carrying
    an array of ``bits`` signed counters (zip_with against a bit-mask
    array), then one fold of the counter array back into the integer —
    previously this ran ``bits`` separate traversals per row."""
    tok_hashes = F.transform(words(col), lambda w: hash64(w, family))
    masks = F.array(*[F.lit(_bit_mask(b)).cast("long") for b in range(bits)])
    init = F.array_repeat(F.lit(0).cast("long"), bits)
    counts = F.aggregate(
        tok_hashes, init,
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda s, m: s + F.when(h.bitwiseAND(m) != 0,
                                    F.lit(1)).otherwise(F.lit(-1))))
    bits_set = F.zip_with(
        counts, masks,
        lambda cnt, m: F.when(cnt > 0, m).otherwise(F.lit(0).cast("long")))
    return F.aggregate(bits_set, F.lit(0).cast("long"), lambda a, x: a + x)


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", bits: int = 64,
                      max_hamming: int = 3,
                      max_bucket: Optional[int] = 1000,
                      family: str = "md5") -> DataFrame:
    """Pairs whose simhashes differ in ≤ max_hamming bits. Candidate
    generation: split the simhash into (max_hamming+1) chunks — by
    pigeonhole, any pair within distance shares ≥1 exact chunk — then
    verify with bit_count on the XOR (JVM-side).

    Scale: the key space per chunk is ``2^(bits // (max_hamming+1))``,
    so wide hashes matter — the default (64, 3) gives 16-bit chunk keys
    (65,536 buckets/chunk); narrow settings like (16, 4) give only 8
    buckets/chunk and degenerate toward an N² self-join. ``max_bucket``
    drops (chunk, key) buckets holding more rows than the cap before
    the self-join — identical semantics to :func:`minhash_lsh_pairs`'s
    cap, and the web-scale guard against boilerplate-heavy corpora
    where one key captures a large corpus fraction."""
    df = planning.ensure_min_parallelism(df)  # hashing is CPU-bound
    chunks = max_hamming + 1
    per = bits // chunks
    if per < 8:
        import warnings
        warnings.warn(
            f"simhash_near_dups: bits={bits}, max_hamming={max_hamming} "
            f"gives only {1 << per} buckets/chunk — candidate volume "
            f"~N^2/{1 << per}; raise bits (default 64)")
    sh = df.select(F.col(id_col).alias("doc"),
                   simhash(F.col(text_col), bits, family).alias("sh"))
    def chunk_key(c: int) -> Column:
        # max_hamming=0 → ONE chunk spanning all 64 bits: the key is
        # the hash itself ((1<<64)-1 does not fit a signed long)
        if per >= 64:
            return F.col("sh")
        return F.shiftright(F.col("sh"), c * per) \
            .bitwiseAND(F.lit((1 << per) - 1))

    banded = sh.select(
        "doc", "sh",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"), chunk_key(c).alias("key"))
            for c in range(chunks)])).alias("ck")
    ).select("doc", "sh", "ck.chunk", "ck.key")
    if max_bucket:
        # capped: one shuffle; the hamming verify runs in-array so
        # far-apart pairs never reach the explode
        pairs = (_group_pairs(
                    banded, ["chunk", "key"], max_bucket,
                    pair_filter=lambda x, y:
                        F.bit_count(x["sh"].bitwiseXOR(y["sh"]))
                        <= F.lit(max_hamming))
                 .select(F.col("a.doc").alias("id_a"),
                         F.col("b.doc").alias("id_b"),
                         F.col("a.sh").alias("sh_a"),
                         F.col("b.sh").alias("sh_b"))
                 .distinct())
    else:
        a, b = banded.alias("a"), banded.alias("b")
        pairs = (a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
                        & (F.col("a.key") == F.col("b.key"))
                        & (F.col("a.doc") < F.col("b.doc")))
                 .select(F.col("a.doc").alias("id_a"),
                         F.col("b.doc").alias("id_b"),
                         F.col("a.sh").alias("sh_a"),
                         F.col("b.sh").alias("sh_b"))
                 .distinct())
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.withColumn("hamming", ham) \
        .filter(F.col("hamming") <= max_hamming) \
        .select("id_a", "id_b", "hamming")


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8,
                        max_posting: Optional[int] = 10000,
                        family: str = "md5",
                        prefix_filter="auto",
                        approx_count: Optional[int] = None) -> DataFrame:
    """Every pair of documents whose word n-gram Jaccard similarity is
    at least ``threshold``: columns ``id_a < id_b`` and ``jaccard``.

    EXACT only with ``max_posting=None``: the default cap
    (``max_posting=10000``) drops the prefix postings of shingles
    hotter than the cap (boilerplate), which can miss true pairs whose
    ONLY shared prefix shingles are that hot — the standard web-scale
    recall/robustness trade.

    The index keys are 52-bit shingle HASHES
    (:func:`word_shingle_hashes`), not strings — cheaper to build,
    fixed-width to shuffle; collision probability ~|shingles|²/2^52 is
    negligible vs the estimator's own discretization.

    One plan, the AllPairs/PPJoin prefix formulation (Bayardo et al.
    WWW'07, Xiao et al. WWW'08), still exact:

    * candidate generation joins only each document's PREFIX postings —
      the first ``|X| − ⌈t·|X|⌉ + 1`` shingles in a global canonical
      order (ascending hash); any pair with J ≥ t must collide there;
    * LENGTH, POSITIONAL and shingle-BITMAP bounds run as residuals of
      that join, so a pair they rule out never materializes;
    * the true intersection is verified per surviving candidate with
      ``array_intersect`` over the two (small, sorted) shingle arrays.
      The verify joins carry no broadcast hint: AQE picks broadcast or
      shuffle from the bytes it measures at run time.

    ``prefix_filter`` and ``approx_count`` are accepted and IGNORED;
    they will be removed in the next release.
    """
    t = float(threshold)
    df = planning.ensure_min_parallelism(df)  # shingling is CPU-bound
    arr = F.array_sort(F.array_distinct(
        word_shingle_hashes(F.col(text_col), n, family)))
    # filter on the WORD count (cheap expression), not on size(arr):
    # size(shingles) > 0 <=> #words >= n, and a filter phrased on the
    # shingle array would be pushed below the projection, duplicating
    # the whole shingle-hash expression tree into the generated code —
    # measured ~3 s of driver-side codegen compilation PER invocation.
    # The checkpoint then materializes the bare (doc, arr) pair once;
    # sz and the verify bitmaps are derived from the materialized
    # column afterwards, so every downstream plan stays small.
    docs = (df.filter(F.size(words(F.col(text_col))) >= n)
            .select(F.col(id_col).alias("doc"), arr.alias("arr"))
            # eager: a lazy checkpoint computed by a later job reports
            # SQL metrics of a gone plan ("Failed to update accumulator")
            .localCheckpoint(eager=True)
            .withColumn("sz", F.size("arr")))
    # 256-bit one-probe Bloom bitmap of the shingle set, used by the
    # candidate join as an EXACT symmetric-difference pre-filter:
    # every bit set in A's bitmap but not B's needs >= 1 shingle in
    # A\B (each shingle sets exactly ONE bit slot), so
    # |A(+)B| >= sum_k bit_count(bmA_k ^ bmB_k), and J >= t forces
    # |A(+)B| <= (1-t)/(1+t)*(|A|+|B|). No false negatives; at very
    # large shingle counts the bitmap saturates and the filter
    # passes everything (graceful, still exact).
    bits = F.transform(F.col("arr"),
                       lambda x: F.pmod(x, F.lit(_BM_WORDS * 64))
                       .cast("int"))
    pow2 = F.array(*[F.lit(_bit_mask(i)).cast("long")
                     for i in range(64)])
    docs = docs.withColumn("__bits__", bits)

    def _bm_word(k):
        # closure factory, not a default-arg lambda — PySpark reads
        # the lambda's arity from its signature
        return lambda a, b: a.bitwiseOR(
            F.when((b >= k * 64) & (b < (k + 1) * 64),
                   pow2[b - k * 64])
            .otherwise(F.lit(0).cast("long")))

    for k in range(_BM_WORDS):
        docs = docs.withColumn(f"bm{k}", F.aggregate(
            F.col("__bits__"), F.lit(0).cast("long"), _bm_word(k)))
    docs = docs.drop("__bits__")

    # ---- candidate generation: fully-codegen posting self-join ----
    # pos is KEPT: the PPJoin positional filter (Xiao et al.
    # WWW'08) prunes candidates whose match positions already
    # bound the overlap below the required minimum; the doc
    # bitmaps RIDE the postings so the exact symmetric-difference
    # pre-filter runs as a JOIN RESIDUAL (xor + bit_count,
    # whole-stage codegen) — the round-5 in-array expansion
    # evaluated its pair filters through interpreted higher-order
    # functions, ~4x slower per candidate slot.
    plen = F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
    bm_cols = [f"bm{k}" for k in range(_BM_WORDS)]
    posting = (docs.select("doc", "sz",
                           F.posexplode("arr").alias("pos", "sh"),
                           *bm_cols)
               .filter(F.col("pos") < plen))
    if max_posting:
        # occupancy cap, same semantics as _group_pairs: (prefix)
        # shingles hotter than the cap are dropped entirely. The
        # grouped list is cap-bounded (~48 B/entry), and the
        # re-exploded postings stay hash-partitioned by sh, so the
        # self-join below adds NO further Exchange.
        g = (posting.groupBy("sh")
             .agg(F.collect_list(
                 F.struct("doc", "sz", "pos", *bm_cols)).alias("ps"))
             .filter(F.size("ps").between(2, max_posting)))
        posting = g.select("sh", F.explode("ps").alias("p")) \
            .select("sh", "p.*")
    a, b = posting.alias("a"), posting.alias("b")
    # required overlap alpha = ceil(t/(1+t) * (|A|+|B|)) (minus an
    # epsilon so double rounding can never OVER-prune); at the
    # FIRST shared shingle no earlier elements are shared, so
    # |A.B| <= 1 + min(remaining_A, remaining_B): a pair whose
    # every shared prefix position fails this bound fails it at
    # the first one, hence cannot reach Jaccard t — exact.
    alpha = F.ceil(F.lit(t / (1.0 + t))
                   * (F.col("a.sz") + F.col("b.sz")) - F.lit(1e-9))
    pos_ok = (1 + F.least(F.col("a.sz") - F.col("a.pos") - 1,
                          F.col("b.sz") - F.col("b.pos") - 1)) >= alpha
    length_ok = (F.col("a.sz") >= F.lit(t) * F.col("b.sz")) \
        & (F.col("b.sz") >= F.lit(t) * F.col("a.sz"))
    # exact bitmap pre-filter (see bitmap construction above): a
    # pair can reach J >= t only if its bitmap xor-popcount — a
    # lower bound on |A(+)B| — stays within the threshold-implied
    # maximum. No false negatives; kills ~everything but true
    # near-pairs before any row materializes.
    xor_pop = sum(
        F.bit_count(F.col(f"a.{c}").bitwiseXOR(F.col(f"b.{c}")))
        for c in bm_cols)
    d_max = F.floor(F.lit((1.0 - t) / (1.0 + t))
                    * (F.col("a.sz") + F.col("b.sz")) + F.lit(1e-9))
    cand = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                   & (F.col("a.doc") < F.col("b.doc"))
                   & length_ok & pos_ok & (xor_pop <= d_max))
            .select(F.col("a.doc").alias("id_a"),
                    F.col("b.doc").alias("id_b")))

    # ---- verification on the (tiny) bitmap-surviving set ----
    # the same pair may surface once per shared prefix shingle, so
    # dedup the candidates BEFORE the verify joins
    va = docs.select(F.col("doc").alias("id_a"),
                     F.col("arr").alias("arr_a"),
                     F.col("sz").alias("sz_a"))
    vb = docs.select(F.col("doc").alias("id_b"),
                     F.col("arr").alias("arr_b"),
                     F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    return (cand.distinct().join(va, "id_a").join(vb, "id_b")
            .withColumn("inter", inter)
            .withColumn("jaccard",
                        F.col("inter").cast("double")
                        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
            .filter(F.col("jaccard") >= t)
            .select("id_a", "id_b", "jaccard"))


def _group_pairs(df: DataFrame, keys: List[str], cap: int,
                 id_field: str = "doc", pair_filter=None) -> DataFrame:
    """Same-key candidate pairs WITHOUT a self-join.

    Groups rows by ``keys`` into a (cap-bounded) array and expands the
    C(n,2) combinations inside the array with codegen expressions —
    ONE shuffle, versus the join formulation's cap groupBy + anti-join
    + self-join exchanges. The occupancy cap becomes a plain
    ``size(list) ≤ cap`` filter, so the hot-key pass disappears
    entirely.

    Only sound WITH a cap: the per-group list is bounded at ``cap``
    rows. The expansion is TWO-STEP (posexplode the list, then each
    element expands only against the tail slice) so no single value
    ever holds the full C(n, 2) pair set — per-row memory is bounded
    by the ``cap``-element list itself, and the quadratic pair volume
    streams through the explode exactly like the join formulation's
    output would. Callers with cap=None must keep the join
    formulation (unbounded collect_list).

    Returns columns ``a``, ``b``: structs of the non-key columns,
    canonically ordered ``a[id_field] < b[id_field]``. Rows whose ids
    collide (duplicate ids in one key group) are dropped — the join
    formulation's strict ``a.id < b.id`` predicate excluded them too.
    """
    payload = [c for c in df.columns if c not in keys]
    g = df.groupBy(*keys).agg(
        F.collect_list(F.struct(*payload)).alias("__ds__"))
    g = g.filter(F.size("__ds__").between(2, cap))

    ex1 = g.select(F.col("__ds__"),
                   F.posexplode("__ds__").alias("__i__", "__x__"))
    inner = F.transform(
        F.slice(F.col("__ds__"), F.col("__i__") + F.lit(2),
                F.size("__ds__")),
        lambda y: F.struct(F.col("__x__").alias("x"), y.alias("y")))
    if pair_filter is not None:
        # prune inside the array, BEFORE rows materialize — e.g. the
        # Jaccard length filter kills size-incompatible pairs without
        # ever paying explode+shuffle for them
        inner = F.filter(inner, lambda p: pair_filter(p["x"], p["y"]))
    ex = ex1.select(F.explode(inner).alias("p"))
    lt = F.col("p.x")[id_field] < F.col("p.y")[id_field]
    return (ex
            .where(F.col("p.x")[id_field] != F.col("p.y")[id_field])
            .select(
                F.when(lt, F.col("p.x")).otherwise(F.col("p.y")).alias("a"),
                F.when(lt, F.col("p.y")).otherwise(F.col("p.x")).alias("b")))


def _oriented(e: DataFrame) -> DataFrame:
    """Canonical (larger → smaller) distinct edge set, self-loops gone."""
    return (e.select(F.greatest("u", "v").alias("u"),
                     F.least("u", "v").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct())


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: every strictly-larger neighbor of u re-points at
    min(N(u) ∪ {u})."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))) \
        .where(F.col("u") != F.col("v"))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    return (sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"),
                    F.least(F.col("u"), F.col("mn")).alias("v"))
            .distinct())


def _small_star(e: DataFrame, oriented: bool = False) -> DataFrame:
    """Small-star: u and all its smaller neighbors re-point at the
    smallest of them. ``oriented=True`` skips the canonicalization
    shuffle when the input is already (larger → smaller) and distinct
    — true for every large-star output, saving one full-edge-set
    Exchange per convergence round."""
    o = e if oriented else _oriented(e)
    mins = o.groupBy("u").agg(F.min("v").alias("mn"))
    nbrs = o.join(mins, "u").select(F.col("v").alias("u"),
                                    F.col("mn").alias("v"))
    selfs = mins.select(F.col("u"), F.col("mn").alias("v"))
    return (nbrs.union(selfs)
            .where(F.col("u") != F.col("v"))
            .distinct())


def _parse_jvm_mem(s: str) -> Optional[int]:
    """'12g' / '2gb' / '512m' / '2048' → bytes. A bare number is MiB —
    Spark parses suffix-less memory properties as mebibytes
    (JavaUtils.byteStringAsMb); both 'g' and 'gb' suffix spellings are
    valid Spark syntax."""
    s = s.strip().lower()
    try:
        mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
        if s.endswith("b") and len(s) > 1 and s[-2] in mult:
            s = s[:-1]
        if s and s[-1] in mult:
            return int(float(s[:-1]) * mult[s[-1]])
        return int(s) << 20
    except ValueError:
        return None


def _check_driver_heap(spark, min_gb: int = 4) -> bool:
    """Warn when the driver heap is too small for large component runs.

    Measured (ROUND_NOTES r3): a 2M-edge graph OOMs the default 1g
    driver heap during checkpoint-block cleanup; 12g completes in
    28 s.  In local mode the driver IS the executor, so the whole
    per-round checkpointed edge set lives in its block store.  We warn
    rather than raise — small graphs are fine on 1g — but a production
    run at millions of edges needs ``spark.driver.memory=12g``-class.
    Returns True when a warning was issued (testability hook).
    """
    mem = spark.conf.get("spark.driver.memory", None)
    mem_bytes = _parse_jvm_mem(mem) if mem else 1 << 30  # JVM default 1g
    if mem_bytes is not None and mem_bytes < min_gb * (1 << 30):
        import warnings
        warnings.warn(
            f"connected_components: spark.driver.memory is "
            f"{mem or 'unset (1g default)'} — graphs beyond ~1M edges "
            "need a 12g-class driver heap (2M edges OOMs at 1g; 12g "
            "runs in 28 s). Set spark.driver.memory before building "
            "the session.", ResourceWarning, stacklevel=3)
        return True
    return False


def _sig(edges: DataFrame):
    """Convergence signature: (count, xor of edge hashes). bit_xor,
    not sum — ANSI mode makes a long-sum of hashes an overflow ERROR;
    xor is closed over int64 and the edge set is distinct, so xor is a
    sound set signature."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("u", "v")).alias("h")).collect()[0]
    return (row["n"], row["h"])


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         max_iter: int = 50,
                         checkpoint_dir: Optional[str] = None) -> DataFrame:
    """Connected components of the near-duplicate pair graph.

    Returns ``(id, component)`` for every node that appears in
    ``pairs``, where ``component`` is the MINIMUM node id reachable
    from it — the canonical representative used to pick one survivor
    per duplicate cluster.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public).
    Each round is two groupBy-join passes over the edge set; the edge
    set only shrinks toward a forest of stars, and convergence takes
    O(log² n) rounds — this is the standard shape for trillion-edge
    graphs, unlike label-propagation whose round count is the graph
    DIAMETER (a 1M-doc duplicate chain would need 1M rounds).

    Reference parity note: NVTabular itself has no graph op — this is
    part of the LLM-pipeline extension surface (fuzzy dedup needs
    clusters, not just pairs, to drop all-but-one copy).

    Memory/lineage discipline: each round ``localCheckpoint``s — the
    truncation is LOAD-BEARING, because each round's plan references
    the previous edge set several times (union+reverse, join with its
    own groupBy), so an untruncated logical plan grows EXPONENTIALLY
    and plan canonicalization alone OOMs after ~10 rounds. Old
    checkpoint blocks are released by Spark's ContextCleaner once the
    previous round's DataFrame is dropped (the loop rebinds ``e``
    every round); a JVM GC hint every few rounds expedites that under
    heap pressure so peak block storage stays a few rounds of edges.
    The per-round signature (count + xor of edge hashes) detects
    convergence with one tiny aggregate, no driver-side edge copies.

    Deploy requirement: at millions of edges the (local-mode) driver
    block store holds a few rounds of checkpointed edge sets — use a
    ``spark.driver.memory=12g``-class heap (2M edges OOMs the 1g
    default; 12g completes in 28 s). A ResourceWarning fires when the
    configured heap looks too small. Alternatively pass
    ``checkpoint_dir`` to use reliable disk checkpoints — bounded
    memory at any edge count, at the cost of per-round checkpoint IO;
    stale rounds are pruned as the loop runs (Hadoop FileSystem API,
    so HDFS/S3 dirs work too), disk-checkpointed runs serialize on a
    module lock (setCheckpointDir is context-global), and the FINAL
    round's files persist under ``<checkpoint_dir>/components-*`` —
    they back the returned DataFrame; clean them once it is consumed.
    """
    spark = pairs.sparkSession
    gc_every = 5
    prune = None
    restore_dir = None
    lock = None
    if checkpoint_dir:
        # reliable (disk) checkpoints: per-round edge sets go to files
        # instead of the block store, removing the 12g-heap requirement
        # at the cost of checkpoint IO. setCheckpointDir mutates GLOBAL
        # SparkContext state, so (a) disk-checkpointed runs serialize on
        # a module lock (two interleaved runs would redirect each
        # other's checkpoints and prune each other's live rounds),
        # (b) the previous checkpoint dir is restored on exit, and
        # (c) each call uses its own subdir. Rounds older than the last
        # two are pruned as the loop runs via the HADOOP FileSystem API
        # (correct for bare paths resolving to fs.defaultFS=hdfs:// as
        # well as local dirs) — Spark only auto-deletes checkpoint
        # files when cleanCheckpoints=true was set BEFORE context
        # creation. The FINAL round's files back the returned DataFrame
        # and persist under <checkpoint_dir>/components-*; clean them
        # once the result is consumed.
        import posixpath
        import uuid
        lock = _CKPT_LOCK
        lock.acquire()
        try:
            # everything between acquire() and the outer try/finally must
            # itself be guarded: a failure in setCheckpointDir (unwritable
            # dir) or Hadoop Path/FileSystem resolution would otherwise
            # leak the module lock and deadlock every later run
            subdir = posixpath.join(checkpoint_dir,
                                    f"components-{uuid.uuid4().hex[:12]}")
            jsc = spark.sparkContext._jsc.sc()
            prev = jsc.getCheckpointDir()
            restore_dir = prev.get() if prev.isDefined() else None
            spark.sparkContext.setCheckpointDir(subdir)
            ckpt = lambda d: d.checkpoint()        # noqa: E731
            jvm = spark.sparkContext._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(subdir)
            fs = hpath.getFileSystem(
                spark.sparkContext._jsc.hadoopConfiguration())
        except BaseException:
            if restore_dir is not None:
                try:
                    spark.sparkContext.setCheckpointDir(restore_dir)
                except Exception:
                    pass
            lock.release()
            raise

        def prune():
            # checkpoint() nests files under <subdir>/<uuid>/rdd-N.
            # Order by the monotonically increasing rdd-N id, not mtime:
            # coarse (1s) filesystem timestamps can tie across sub-second
            # CC rounds, making the keep-newest-2 choice arbitrary and
            # able to delete a live round's files.
            rdds = []
            try:
                for st in fs.listStatus(hpath):
                    if not st.isDirectory():
                        continue
                    for st2 in fs.listStatus(st.getPath()):
                        name = st2.getPath().getName()
                        if name.startswith("rdd-"):
                            try:
                                rid = int(name[4:])
                            except ValueError:
                                continue
                            rdds.append((rid, st2.getPath()))
            except Exception:
                return      # listing races are non-fatal; retry next round
            rdds.sort(key=lambda t: t[0])
            for _, stale in rdds[:-2]:
                try:
                    fs.delete(stale, True)
                except Exception:
                    pass
    else:
        _check_driver_heap(spark)
        ckpt = lambda d: d.localCheckpoint()       # noqa: E731
    try:
        return _components_loop(spark, pairs, src, dst, max_iter, ckpt,
                                prune, gc_every,
                                gc_nudge=not checkpoint_dir)
    finally:
        if checkpoint_dir:
            if restore_dir is not None:
                spark.sparkContext.setCheckpointDir(restore_dir)
            lock.release()


_CKPT_LOCK = __import__("threading").Lock()


def _components_loop(spark, pairs, src, dst, max_iter, ckpt, prune,
                     gc_every, gc_nudge):
    e = ckpt(_oriented(pairs.select(F.col(src).alias("u"),
                                    F.col(dst).alias("v"))))
    sig = _sig(e)
    for i in range(max_iter):
        # large-star output is already oriented+distinct → small-star
        # skips its canonicalization shuffle
        e2 = ckpt(_small_star(_large_star(e), oriented=True))
        sig2 = _sig(e2)
        e = e2   # previous round's DataFrame dropped → cleaner-eligible
        if prune is not None:
            prune()
        if (i + 1) % gc_every == 0 and gc_nudge:
            # nudge the ContextCleaner to actually release dropped
            # checkpoint blocks before heap pressure builds
            spark.sparkContext._jvm.System.gc()
        if sig2 == sig:
            break
        sig = sig2
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large-star/small-star rounds")
    # converged: e is a star forest (node → component min); roots map
    # to themselves
    labels = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = labels.select(F.col("component").alias("id"),
                          F.col("component")).distinct()
    return labels.union(roots).distinct()


def drop_near_duplicates(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         src: str = "id_a", dst: str = "id_b",
                         checkpoint_dir: Optional[str] = None,
                         keep_by: Optional[str] = None) -> DataFrame:
    """Keep ONE document per near-duplicate cluster, given candidate
    pairs from any of the pair generators above.

    Representative policy: by default the MINIMUM id survives (cheap,
    deterministic). Pass ``keep_by="quality_score"`` (any numeric
    column of ``df``) to keep the cluster member with the HIGHEST
    value instead — the keep-best-document policy real curation
    pipelines use; ties break toward the smaller id so the result
    stays deterministic.

    Implementation: connected components over the pair graph, then an
    anti-join dropping every non-representative. The anti-join ships
    only ``(id)`` rows — and for ``keep_by``, ``(id, score)`` rows —
    the wide document payload never shuffles.
    """
    comp = connected_components(pairs, src, dst,
                                checkpoint_dir=checkpoint_dir)
    if keep_by is None:
        losers = comp.where(F.col("id") != F.col("component")) \
            .select(F.col("id").alias(id_col))
        return df.join(losers, id_col, "left_anti")
    scored = comp.join(
        df.select(F.col(id_col).alias("id"), F.col(keep_by).alias("__s")),
        "id")
    w = Window.partitionBy("component").orderBy(
        F.col("__s").desc_nulls_last(), F.col("id").asc())
    losers = (scored.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") > 1)
              .select(F.col("id").alias(id_col)))
    return df.join(losers, id_col, "left_anti")


def duplicate_spans(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 8,
                    family: str = "md5",
                    cache_postings: bool = False) -> DataFrame:
    """Word-index spans ``[span_start, span_end)`` of length ≥ ``k``
    whose content appears in MORE THAN ONE document — the
    substring-level exact-dedup signal of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"
    (public), as used by NeMo-Curator-class pipelines.

    Method: every position's ``k``-gram rolling hash
    (:func:`word_shingle_hashes` — one flatMap, no strings
    materialized) becomes a posting ``(doc, pos, h)``; hashes seen in
    ≥ 2 distinct docs mark their occurrences as duplicated
    ``[pos, pos+k)`` windows, which are then merged into maximal
    per-doc spans (gaps-and-islands over a doc-keyed window).

    Scale shape: ONE groupBy on the hash (map-side partial agg), one
    linear semi-join back onto the postings (each occurrence appears
    once — NO quadratic candidate join anywhere), one doc-keyed window
    for the merge. Safe at any corpus size without occupancy caps —
    unlike pair generation, a hot boilerplate hash here contributes
    only its own occurrences, not a cross product.

    The posting relation feeds BOTH the duplicate-hash groupBy and the
    join probe side; by default Catalyst plans two scans, i.e. the
    text is hashed twice — the deliberate 100 TB default, because
    persisting a corpus-sized posting table is worse than one extra
    map pass. ``cache_postings=True`` checkpoints the postings instead
    (hash once) — the right call for corpora that fit executor
    storage.
    """
    from pyspark.sql import Window

    df = planning.ensure_min_parallelism(df)  # shingling is CPU-bound
    hashes = word_shingle_hashes(F.col(text_col), k, family)
    posting = df.select(F.col(id_col).alias("doc"),
                        F.posexplode(hashes).alias("pos", "h"))
    if cache_postings:
        posting = posting.localCheckpoint(eager=False)
    dup = (posting.groupBy("h")
           .agg(F.count_distinct("doc").alias("nd"))
           .filter(F.col("nd") >= 2).select("h"))
    occ = posting.join(dup, "h").select(
        "doc", "pos", (F.col("pos") + F.lit(k)).alias("e"))
    w = Window.partitionBy("doc").orderBy("pos")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    occ = occ.withColumn(
        "ni", F.when(prev_end.isNull() | (F.col("pos") > prev_end),
                     F.lit(1)).otherwise(F.lit(0)))
    occ = occ.withColumn(
        "island",
        F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (occ.groupBy("doc", "island")
            .agg(F.min("pos").cast("long").alias("span_start"),
                 F.max("e").cast("long").alias("span_end"))
            .select(F.col("doc").alias(id_col), "span_start", "span_end"))


def duplicate_span_stats(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 8,
                         family: str = "md5",
                         cache_postings: bool = False,
                         spans: Optional[DataFrame] = None) -> DataFrame:
    """Per-document duplicated-span mass: how much of each doc is
    covered by cross-document duplicate spans (≥ ``k`` words). The
    standard quality filter drops docs whose ``dup_word_frac`` exceeds
    a threshold. Docs never touched by a duplicate span report zeros.

    ``spans``: pass a precomputed :func:`duplicate_spans` result to
    avoid re-running the shingle/posting/window pipeline when the
    caller needs both the spans and the stats.
    """
    df = planning.ensure_min_parallelism(df)  # word-split is CPU-bound
    if spans is None:
        spans = duplicate_spans(df, text_col, id_col, k, family,
                                cache_postings)
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_words"))
    base = df.select(F.col(id_col),
                     F.size(words(F.col(text_col))).cast("long")
                     .alias("n_words"))
    out = base.join(per_doc, id_col, "left")
    n_spans = F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long")
    dw = F.coalesce(F.col("dup_words"), F.lit(0)).cast("long")
    return out.select(
        id_col, "n_words",
        n_spans.alias("n_dup_spans"),
        dw.alias("dup_words"),
        F.when(F.col("n_words") > 0,
               dw.cast("double") / F.col("n_words"))
        .alias("dup_word_frac"))


def duplicate_line_counts(df: DataFrame, text_col: str = "text",
                          min_chars: int = 5, normalized: bool = True,
                          family: str = "md5") -> DataFrame:
    """Corpus-wide occurrence counts of dedup-eligible lines:
    ``(line_key, n_occurrences)``.

    A line is eligible iff its trimmed length ≥ ``min_chars`` (short
    lines — blanks, list bullets, separators — are structural, not
    boilerplate; counting them would strip paragraph breaks from every
    document). ``normalized`` keys on ``lower(trim(line))`` so
    casing/indentation variants of the same boilerplate collapse.

    Scale shape: one flatMap (split+explode, no shuffle) + ONE
    map-side-partial groupBy on the 64-bit line hash — strings never
    shuffle, only (hash, count) pairs.
    """
    line = F.explode(F.split(F.col(text_col), "\n")).alias("__line__")
    lines = df.select(line)
    key_src = (F.lower(F.trim(F.col("__line__"))) if normalized
               else F.col("__line__"))
    return (lines
            .filter(F.length(F.trim(F.col("__line__"))) >= min_chars)
            .select(hash64(key_src, family).alias("line_key"))
            .groupBy("line_key")
            .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences")))


def drop_duplicate_lines(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", min_count: int = 2,
                         min_chars: int = 5, normalized: bool = True,
                         family: str = "md5",
                         counts: Optional[DataFrame] = None,
                         broadcast: Optional[bool] = None) -> DataFrame:
    """RefinedWeb-style line-level deduplication (Penedo et al. 2023
    §3.2; also the Falcon / MassiveText curation recipes): remove from
    every document ALL copies of any eligible line that occurs
    ``min_count``-or-more times across the corpus — navigation bars,
    cookie banners, boilerplate headers repeated on thousands of pages.

    Returns the input columns plus::

        text_clean         text minus removed lines ('\\n'-rejoined,
                           original order; null text passes through)
        n_lines            total lines in the document
        n_lines_removed    lines dropped as corpus-duplicates
        removed_char_frac  removed chars / total chars (0.0 when empty)

    Lines shorter than ``min_chars`` after trimming are always kept
    (see :func:`duplicate_line_counts`). ``counts``: pass a
    precomputed counts table to reuse it across calls. ``broadcast``:
    ``True`` hints the dup-line table into the membership join,
    ``False`` forbids it, ``None`` (default) lets AQE decide at
    runtime — the dup set is corpus-derived, so unlike a benchmark
    table it is not presumed small.

    Scale shape: the counts pass (one shuffle, hashes only), a
    membership left-join of exploded lines against the ≥min_count
    keys, one groupBy(``id_col``) to reassemble (array_sort on the
    line position — no collect_list ordering assumption), and one
    join back to the input row. No Python touches row data.
    """
    if counts is None:
        counts = duplicate_line_counts(df, text_col, min_chars,
                                       normalized, family)
    dups = counts.filter(F.col("n_occurrences") >= min_count) \
                 .select("line_key")
    if broadcast:
        dups = F.broadcast(dups)

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("__pos__", "__line__"))
    key_src = (F.lower(F.trim(F.col("__line__"))) if normalized
               else F.col("__line__"))
    eligible = F.length(F.trim(F.col("__line__"))) >= min_chars
    keyed = lines.select(
        id_col, "__pos__", "__line__",
        F.when(eligible, hash64(key_src, family)).alias("line_key"))
    marked = (keyed.join(dups.withColumn("__dup__", F.lit(True)),
                         "line_key", "left")
              .withColumn("__dup__",
                          F.coalesce(F.col("__dup__"), F.lit(False))))

    ordered = F.array_sort(F.collect_list(
        F.struct(F.col("__pos__").alias("pos"),
                 F.col("__line__").alias("line"),
                 F.col("__dup__").alias("dup"))))
    kept = F.filter(ordered, lambda x: ~x["dup"])
    per_doc = marked.groupBy(id_col).agg(
        F.array_join(F.transform(kept, lambda x: x["line"]), "\n")
        .alias("text_clean"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("__dup__").cast("long")).cast("long")
        .alias("n_lines_removed"),
        F.sum(F.when(F.col("__dup__"), F.length(F.col("__line__")))
              .otherwise(F.lit(0))).cast("long").alias("__rm_chars__"))

    out = df.join(per_doc, id_col, "left")
    total_chars = F.coalesce(F.length(F.col(text_col)), F.lit(0))
    return out.select(
        *df.columns,
        # null text never explodes → per_doc misses the row
        F.when(F.col(text_col).isNull(), F.lit(None))
        .otherwise(F.coalesce(F.col("text_clean"), F.lit("")))
        .alias("text_clean"),
        F.coalesce(F.col("n_lines"), F.lit(0)).cast("long")
        .alias("n_lines"),
        F.coalesce(F.col("n_lines_removed"), F.lit(0)).cast("long")
        .alias("n_lines_removed"),
        F.when(total_chars > 0,
               F.coalesce(F.col("__rm_chars__"), F.lit(0))
               .cast("double") / total_chars)
        .otherwise(F.lit(0.0)).alias("removed_char_frac"))


def exact_keys(df: DataFrame, text_col: str = "text",
               normalized: bool = True) -> DataFrame:
    """Distinct exact-dedup fingerprints of a corpus — the compact
    ingest ledger (one 32-hex key per distinct document, ~16 bytes of
    entropy) to persist between ingestion runs so the next increment
    never re-reads the corpus text. Same key family as
    :func:`exact_duplicates` with the same ``normalized`` switch."""
    key = fingerprint(F.col(text_col)) if normalized \
        else F.md5(F.col(text_col))
    return df.select(key.alias("dup_key")).distinct()


def novel_documents(increment: DataFrame, seen: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    normalized: bool = True, dedup_within: bool = True,
                    seen_is_keys: bool = False) -> DataFrame:
    """Incremental ingestion dedup: the rows of ``increment`` whose
    text was NOT already ingested — "dedupe today's crawl against the
    corpus" — plus, with ``dedup_within`` (default), one canonical
    (min-``id_col``) row per duplicate group *inside* the increment,
    so the survivors are ingestible as-is.

    ``seen`` is either the prior corpus (fingerprinted here with the
    same ``normalized`` rule) or, with ``seen_is_keys=True``, a
    persisted :func:`exact_keys` ledger — the steady-state shape: the
    ledger is O(distinct docs) × 16 bytes, so a 100 TB corpus ledgers
    into ~1.6 TB of keys that each nightly increment anti-joins
    against WITHOUT touching corpus text.

    Scale shape: one LEFT ANTI hash join on the key (only fingerprints
    shuffle, never text) + the within-increment groupBy. Catalyst's
    runtime bloom-filter join pruning
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) prunes the
    ledger scan down to the increment's key space before the shuffle
    when the increment is far smaller than the ledger — the bloom
    path without hand-building a filter. Returns ``increment``'s
    columns unchanged.
    """
    key = fingerprint(F.col(text_col)) if normalized \
        else F.md5(F.col(text_col))
    cols = increment.columns
    keyed = increment.withColumn("__dk__", key)
    ledger = seen if seen_is_keys \
        else exact_keys(seen, text_col, normalized)
    fresh = keyed.join(ledger.withColumnRenamed("dup_key", "__dk__"),
                       "__dk__", "left_anti")
    if dedup_within:
        # NULL-text rows have a NULL fingerprint: they are not
        # duplicates of each other (and an equi-join on the NULL key
        # would silently drop them) — pass them through and dedup only
        # the keyed rows
        nulls = fresh.filter(F.col("__dk__").isNull())
        keyed_rows = fresh.filter(F.col("__dk__").isNotNull())
        canon = keyed_rows.groupBy("__dk__").agg(
            F.min(id_col).alias("__cid__"))
        fresh = (keyed_rows.join(canon, "__dk__")
                 .filter(F.col(id_col) == F.col("__cid__"))
                 .select(*keyed_rows.columns)
                 .unionByName(nulls.select(*keyed_rows.columns)))
    return fresh.select(*cols)
