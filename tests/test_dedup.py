"""Dedup operators: exact, MinHash-LSH (recall vs exact Jaccard), SimHash,
embedding near-dup (LSH recall vs brute force)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as hst
from pyspark.sql import functions as F

from lyssandra_spark.operators import dedup as DD


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # plant near-dups: copy of every 5th doc with a small suffix tweak,
    # and an exact copy of every 7th
    near = (
        d.where(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 10000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail tweak")))
    )
    exact = d.where(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 20000
    )
    return d.unionByName(near).unionByName(exact).cache()


def test_exact_dedup(spark, docs):
    base = docs.where(F.col("doc_id") < 10000).count()
    near = docs.where((F.col("doc_id") >= 10000) & (F.col("doc_id") < 20000)).count()
    exact_copies = docs.where(F.col("doc_id") >= 20000).count()
    out = DD.exact_dedup(docs).cache()
    # one survivor per distinct text: base + near (tweaked) rows survive,
    # exact copies collapse onto their lowest-doc_id original
    assert out.count() == base + near
    assert out.where(F.col("doc_id") >= 20000).count() == 0  # copies lose
    assert out.where(F.col("n_copies") > 1).count() == exact_copies
    out.unpersist()


def test_shingle_set_pretokenized_linear(spark):
    """shingle_set takes a pre-projected TOKENS column (char_ngrams
    contract): Spark does not CSE inside higher-order lambdas, so the old
    embedded-tokenization form re-split the text once per shingle
    position — measured O(len^2), 21 s for one 20 KB doc. The
    pre-projected form must stay linear-ish (well under seconds here)."""
    import time

    from lyssandra_spark.functions.textstats import word_tokens

    small = spark.createDataFrame([(0, "a b c a b c")], "doc_id long, text string")
    sh = (
        small.select(word_tokens("text").alias("toks"))
        .select(DD.shingle_set("toks", 2).alias("sh"))
        .collect()[0]["sh"]
    )
    assert sorted(sh) == ["a b", "b c", "c a"]

    big_text = " ".join(f"t{i}" for i in range(10_000))  # ~59 KB
    big = spark.createDataFrame([(1, big_text)], "doc_id long, text string")
    t0 = time.monotonic()
    k = (
        big.select(word_tokens("text").alias("toks"))
        .select(F.size(DD.shingle_set("toks", 3)).alias("k"))
        .collect()[0]["k"]
    )
    wall = time.monotonic() - t0
    assert k == 10_000 - 2  # all distinct
    assert wall < 20, f"shingle_set took {wall:.1f}s on a 59 KB doc"


def test_minhash_estimates_jaccard(spark, docs):
    pairs = DD.minhash_lsh_pairs(
        docs, n_perm=64, bands=16, threshold=0.3, ngram_bytes=8
    ).toPandas()
    # exact copies must be found with est ~1
    exact_pairs = pairs[pairs.id_b == pairs.id_a + 20000]
    n_exact = docs.where(F.col("doc_id") >= 20000).count()
    assert len(exact_pairs) >= 0.95 * n_exact
    assert (exact_pairs.est_jaccard > 0.98).all()
    # near-dups (suffix tweak) should mostly surface with high est
    near_pairs = pairs[pairs.id_b == pairs.id_a + 10000]
    n_near = docs.where(
        (F.col("doc_id") >= 10000) & (F.col("doc_id") < 20000)
    ).count()
    assert len(near_pairs) >= 0.7 * n_near
    assert near_pairs.est_jaccard.mean() > 0.5


def test_minhash_signature_deterministic(spark, docs):
    s1 = DD.minhash_signatures(docs.limit(50)).toPandas()
    s2 = DD.minhash_signatures(docs.limit(50).repartition(7)).toPandas()
    m1 = {r.doc_id: list(r.sig) for r in s1.itertuples()}
    m2 = {r.doc_id: list(r.sig) for r in s2.itertuples()}
    assert m1 == m2


def test_sig_block_mersenne_fold():
    """The r10 _sig_block (shift-fold Mersenne reduction + per-doc
    minimum.reduceat) must reproduce the reference
    (a*h + b) % M / np.minimum.at form BIT-exactly, including empty and
    too-short docs (zero windows keep the uint64-max sentinel) and
    values that land exactly on multiples of M after the fold."""
    import numpy as np

    from lyssandra_spark.operators.dedup import _MERSENNE, _minhash_params
    from lyssandra_spark.functions.embed import rolling_hashes

    texts = [b"", b"the quick brown fox jumps", b"x", b"dup text dup text",
             b"dup text dup text", b"another doc with more words here", b""]
    off = np.zeros(len(texts) + 1, np.int64)
    np.cumsum([len(t) for t in texts], out=off[1:])
    buf = (np.frombuffer(b"".join(texts), np.uint8), off)

    def reference(texts_buf, n_perm, ngram_bytes, seed):
        data, offsets = texts_buf
        n = len(offsets) - 1
        a, b = _minhash_params(n_perm, seed)
        out = np.full((n, n_perm), np.iinfo(np.uint64).max, dtype=np.uint64)
        data = np.asarray(data, dtype=np.uint8)[offsets[0]:offsets[-1]]
        offsets = np.asarray(offsets, dtype=np.int64) - offsets[0]
        if len(data) < ngram_bytes:
            return out
        low = data.copy()
        mask = (low >= 65) & (low <= 90)
        low[mask] += 32
        h = rolling_hashes(low, ngram_bytes).astype(np.uint64)
        nwin = len(h)
        byte_tid = np.repeat(np.arange(n, dtype=np.int64), np.diff(offsets))
        tid = byte_tid[:nwin]
        valid = tid == byte_tid[ngram_bytes - 1: ngram_bytes - 1 + nwin]
        h = h[valid]
        tid = tid[valid]
        if len(h) == 0:
            return out
        for i in range(n_perm):
            hv = (a[i] * h + b[i]) % _MERSENNE
            np.minimum.at(out[:, i], tid, hv)
        return out

    for n_perm, ngram, seed in ((64, 8, 7), (16, 4, 3)):
        ref = reference(buf, n_perm, ngram, seed)
        got = DD._sig_block(buf, n_perm, ngram, seed)
        assert np.array_equal(ref, got)
    # synthetic fold edge: x & M == M (fold yields exactly M -> must
    # reduce to 0, like %). Build such an h via the inverse affine map is
    # overkill — instead check the fold identity over a dense range
    # around multiples of M.
    M = np.uint64(_MERSENNE)
    xs = (np.arange(-3, 4, dtype=np.int64)
          + np.int64(_MERSENNE)).astype(np.uint64)
    xs = np.concatenate([xs, xs + M, np.array([0, 1], np.uint64)])
    f = xs >> np.uint64(61)
    y = (xs & M) + f
    y[y >= M] -= M
    assert np.array_equal(y, xs % M)


def test_simhash_properties(spark, docs):
    sh = DD.simhash(docs).toPandas().set_index("doc_id")["simhash"]
    # exact copies -> identical simhash
    for base in [d for d in sh.index if d >= 20000]:
        assert sh[base] == sh[base - 20000]
    # near-dups -> small hamming distance, random pairs -> large
    def ham(a, b):
        return bin((int(a) & 0xFFFFFFFFFFFFFFFF) ^ (int(b) & 0xFFFFFFFFFFFFFFFF)).count("1")

    near = [ham(sh[d], sh[d - 10000]) for d in sh.index if 10000 <= d < 20000]
    base_ids = sorted(d for d in sh.index if d < 10000)
    rand = [ham(sh[a], sh[b]) for a, b in zip(base_ids[:40], base_ids[40:80])]
    assert np.mean(near) < 8
    assert np.mean(rand) > 20


def _simhash_add_at(texts, ngram_bytes=4):
    """The original SimHash formula, kept as the oracle: a (windows x 64)
    +-1 matrix scattered per doc with np.add.at, then sign > 0."""
    from lyssandra_spark.functions.embed import rolling_hashes

    enc = [("" if t is None else t).encode() for t in texts]
    data = np.frombuffer(b"".join(enc), np.uint8)
    offsets = np.concatenate(([0], np.cumsum([len(e) for e in enc]))).astype(np.int64)
    n = len(enc)
    acc = np.zeros((n, 64), dtype=np.int64)
    if len(data) >= ngram_bytes:
        low = data.copy()
        mask = (low >= 65) & (low <= 90)
        low[mask] += 32
        h32 = rolling_hashes(low, ngram_bytes)
        h64 = (h32.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) ^ (
            h32.astype(np.uint64) << np.uint64(32)
        )
        nwin = len(h64)
        byte_tid = np.repeat(np.arange(n, dtype=np.int64), np.diff(offsets))
        tid = byte_tid[:nwin]
        valid = tid == byte_tid[ngram_bytes - 1 : ngram_bytes - 1 + nwin]
        bits = (
            (h64[valid][:, None] >> np.arange(64, dtype=np.uint64)[None, :])
            & np.uint64(1)
        ).astype(np.int64) * 2 - 1
        np.add.at(acc, tid[valid], bits)
    sh = (acc > 0).astype(np.uint64)
    val = np.zeros(n, dtype=np.uint64)
    for bit in range(64):
        val |= sh[:, bit] << np.uint64(bit)
    return val.view(np.int64)


def test_simhash_segment_sums_match_add_at_oracle(spark):
    """The per-bit segment-sum kernel is bit-identical to the +-1 matrix
    formula it replaced, on empty, shorter-than-ngram, null, non-ASCII and
    mixed-case texts, directly and through Spark at two Arrow batch sizes
    (a batch holding the null takes the python-strings path, the others
    the zero-copy one)."""
    import pyarrow as pa

    rng = np.random.default_rng(5)
    texts = [
        "", "abc", None, "héllo wörld ✓ naïve café", "ABCD", "x" * 4,
        "Ünïcödé — 日本語のテキスト", " ", None, "ab\ncd",
    ] + [
        "".join(chr(c) for c in rng.integers(32, 127, rng.integers(0, 300)))
        for _ in range(40)
    ]
    want = _simhash_add_at(texts)
    arr = pa.array(texts, pa.string())
    got = DD._simhash_block(DD._text_buffer(arr), 4).view(np.int64)
    assert np.array_equal(got, want)
    # a sliced array (non-zero Arrow offset) of null-free texts
    tail = arr.slice(11)
    got = DD._simhash_block(DD._text_buffer(tail), 4).view(np.int64)
    assert np.array_equal(got, want[11:])

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    try:
        for batch in ("3", "8192"):
            spark.conf.set(key, batch)
            out = DD.simhash(df).toPandas().sort_values("doc_id")
            assert out.doc_id.tolist() == list(range(len(texts)))
            assert np.array_equal(out.simhash.to_numpy(np.int64), want), batch
    finally:
        spark.conf.set(key, prev)


def _neardup_corpus(seed=1, n=600):
    """600 docs shaped like a curation corpus: 30% links of 6-doc
    near-duplicate chains (each link rewrites 6% of the previous link's
    Zipf-drawn words), 10% exact copies, the rest unique; ids permuted."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(sorted({
        "".join(rng.choice(letters, rng.integers(2, 10))) for _ in range(3000)
    }), dtype=object)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()

    def words(k):
        return list(vocab[rng.choice(len(vocab), k, p=p)])

    texts = []
    for _ in range(int(n * 0.3) // 6):
        w = words(int(rng.integers(60, 160)))
        for _ in range(6):
            texts.append(" ".join(w))
            w = list(w)
            for i in rng.choice(len(w), max(1, int(0.06 * len(w))), replace=False):
                w[i] = words(1)[0]
    n_copy = int(n * 0.1)
    while len(texts) < n - n_copy:
        texts.append(" ".join(words(int(rng.integers(60, 160)))))
    texts += [texts[i] for i in rng.integers(0, len(texts), n_copy)]
    ids = rng.permutation(n).astype(np.int64) + 1
    return pd.DataFrame({"doc_id": ids, "text": texts})


@pytest.fixture(scope="module")
def lsh_corpus():
    """The corpus and its banded-LSH pair set by brute force: a pair
    qualifies iff some band's 4 minhashes agree in full and at least half
    of all 32 agree (band equality stands in for the xxhash64 bucket)."""
    pdf = _neardup_corpus()
    texts = pdf.text.tolist()
    enc = [t.encode() for t in texts]
    off = np.concatenate(([0], np.cumsum([len(e) for e in enc]))).astype(np.int64)
    sig = DD._sig_block((np.frombuffer(b"".join(enc), np.uint8), off), 32, 8, 7)
    eq = sig[:, None, :] == sig[None, :, :]
    banded = eq.reshape(len(sig), len(sig), 8, 4).all(axis=3).any(axis=2)
    hit = banded & (eq.mean(axis=2) >= 0.5)
    ids = pdf.doc_id.to_numpy()
    pairs = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j in zip(*np.nonzero(np.triu(hit, 1)))
    }
    return pdf, pairs


@pytest.mark.parametrize(
    "n_parts, cached, reads",
    [(1, False, 1), (3, False, 1), (8, False, 1), (3, True, 4)],
    ids=["1", "3", "8", "3-cached"],
)
def test_minhash_lsh_pairs_one_signature_pass_per_doc(
    spark, lsh_corpus, n_parts, cached, reads
):
    """The band self-join and both verification joins read ONE shuffle of
    the signatures, so an upstream Python pass sees each document once per
    collect (Spark reuses exchanges, never a Python subplan: without the
    shared exchange every read re-ran the signature pass and its input,
    1,800 reads of 600 docs). Over a cache()d input there is no reuse:
    AQE gives each read of an in-memory relation its own cache query
    stage, and exchanges over different stages never compare equal, so
    the pass runs once per read, 4 per doc (both sides of the band
    self-join and both verification joins), as without the shared
    exchange; pinned exactly so that a change either way shows. The pair
    set is unchanged."""
    pdf, want = lsh_corpus
    seen = spark.sparkContext.accumulator(0)

    def counted(it):
        for b in it:
            seen.add(b.num_rows)
            yield b

    docs = spark.createDataFrame(pdf).repartition(n_parts)
    if cached:
        docs = docs.cache()
    try:
        assert docs.rdd.getNumPartitions() == n_parts
        src = docs.mapInArrow(counted, docs.schema)
        rows = DD.minhash_lsh_pairs(src).collect()
        assert seen.value == reads * len(pdf)
        got = {(r.id_a, r.id_b) for r in rows}
        assert len(rows) == len(got) == 518
        assert got == want
        assert all(r.est_jaccard >= 0.5 for r in rows)
        # the exchange is by column with no count, so AQE coalesces it and
        # a small corpus's pairs reach connected_components in one
        # partition (its zero-round case); a fixed count would hand on
        # that many
        assert DD.minhash_lsh_pairs(src).rdd.getNumPartitions() == 1
    finally:
        docs.unpersist()


def test_embedding_neardup_recall(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    near = (
        e.where(F.col("vec_id") % 4 == 0)
        .withColumn("vec_id", F.col("vec_id") + 50000)
        .withColumn(
            "embedding",
            F.transform(F.col("embedding"), lambda x: x * F.lit(1.001)),
        )
    )
    df = e.unionByName(near)
    got = DD.embedding_neardup_pairs(
        df, n_planes=12, min_cosine=0.99
    ).toPandas()
    planted = {(v, v + 50000) for v in range(0, e.count(), 4) if v % 4 == 0}
    found = {(a, b) for a, b in zip(got.id_a, got.id_b)}
    recall = len(planted & found) / len(planted)
    assert recall > 0.6  # single plane-set LSH recall; stacking raises it
    # verified cosine must be exact (scaled copy -> cosine ~ 1)
    hits = got[[(a, b) in planted for a, b in zip(got.id_a, got.id_b)]]
    assert (hits.cosine > 0.999999).all()


def test_simhash_neardup_pairs_pigeonhole(spark, docs):
    """Pigeonhole-banded SimHash pairs == brute-force Hamming filter
    (the banding is exact for distance <= max_hamming by construction)."""
    import itertools

    from lyssandra_spark.operators.dedup import simhash, simhash_neardup_pairs

    d = docs.select("doc_id", "text")
    # brute force oracle over the same simhashes
    hashes = {r["doc_id"]: r["simhash"] for r in simhash(d).collect()}
    expect = set()
    for (ia, ha), (ib, hb) in itertools.combinations(sorted(hashes.items()), 2):
        if bin((ha ^ hb) & ((1 << 64) - 1)).count("1") <= 3:
            expect.add((ia, ib))
    got = simhash_neardup_pairs(d, max_hamming=3).collect()
    got_pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert got_pairs == expect
    for r in got:
        assert r["hamming"] <= 3


def test_embedding_neardup_multitable_recall_perturbed(spark, sf_dir):
    """Multi-table stacking must catch GENUINE near-dups (perturbed, not
    scaled copies): cosine ~0.96 pairs at n_planes=12 land in one table's
    bucket only ~32% of the time; 8 independent tables lift recall to
    ~0.96 (all seeds fixed -> deterministic)."""
    import numpy as np

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pdf = e.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    rng = np.random.default_rng(42)
    target = 0.96
    rows = []
    planted = set()
    for i in range(0, len(ids), 4):  # every 4th vector gets a perturbed twin
        v = X[i] / np.linalg.norm(X[i])
        u = rng.standard_normal(len(v))
        u -= (u @ v) * v
        u /= np.linalg.norm(u)
        w = target * v + np.sqrt(1 - target**2) * u
        rows.append((int(ids[i]) + 50000, [float(x) for x in w]))
        planted.add((int(ids[i]), int(ids[i]) + 50000))
    near = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df = e.select("vec_id", F.col("embedding").cast("array<double>")
                  .alias("embedding")).unionByName(near)

    got1 = DD.embedding_neardup_pairs(
        df, n_planes=12, min_cosine=0.95, n_tables=1
    ).toPandas()
    got8 = DD.embedding_neardup_pairs(
        df, n_planes=12, min_cosine=0.95, n_tables=8
    ).toPandas()
    found1 = {(a, b) for a, b in zip(got1.id_a, got1.id_b)} & planted
    found8 = {(a, b) for a, b in zip(got8.id_a, got8.id_b)} & planted
    r1 = len(found1) / len(planted)
    r8 = len(found8) / len(planted)
    assert r8 >= 0.9, f"multi-table recall {r8:.2f}"
    assert r8 > r1, f"stacking must beat one table ({r8:.2f} vs {r1:.2f})"
    # verified cosines are exact: every reported planted pair ~= target
    hits = got8[[(a, b) in planted for a, b in zip(got8.id_a, got8.id_b)]]
    assert np.allclose(hits.cosine, target, atol=1e-6)


def test_max_bucket_caps_quadratic_blowup(spark, sf_dir):
    """200 identical boilerplate docs share every band bucket: uncapped,
    candidate generation emits 200*199/2 = 19,900 pairs from the
    boilerplate alone; max_bucket skips those buckets while genuinely
    near-dup pairs in small buckets survive."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text").limit(40)
    boiler = (
        spark.range(200)
        .select(
            (F.col("id") + 900000).alias("doc_id"),
            F.lit("the same legal boilerplate text repeated everywhere in "
                  "the corpus for every single document again and again"
                  ).alias("text"),
        )
    )
    near = (
        d.where(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 500000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail tweak")))
    )
    full = d.unionByName(near).unionByName(boiler)

    uncapped = DD.minhash_lsh_pairs(full, n_perm=32, bands=8, threshold=0.4)
    capped = DD.minhash_lsh_pairs(full, n_perm=32, bands=8, threshold=0.4,
                                  max_bucket=50)
    n_unc, n_cap = uncapped.count(), capped.count()
    assert n_unc >= 19900          # the blowup is real
    assert n_cap < n_unc - 19000   # and the cap removes it
    # the small-bucket near-dup pairs survive the cap
    planted = {(int(r["doc_id"]), int(r["doc_id"]) + 500000)
               for r in d.where(F.col("doc_id") % 5 == 0).collect()}
    got = {(a, b) for a, b in ((r["id_a"], r["id_b"])
                               for r in capped.collect())}
    assert len(planted & got) / len(planted) >= 0.8

    import pytest as _pt
    with _pt.raises(ValueError, match="max_bucket"):
        DD.minhash_lsh_pairs(full, max_bucket=1)


def test_incremental_dedup_matches_full_recompute(spark, docs, tmp_path_factory):
    """Three sequential dedup_new_batch calls over doc_id-sharded slices:
    the UNION of each batch's pairs equals one full-corpus
    minhash_lsh_pairs run (same params), no pair is emitted twice, and
    the signature index time-travels through the catalog (snapshot k
    holds exactly shards 1..k; read_snapshot returns only the delta)."""
    from lyssandra_spark.operators.incremental import dedup_new_batch
    from lyssandra_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path_factory.mktemp("inc_wh")))
    kw = dict(n_perm=64, bands=16, threshold=0.3, ngram_bytes=8)
    shards = [docs.where(F.col("doc_id") % 3 == r) for r in range(3)]
    got, snaps = [], []
    for sh in shards:
        pairs, sid = dedup_new_batch(cat, "sig_index", sh, **kw)
        got.append(pairs.toPandas())
        snaps.append(sid)
    inc = pd.concat(got, ignore_index=True)
    full = DD.minhash_lsh_pairs(docs, **kw).toPandas()

    def key(df):
        return set(zip(df.id_a, df.id_b, df.est_jaccard.round(9)))

    assert key(inc) == key(full)
    assert len(inc) and not inc.duplicated(["id_a", "id_b"]).any()

    # index round-trip + time travel
    assert cat.read("sig_index", as_of=snaps[0]).count() == shards[0].count()
    assert cat.read_snapshot("sig_index", snaps[1]).count() == shards[1].count()
    assert cat.read("sig_index").count() == docs.count()
    sig_cols = set(cat.read("sig_index").columns)
    assert sig_cols == {"doc_id", "sig"}  # text is never persisted

    # a later batch with different LSH params must be rejected loudly
    with pytest.raises(ValueError, match="do not match the index"):
        dedup_new_batch(cat, "sig_index", shards[0], n_perm=32, bands=8)


def test_incremental_dedup_retry_is_idempotent(spark, docs, tmp_path_factory):
    """The signature append is eager but the pairs plan is lazy: a job
    dying between them leaves the index holding the batch's signatures.
    A retry with the same batch_id must find that snapshot, skip the
    re-append, and return byte-identical pairs — not double the index."""
    from lyssandra_spark.operators.incremental import dedup_new_batch
    from lyssandra_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path_factory.mktemp("inc_retry")))
    kw = dict(n_perm=64, bands=16, threshold=0.3, ngram_bytes=8)
    shard0 = docs.where(F.col("doc_id") % 3 == 0)
    shard1 = docs.where(F.col("doc_id") % 3 == 1)

    _, s0 = dedup_new_batch(cat, "sig", shard0, batch_id="d0", **kw)
    # first attempt at d1 "dies" after the append: pairs never touched
    p1, s1 = dedup_new_batch(cat, "sig", shard1, batch_id="d1", **kw)
    n_snaps = len(cat.snapshots("sig"))
    n_sigs = cat.read("sig").count()

    # retry: same snapshot id back, no new snapshot, identical pairs
    p1r, s1r = dedup_new_batch(cat, "sig", shard1, batch_id="d1", **kw)
    assert s1r == s1
    assert len(cat.snapshots("sig")) == n_snaps
    assert cat.read("sig").count() == n_sigs
    a = p1.toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    b = p1r.toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # retrying the FIRST (bootstrap) batch is equally stable
    _, s0r = dedup_new_batch(cat, "sig", shard0, batch_id="d0", **kw)
    assert s0r == s0 and len(cat.snapshots("sig")) == n_snaps


def test_incremental_dedup_reingest_is_noop(spark, docs, tmp_path_factory):
    """A genuine re-ingest WITHOUT a batch_id (new snapshot, same doc
    ids) must not append second signature rows: duplicated signatures
    would fan out the verification join and emit conflicting pairs in
    every future batch. Within-batch duplicate ids collapse too."""
    from lyssandra_spark.operators.incremental import dedup_new_batch
    from lyssandra_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path_factory.mktemp("inc_reingest")))
    kw = dict(n_perm=64, bands=16, threshold=0.3, ngram_bytes=8)
    shard0 = docs.where(F.col("doc_id") % 3 == 0)
    shard1 = docs.where(F.col("doc_id") % 3 == 1)

    dedup_new_batch(cat, "sig", shard0, **kw)
    n0 = cat.read("sig").count()
    assert n0 == shard0.count()

    # full re-ingest of shard0 (no batch_id): index must not grow, the
    # re-fed docs produce no pairs (they were deduped on first ingest)
    p_re, _ = dedup_new_batch(cat, "sig", shard0, **kw)
    assert cat.read("sig").count() == n0
    assert p_re.count() == 0
    assert cat.read("sig").groupBy("doc_id").count().where(
        F.col("count") > 1
    ).count() == 0

    # a mixed batch (half old, half new) indexes only the new half, and
    # its pairs equal the clean sequential run's second batch
    mixed = shard0.unionByName(shard1).unionByName(shard1)  # + in-batch dup
    p_mix, _ = dedup_new_batch(cat, "sig", mixed, **kw)
    assert cat.read("sig").count() == n0 + shard1.count()
    assert cat.read("sig").groupBy("doc_id").count().where(
        F.col("count") > 1
    ).count() == 0

    clean_cat = ParquetCatalog(spark, str(tmp_path_factory.mktemp("inc_clean")))
    dedup_new_batch(clean_cat, "sig", shard0, **kw)
    p_want, _ = dedup_new_batch(clean_cat, "sig", shard1, **kw)

    def key(df):
        p = df.toPandas()
        return set(zip(p.id_a, p.id_b, p.est_jaccard.round(9)))

    assert key(p_mix) == key(p_want)


@settings(max_examples=5, deadline=None)
@given(
    n_shards=hst.integers(2, 4),
    route_salt=hst.integers(0, 1000),
)
def test_incremental_dedup_random_sharding_property(
    spark, docs, tmp_path_factory, n_shards, route_salt
):
    """Incremental == full recompute for ANY document-to-batch routing,
    not just the doc_id%3 split: route docs to n_shards batches by a
    salted hash, run the batches sequentially, and the union of returned
    pairs must equal one full-corpus run exactly."""
    from lyssandra_spark.operators.incremental import dedup_new_batch
    from lyssandra_spark.sources.catalog import ParquetCatalog

    small = docs.where(F.col("doc_id") % 4 == 0)  # keep each example fast
    cat = ParquetCatalog(
        spark, str(tmp_path_factory.mktemp(f"inc_prop_{route_salt}"))
    )
    kw = dict(n_perm=32, bands=8, threshold=0.3, ngram_bytes=8)
    route = F.pmod(F.xxhash64("doc_id", F.lit(route_salt)), F.lit(n_shards))
    got = []
    for r in range(n_shards):
        shard = small.where(route == r)
        if shard.rdd.isEmpty():
            continue
        pairs, _ = dedup_new_batch(cat, "sig_prop", shard, **kw)
        got.append(pairs.toPandas())
    inc = pd.concat(got, ignore_index=True)
    full = DD.minhash_lsh_pairs(small, **kw).toPandas()

    def key(df):
        return set(zip(df.id_a, df.id_b, df.est_jaccard.round(9)))

    assert key(inc) == key(full)
    assert not inc.duplicated(["id_a", "id_b"]).any()


def test_dedup_paragraphs_python_oracle(spark):
    """Corpus-level repeated-paragraph removal vs an independent python
    oracle (Counter over trimmed paragraphs), incl. blank-structure
    preservation, fully-boilerplate docs, and accounting columns."""
    from collections import Counter

    boiler = "accept our cookies"
    texts = [
        f"intro one\n{boiler}\nreal content A",
        f"{boiler}\nreal content B\n\nsigned, B",
        f"real content C\n  {boiler}  \nmore C",   # matches via trim
        boiler,                                     # fully boilerplate
        "unique doc\n\nwith a blank line",          # untouched
        "repeated inside\nrepeated inside\nonce",   # within-doc repeat
        "alpha\n\t\nbeta",                          # tab-only line = structure
        "gamma\n\t\ndelta",                         # (repeats corpus-wide!)
        f"nbsp pad\n {boiler} \nend",     # NBSP-padded boilerplate
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    out = (
        DD.dedup_paragraphs(docs, min_dup=2)
        .toPandas().set_index("doc_id").sort_index()
    )

    cnt = Counter(
        p.strip() for t in texts for p in t.split("\n") if p.strip()
    )
    hot = {p for p, c in cnt.items() if c >= 2}
    for i, t in enumerate(texts):
        paras = t.split("\n")
        want_kept = [p for p in paras if not (p.strip() and p.strip() in hot)]
        assert out.loc[i, "text"] == "\n".join(want_kept), (i, t)
        assert out.loc[i, "n_paras"] == len(paras)
        assert out.loc[i, "n_removed"] == sum(
            1 for p in paras if p.strip() and p.strip() in hot
        )
    # the fully-boilerplate doc keeps its row, empty text
    assert out.loc[3, "text"] == "" and out.loc[3, "n_removed"] == 1
    # within-doc repeats count toward min_dup too (C4 convention)
    assert out.loc[5, "n_removed"] == 2
    # tab-only lines are UNICODE-blank structure: although they repeat
    # corpus-wide (docs 6 and 7), they are never counted or removed —
    # Spark's ASCII-only trim() would have stripped them
    assert out.loc[6, "text"] == "alpha\n\t\nbeta"
    assert out.loc[7, "text"] == "gamma\n\t\ndelta"
    # NBSP-padded boilerplate still matches via the unicode trim
    assert out.loc[8, "n_removed"] == 1

    with pytest.raises(ValueError, match="min_dup"):
        DD.dedup_paragraphs(docs, min_dup=1)


def test_dedup_paragraphs_roundtrip_and_plan(spark, sf_dir):
    """min_dup above every paragraph count => every doc round-trips
    byte-identically (split+rejoin is exact, blank lines included); the
    plan carries a partial count before the paragraph-hash exchange."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    out = DD.dedup_paragraphs(d, min_dup=10**9)
    joined = (
        d.alias("a")
        .join(out.alias("b"), "doc_id")
        .where(F.col("a.text") != F.col("b.text"))
    )
    assert joined.count() == 0
    assert out.count() == d.where(F.col("text").isNotNull()).count()

    plan = (
        DD.dedup_paragraphs(d)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_count" in plan or "partial count" in plan.lower()


def _span_oracle(texts, n_sents=3, min_dup=2, split=r"(?<=[.!?])(?=\s)"):
    """Independent python span dedup: zero-width chunk split (sentence
    or token boundary), corpus-wide span counts, union of hot windows
    removed."""
    import re
    from collections import Counter

    chunks = {
        i: re.split(split, t)
        for i, t in texts.items() if t is not None
    }

    def key(cs):
        return " ".join(c.strip() for c in cs)

    counts = Counter()
    for cs in chunks.values():
        for j in range(len(cs) - n_sents + 1):
            k = key(cs[j:j + n_sents])
            if k:
                counts[k] += 1
    hot = {k for k, c in counts.items() if c >= min_dup}
    out = {}
    for i, cs in chunks.items():
        cov = set()
        for j in range(len(cs) - n_sents + 1):
            if key(cs[j:j + n_sents]) in hot:
                cov.update(range(j, j + n_sents))
        out[i] = (
            "".join(c for j, c in enumerate(cs) if j not in cov),
            len(cs),
            len(cov),
        )
    return out


def test_dedup_spans_python_oracle(spark):
    """C4 three-sentence-span removal vs an independent python oracle —
    incl. the case paragraph dedup MISSES (boilerplate pasted
    mid-paragraph), whitespace-normalized span identity across newline
    vs space joins, overlapping hot windows, and short docs."""
    banner = "Accept cookies. See our policy. Close this box."
    texts = {
        0: f"Real intro. {banner} Real tail here.",      # mid-paragraph
        1: f"Other doc start. {banner} Different end.",
        2: banner + " Unique suffix sentence.",
        3: "Accept cookies.\nSee our policy. Close this box. More text.",
        4: "No repeats here. Just two sentences.",
        5: "Too short.",                                  # < n_sents
        6: "One. Two. Three. One. Two. Three. One. Two. Three. Four.",
        # NBSP sentence separators: the split must be UNICODE-aware
        # ((?U) — Java \s alone is ASCII-only and would never split)
        7: "Buy now. Great deal. Act fast.",
        8: "Other one. Buy now. Great deal. Act fast.",
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    got = (
        DD.dedup_spans(docs, n_sents=3, min_dup=2)
        .toPandas().set_index("doc_id").sort_index()
    )
    want = _span_oracle(texts, n_sents=3, min_dup=2)
    for i, (wtext, wn, wrem) in want.items():
        assert got.loc[i, "text"] == wtext, (i, got.loc[i, "text"], wtext)
        assert got.loc[i, "n_sents_total"] == wn
        assert got.loc[i, "n_removed_sents"] == wrem
    # the banner really was removed from the mid-paragraph docs
    assert banner not in got.loc[0, "text"]
    # the NBSP-separated boilerplate was split, matched, and removed
    assert got.loc[7, "n_removed_sents"] == 3
    assert "Buy now" not in got.loc[8, "text"]
    # and paragraph-level dedup would NOT have caught doc 0 vs doc 1
    # (their trimmed paragraphs all differ)
    para = (
        DD.dedup_paragraphs(docs.where(F.col("doc_id") < 2), min_dup=2)
        .toPandas().set_index("doc_id")
    )
    assert (para.n_removed == 0).all()

    with pytest.raises(ValueError, match="n_sents"):
        DD.dedup_spans(docs, n_sents=0)
    with pytest.raises(ValueError, match="min_dup"):
        DD.dedup_spans(docs, min_dup=1)


_SENT_END = hst.sampled_from([".", "!", "?"])
_SENT_SEP = hst.sampled_from([" ", "  ", "\n", "\n\n", "\t"])
_WORD = hst.sampled_from(
    ["accept", "cookies", "policy", "close", "real", "text", "héllo", "x1"]
)


@settings(max_examples=5, deadline=None)
@given(
    docs_spec=hst.lists(
        hst.lists(  # each doc = a list of sentences
            hst.tuples(hst.lists(_WORD, min_size=1, max_size=4),
                       _SENT_END, _SENT_SEP),
            min_size=0, max_size=8,
        ),
        min_size=1, max_size=10,
    ),
    n_sents=hst.integers(1, 3),
)
def test_dedup_spans_random_docs_property(spark, docs_spec, n_sents):
    """dedup_spans == the independent python oracle for ANY random
    corpus built from a tiny vocabulary (so cross-doc span repeats are
    common), any sentence separators (space/newline/tab — identity must
    normalize them), and any window size 1-3; docs with no hot span
    round-trip byte-identically by construction of the oracle."""
    texts = {}
    for i, sents in enumerate(docs_spec):
        parts = []
        for j, (words, end, sep) in enumerate(sents):
            if j:
                parts.append(sep)
            parts.append(" ".join(words) + end)
        texts[i] = "".join(parts)
    sdocs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    got = (
        DD.dedup_spans(sdocs, n_sents=n_sents, min_dup=2)
        .toPandas().set_index("doc_id").sort_index()
    )
    want = _span_oracle(texts, n_sents=n_sents, min_dup=2)
    for i, (wtext, wn, wrem) in want.items():
        assert got.loc[i, "text"] == wtext, (i, texts[i])
        assert got.loc[i, "n_sents_total"] == wn
        assert got.loc[i, "n_removed_sents"] == wrem


def test_dedup_token_spans_python_oracle_and_long_runs(spark):
    """Lee-2021-style token-window dedup: any shared run of
    >= span_tokens whitespace tokens is fully removed (stride-1 windows
    cover the whole run), shorter shared runs survive, and the python
    oracle agrees exactly — incl. punctuation-free text no sentence
    split could ever segment."""
    boiler = "one two three four five six seven eight"  # 8 tokens
    texts = {
        0: f"alpha beta {boiler} gamma delta",
        1: f"start {boiler} end words here",
        2: "alpha beta gamma delta unrelated text",
        3: "one two three short overlap only",    # < span_tokens shared
        4: f"{boiler}",                            # exactly the run
    }
    got = (
        DD.dedup_token_spans(
            spark.createDataFrame(
                pd.DataFrame({"doc_id": list(texts),
                              "text": list(texts.values())})
            ),
            span_tokens=5, min_dup=2,
        )
        .toPandas().set_index("doc_id").sort_index()
    )
    want = _span_oracle(
        texts, n_sents=5, min_dup=2, split=r"(?<=\S)(?=\s)"
    )
    for i, (wtext, wn, wrem) in want.items():
        assert got.loc[i, "text"] == wtext, (i, got.loc[i, "text"])
        assert got.loc[i, "n_tokens_total"] == wn
        assert got.loc[i, "n_removed_tokens"] == wrem
    # the full 8-token boilerplate run is gone from every carrier
    for i in (0, 1, 4):
        assert "three four five" not in got.loc[i, "text"], i
    # the 3-token overlap (below the 5-token window) survives
    assert "one two three" in got.loc[3, "text"]

    with pytest.raises(ValueError, match="span_tokens"):
        DD.dedup_token_spans(
            spark.createDataFrame(pd.DataFrame({"doc_id": [1],
                                                "text": ["x"]})),
            span_tokens=0,
        )


@settings(max_examples=5, deadline=None)
@given(
    docs_spec=hst.lists(
        hst.lists(_WORD, min_size=0, max_size=12),  # each doc = words
        min_size=1, max_size=10,
    ),
    sep_choice=hst.lists(_SENT_SEP, min_size=1, max_size=3),
    span_tokens=hst.integers(1, 4),
)
def test_dedup_token_spans_random_docs_property(
    spark, docs_spec, sep_choice, span_tokens
):
    """dedup_token_spans == the python oracle for random small-vocab
    corpora (cross-doc window repeats common), mixed whitespace
    separators, window sizes 1-4."""
    texts = {}
    for i, words in enumerate(docs_spec):
        parts = []
        for j, w in enumerate(words):
            if j:
                parts.append(sep_choice[j % len(sep_choice)])
            parts.append(w)
        texts[i] = "".join(parts)
    got = (
        DD.dedup_token_spans(
            spark.createDataFrame(
                pd.DataFrame({"doc_id": list(texts),
                              "text": list(texts.values())})
            ),
            span_tokens=span_tokens, min_dup=2,
        )
        .toPandas().set_index("doc_id").sort_index()
    )
    want = _span_oracle(
        texts, n_sents=span_tokens, min_dup=2, split=r"(?<=\S)(?=\s)"
    )
    for i, (wtext, wn, wrem) in want.items():
        assert got.loc[i, "text"] == wtext, (i, texts[i])
        assert got.loc[i, "n_tokens_total"] == wn
        assert got.loc[i, "n_removed_tokens"] == wrem


def test_incremental_span_counts_and_hot_set_strip(spark, tmp_path):
    """Span-granularity twin of the paragraph hot-set composition: the
    3-sentence span hot set maintained incrementally (per-batch
    span_counts folded by refresh_aggregate) + dedup_spans(hot=...)
    over one batch == full-corpus dedup_spans restricted to that
    batch."""
    from lyssandra_spark.operators.incremental import refresh_aggregate
    from lyssandra_spark.sources.catalog import ParquetCatalog

    banner = "Accept cookies. See policy. Close box."
    texts = {
        0: f"Intro alpha. {banner} Tail one.",
        1: "Unique doc one. Nothing shared here. At all really.",
        2: f"Start two. {banner} Endcap.",
        3: f"Batch two doc. {banner} Different tail.",
        4: "Another plain doc. Short one.",
        5: f"Batch three doc. {banner} Final words here.",
        6: "Last plain doc. Still unique. Completely so.",
    }
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    batches = [
        corpus.where(F.col("doc_id") < 3),
        corpus.where((F.col("doc_id") >= 3) & (F.col("doc_id") < 5)),
        corpus.where(F.col("doc_id") >= 5),
    ]
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    for b in batches:
        cat.write(DD.span_counts(b, n_units=3), "sc_src", mode="append")
        refresh_aggregate(cat, "sc_src", "sc", keys="span", sum_cols="n")

    hot = cat.read("sc").where(F.col("sum_n") >= 2).select("span")
    got = (
        DD.dedup_spans(batches[2], n_sents=3, hot=hot)
        .toPandas().set_index("doc_id").sort_index()
    )
    want = (
        DD.dedup_spans(corpus, n_sents=3, min_dup=2)
        .toPandas().set_index("doc_id").sort_index()
        .loc[[5, 6]]
    )
    pd.testing.assert_frame_equal(got, want)
    assert "Accept cookies" not in got.loc[5, "text"]
    assert got.loc[6, "n_removed_sents"] == 0

    with pytest.raises(ValueError, match="unit"):
        DD.span_counts(corpus, unit="word")


def test_dedup_token_spans_roundtrip(spark, sf_dir):
    """Hot-set-free corpus round-trips byte-identically through the
    token-boundary zero-width split."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    out = DD.dedup_token_spans(d, min_dup=10**9)
    diff = (
        d.alias("a").join(out.alias("b"), "doc_id")
        .where(F.col("a.text") != F.col("b.text"))
    )
    assert diff.count() == 0


def test_dedup_spans_roundtrip_and_plan(spark, sf_dir):
    """Span-free corpus round-trips byte-identically (the zero-width
    split consumes no characters), null-text docs drop, and the span
    count shuffle carries a map-side partial."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    out = DD.dedup_spans(d, min_dup=10**9)
    joined = (
        d.alias("a").join(out.alias("b"), "doc_id")
        .where(F.col("a.text") != F.col("b.text"))
    )
    assert joined.count() == 0
    assert out.count() == d.where(F.col("text").isNotNull()).count()
    # materialize_hot=False keeps the full lineage visible (the default
    # checkpoints the hot-position table, truncating the plan)
    plan = (
        DD.dedup_spans(d, materialize_hot=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_count" in plan or "partial count" in plan.lower()
    # two-phase discovery: the corpus-wide count shuffle groups on the
    # 64-bit hash ALONE (8-byte keys — span text never rides that
    # exchange); the exact (hash, text) verification is a window count
    # downstream of the hot-hash semi-join
    import re as _re

    assert _re.search(
        r"HashAggregate\(keys=\[__h#\d+L\], functions=\[partial_count", plan
    ), "phase-1 hash-only count aggregate missing from the plan"


def test_dedup_spans_mostly_hot_long_doc(spark):
    """Straggler guard (round-6 verdict #2): a book-length doc whose
    chunks are MOSTLY covered used to pay O(n_chunks x n_covered)
    array_contains comparisons in one task; the shuffle-based reassembly
    makes it O(n log n). Correctness vs the python oracle on a 2,000-
    sentence doc that is ~100% hot, plus an all-covered doc yielding ""
    and an untouched doc riding the map-only path."""
    hot_block = " ".join(f"Sentence {j % 7} repeats." for j in range(12))
    long_doc = " ".join(
        f"Sentence {j % 7} repeats." for j in range(2000)
    )
    texts = {
        0: long_doc,                              # mostly hot, 2000 chunks
        1: hot_block,                             # fully covered -> ""
        2: hot_block + " Unique closing thought here.",
        3: "Entirely unique. Nothing repeats. Plain doc.",
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    got = (
        DD.dedup_spans(docs, n_sents=3, min_dup=2)
        .toPandas().set_index("doc_id").sort_index()
    )
    want = _span_oracle(texts, n_sents=3, min_dup=2)
    for i, (wtext, wn, wrem) in want.items():
        assert got.loc[i, "text"] == wtext, i
        assert got.loc[i, "n_sents_total"] == wn
        assert got.loc[i, "n_removed_sents"] == wrem
    assert got.loc[0, "n_removed_sents"] == 2000  # the whole long doc
    assert got.loc[1, "text"] == ""
    assert got.loc[3, "n_removed_sents"] == 0


def test_incremental_paragraph_counts_and_hot_set_strip(spark, tmp_path):
    """The paragraph hot set maintained INCREMENTALLY (per-batch
    paragraph_counts appended to a catalog table, corpus totals folded
    by refresh_aggregate) + dedup_paragraphs(hot=...) over one batch
    must equal the one-shot full-corpus dedup_paragraphs restricted to
    that batch — the new-batch boilerplate strip that never re-splits
    the historical corpus."""
    from lyssandra_spark.operators.incremental import refresh_aggregate
    from lyssandra_spark.sources.catalog import ParquetCatalog

    banner = "accept our cookies"
    texts = {
        0: f"intro A\n{banner}\ncontent A",
        1: "unique B\nalso unique",
        2: f"{banner}\ncontent C",
        3: "batch2 doc\nshared line",
        4: f"shared line\n{banner}",
        5: f"batch3 doc\n{banner}\nshared line\ntail",
        6: "plain batch3 doc",
    }
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    batches = [
        corpus.where(F.col("doc_id") < 3),
        corpus.where((F.col("doc_id") >= 3) & (F.col("doc_id") < 5)),
        corpus.where(F.col("doc_id") >= 5),
    ]
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    for b in batches:
        cat.write(DD.paragraph_counts(b), "pc_src", mode="append")
        refresh_aggregate(cat, "pc_src", "pc", keys="para", sum_cols="n")

    hot = cat.read("pc").where(F.col("sum_n") >= 2).select("para")
    # maintained totals == one-shot corpus counts
    got_counts = (
        cat.read("pc").toPandas().sort_values("para").reset_index(drop=True)
    )
    want_counts = (
        DD.paragraph_counts(corpus).toPandas()
        .sort_values("para").reset_index(drop=True)
    )
    assert list(got_counts.para) == list(want_counts.para)
    assert list(got_counts.sum_n) == list(want_counts.n)

    # strip batch 3 against the PERSISTED hot set: no corpus re-split
    got = (
        DD.dedup_paragraphs(batches[2], hot=hot)
        .toPandas().set_index("doc_id").sort_index()
    )
    want = (
        DD.dedup_paragraphs(corpus, min_dup=2)
        .toPandas().set_index("doc_id").sort_index()
        .loc[[5, 6]]
    )
    pd.testing.assert_frame_equal(got, want)
    assert banner not in got.loc[5, "text"]
    assert "shared line" not in got.loc[5, "text"]


def test_dedup_paragraphs_separator_containing_quote_end(spark):
    r"""A separator containing the literal sequence \E must stay a
    literal: naive \Q<sep>\E quoting would end the quote early and parse
    the remainder ('[' here) as a regex, throwing or mis-splitting."""
    sep = "\\E["
    texts = [
        f"dup para{sep}unique A{sep}tail",
        f"dup para{sep}unique B",
        "no separator here",
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    out = (
        DD.dedup_paragraphs(docs, sep=sep, min_dup=2)
        .toPandas().set_index("doc_id").sort_index()
    )
    assert out.loc[0, "text"] == f"unique A{sep}tail"
    assert out.loc[0, "n_paras"] == 3 and out.loc[0, "n_removed"] == 1
    assert out.loc[1, "text"] == "unique B"
    assert out.loc[2, "text"] == "no separator here"


def test_release_span_caches(spark):
    """Every dedup_spans/dedup_token_spans call caches one hot-position
    frame; release_span_caches() frees them all (long-lived drivers
    would otherwise accumulate one per call until LRU pressure), and a
    released result still recomputes correctly (the cache is
    lineage-preserving, not a checkpoint)."""
    from lyssandra_spark.operators.dedup import _SPAN_CACHES, release_span_caches

    release_span_caches()  # clean slate from earlier tests in the module
    docs = spark.createDataFrame(
        [(1, "dup one. dup two. dup three. solo a."),
         (2, "dup one. dup two. dup three. solo b."),
         (3, "other text entirely.")],
        "doc_id long, text string",
    )
    out = DD.dedup_spans(docs, n_sents=3, min_dup=2)
    before = out.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert len(_SPAN_CACHES) == 1
    assert release_span_caches() == 1
    assert not _SPAN_CACHES
    # the already-built plan still evaluates identically post-release
    after = out.toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)
    # idempotent
    assert release_span_caches() == 0
