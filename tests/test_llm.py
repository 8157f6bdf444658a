"""LLM-pipeline operator tests over the driver's documents/embeddings
tables (TESTDATA.md) at sf0.001."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fstd2pandas_spark.operators.llm import (
    cosine_topk,
    embedding_neardup,
    exact_dedup,
    extract_features,
    fingerprint,
    language_id,
    lsh_ann_topk,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    quality_score,
    sample_video_frames,
    token_counts,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_exact_dedup_partitions_docs(docs):
    n_docs = docs.count()
    dd = exact_dedup(docs)
    assert dd.agg(F.sum("n_copies")).first()[0] == n_docs
    # representative doc_id is the min of its hash group
    assert dd.filter(F.col("doc_id").isNull()).count() == 0


def test_language_id_domain(docs):
    langs = {r.lang_pred for r in language_id(docs).select("lang_pred").distinct().collect()}
    assert langs <= {"de", "en", "es", "fr", "und"}


def test_quality_score_bounds(docs):
    q = quality_score(docs)
    bad = q.filter(
        (F.col("quality") < 0) | (F.col("quality") > 1.0000001)
        | (F.col("punct_ratio") < 0) | (F.col("punct_ratio") > 1)
        | (F.col("stop_ratio") < 0) | (F.col("stop_ratio") > 1)
    )
    assert bad.count() == 0


def test_token_counts_positive(docs):
    tc = token_counts(docs)
    assert tc.filter(F.col("ws_tokens") <= 0).count() == 0
    assert tc.filter(F.col("bpe_tokens") < F.col("ws_tokens") / 2).count() == 0


def test_fingerprint_deterministic(docs):
    a = {r.doc_id: r.fingerprint for r in fingerprint(docs).collect()}
    b = {r.doc_id: r.fingerprint for r in fingerprint(docs).collect()}
    assert a == b
    assert all(0 <= v < 1_000_000_007 for v in a.values())


def test_dedup_degenerate_input_guards(spark):
    """The dedup.py whole-file review's silent-wrong-answer classes:
    (a) degenerate documents (< shingle_k tokens, or NULL text) all
    share the all-sentinel MinHash signature — unguarded they paired
    with each other at n_bands = bands (maximum confidence), a
    mass-delete hazard; (b) simhash(NULL text) is NULL, so NULL-text
    docs collapsed into one NULL-key 'near-duplicate' bucket in every
    simhash path; (c) boilerplate_span_stats reported NULL-text docs
    as perfectly clean (frac 0.0) against the module's NULL-metric
    contract; (d) simhash_report_rows force-cast ids to long, NULLing
    doc identity under non-ANSI; (e) a full-width pigeonhole block
    (bits=64, max_hamming=0) overflowed the literal mask; (f) bad
    num_hashes/bands died as IndexError/ZeroDivisionError."""
    from fstd2pandas_spark.operators.llm.dedup import (
        boilerplate_span_stats, lsh_candidate_pairs, minhash_signature,
        signature_hamming_pairs, simhash_buckets, simhash_hamming_pairs,
        simhash_report, simhash_report_rows)

    deg = spark.createDataFrame(
        [(1, "hi"), (2, "completely different"), (3, None),
         (4, "the quick brown fox jumps over dogs"),
         (5, "the quick brown fox jumps over dogs")],
        "doc_id long, text string")

    # (a) short/NULL docs emit NO candidate pairs; real dups still do
    pairs = lsh_candidate_pairs(deg, num_hashes=12, bands=4).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(4, 5)}

    # (b) NULL-text docs form no simhash bucket and no pair
    many_null = deg.unionByName(spark.createDataFrame(
        [(6, None), (7, None)], "doc_id long, text string"))
    bks = simhash_buckets(many_null).collect()
    assert all(r["simhash"] is not None for r in bks)
    prs = simhash_hamming_pairs(many_null, bits=48).collect()
    assert all(a not in (3, 6, 7) and b not in (3, 6, 7)
               for a, b in [(r["doc_a"], r["doc_b"]) for r in prs])
    rows = simhash_report_rows(many_null, bits=48).collect()
    assert all(r["v1"] is not None for r in rows)

    # (c) NULL text -> ALL THREE boilerplate metrics NULL, never a
    # clean-looking 0.0 fraction
    bp = {r["doc_id"]: r for r in
          boilerplate_span_stats(many_null, k=2, min_df=2).collect()}
    for d in (3, 6, 7):
        assert bp[d]["n_spans"] is None
        assert bp[d]["n_boilerplate_spans"] is None
        assert bp[d]["boilerplate_frac"] is None
    assert bp[4]["boilerplate_frac"] is not None

    # (d) string ids refused by the fused report (simhash_report is
    # the documented string-id tool and still works)
    sdocs = deg.withColumn("doc_id", F.concat(F.lit("doc"),
                                              F.col("doc_id")))
    with pytest.raises(ValueError, match="integral id"):
        simhash_report_rows(sdocs)
    b2, p2 = simhash_report(sdocs)
    assert all(isinstance(r["min_doc"], str) for r in b2.collect())

    # (e) bits=64 / max_hamming=0: exact 64-bit match, no mask overflow
    sig = spark.createDataFrame(
        [(1, -42), (2, -42), (3, 7)], "doc_id long, h long")
    got = signature_hamming_pairs(sig, "h", bits=64,
                                  max_hamming=0).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"])
            for r in got] == [(1, 2, 0)]

    # (f) crisp parameter validation
    with pytest.raises(ValueError, match="1..12"):
        minhash_signature(deg, num_hashes=16)
    with pytest.raises(ValueError, match="bands must be"):
        lsh_candidate_pairs(deg, num_hashes=0, bands=0)
    # bits < 1 would hand every document the constant 0 signature
    from fstd2pandas_spark.operators.llm.text import simhash
    with pytest.raises(ValueError, match="1..60"):
        simhash(deg, bits=0)


def test_lsh_candidates_catch_high_jaccard(docs):
    """LSH with 8 hashes / 4 bands must surface every pair with very high
    true Jaccard (threshold ~ (1/b)^(1/r) ≈ 0.5 at s=0.9 w.p. ~1)."""
    true_pairs = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    cand = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(docs, num_hashes=8, bands=4).collect()
    }
    assert true_pairs <= cand or not true_pairs
    # ragged banding would silently drop remainder hashes — refuse it
    with pytest.raises(ValueError, match="multiple of bands"):
        lsh_candidate_pairs(docs, num_hashes=12, bands=5)


def test_lsh_fused_sql_matches_signature_building_blocks(docs):
    """The fused single-spark.sql build of lsh_candidate_pairs (r18)
    must emit exactly the pairs derivable from the UNFUSED DSL
    building block (minhash_signature) by the documented banding
    rules: band bucket = md5 of the '|'-joined signature slice,
    all-sentinel buckets excluded, pairs counted per shared bucket.
    Pins the SQL transcription against the DSL machinery so the two
    plan-construction paths cannot drift."""
    import hashlib
    from fstd2pandas_spark.operators.llm.dedup import (
        MINHASH_P, lsh_candidate_pairs, minhash_signature)

    num_hashes, bands = 8, 4
    r = num_hashes // bands
    sigs = {row["doc_id"]: row["sig"]
            for row in minhash_signature(
                docs, num_hashes=num_hashes).select("doc_id", "sig").collect()}
    sentinel = hashlib.md5("|".join([str(MINHASH_P)] * r).encode()).hexdigest()
    buckets: dict = {}
    for doc, sig in sigs.items():
        for b in range(bands):
            h = hashlib.md5(
                "|".join(str(x) for x in sig[b * r:(b + 1) * r]).encode()
            ).hexdigest()
            if h != sentinel:
                buckets.setdefault((b, h), []).append(doc)
    expected: dict = {}
    for members in buckets.values():
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b_ in ms[i + 1:]:
                if a < b_:
                    expected[(a, b_)] = expected.get((a, b_), 0) + 1
    got = {(row["doc_a"], row["doc_b"]): row["n_bands"]
           for row in lsh_candidate_pairs(
               docs, num_hashes=num_hashes, bands=bands).collect()}
    assert got == expected
    assert expected, "fixture should produce at least one candidate pair"


def test_cosine_topk_matches_numpy(emb):
    pdf = emb.toPandas()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in pdf.itertuples()}
    got = cosine_topk(emb, k=3, n_queries=3).collect()
    for row in got:
        q, n = vecs[row.query_id], vecs[row.neighbor_id]
        expect = float(q @ n / (np.linalg.norm(q) * np.linalg.norm(n)))
        assert abs(row.cos - round(expect, 6)) < 1e-6


def test_embedding_neardup_pairs_ordered(emb):
    nd = embedding_neardup(emb, threshold=0.3).collect()
    assert all(r.vec_a < r.vec_b for r in nd)
    assert all(r.cos >= 0.3 for r in nd)


def test_embedding_neardup_lsh_subset_of_exact(emb):
    """LSH pairs are a subset of the exact all-pairs answer (a numpy
    oracle: every pair whose 6-dp cosine is >= 0.3), and each reported
    cos matches the oracle's."""
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in emb.toPandas().itertuples()
            if r.embedding is not None}
    ids = sorted(vecs)
    exact = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            u, v = vecs[a], vecs[b]
            c = round(float(u @ v / (np.linalg.norm(u) * np.linalg.norm(v))),
                      6)
            if c >= 0.3:
                exact[(a, b)] = c
    lsh = {(r.vec_a, r.vec_b): r.cos
           for r in embedding_neardup(emb, threshold=0.3, n_planes=2).collect()}
    assert lsh, "fixture should produce at least one LSH pair"
    assert set(lsh) <= set(exact)
    assert all(abs(c - exact[p]) <= 1e-6 for p, c in lsh.items())


def test_embedding_neardup_rejects_no_planes(emb):
    with pytest.raises(ValueError, match="n_planes"):
        embedding_neardup(emb, threshold=0.3, n_planes=0)


def test_embedding_neardup_default_is_bucketed_no_cartesian(spark, sf_dir):
    from fstd2pandas_spark.plans.checks import assert_no_cartesian

    # uncached read: AQE stage reuse keys on canonicalized plans and an
    # InMemoryRelation (the cached fixture) defeats it; parquet scans —
    # the production path — dedupe into one ReusedExchange. clearCache
    # because cache lookup would silently substitute the fixture's
    # InMemoryRelation for this very scan (same canonical plan).
    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    nd = embedding_neardup(emb, threshold=0.3)
    assert_no_cartesian(nd)
    # AQE applies exchange reuse at runtime — the self-join must reuse
    # the ONE bucketed shuffle, not recompute the md5 bucketing twice.
    nd.collect()
    executed = nd._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed
    assert "CartesianProduct" not in executed


def test_lsh_ann_is_subset_ranked(emb):
    rows = lsh_ann_topk(emb, k=3, n_planes=2, dim=64, n_queries=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        ranks = [r.rank for r in sorted(rs, key=lambda r: r.rank)]
        assert ranks == list(range(1, len(ranks) + 1))
        coss = [r.cos for r in sorted(rs, key=lambda r: r.rank)]
        assert coss == sorted(coss, reverse=True)


def _assets(docs):
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("kind"),
        F.lit(None).cast("string").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.col("doc_id") % 5 * 1000 + 500).cast("int").alias("duration_ms"),
        F.encode("text", "utf-8").alias("payload"),
    )


def test_multimodal_extract_features(docs):
    import hashlib

    feats = extract_features(_assets(docs)).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(feats) == len(texts)
    for r in feats[:5]:
        digest = hashlib.md5(texts[r.asset_id].encode()).digest()
        assert r.n_bytes == len(texts[r.asset_id].encode())
        np.testing.assert_allclose(
            r.feature, [b / 255.0 for b in digest], rtol=1e-6)


def test_multimodal_frame_sampling(docs):
    frames = sample_video_frames(_assets(docs), every_ms=1000)
    counts = {r.asset_id: r.n for r in
              frames.groupBy("asset_id").agg(F.count("*").alias("n")).collect()}
    docs_pd = docs.select("doc_id").toPandas()
    for doc_id in docs_pd["doc_id"]:
        dur = int(doc_id) % 5 * 1000 + 500
        assert counts[doc_id] == len(range(0, max(dur - 1, 0) + 1, 1000))


def test_ivf_ann_topk(spark, emb):
    """IVF ANN: valid cosines, correct ranking, and usable recall vs the
    exact brute-force top-k."""
    from fstd2pandas_spark.operators.llm.similarity import (
        cosine_topk, ivf_ann_topk)
    ivf = ivf_ann_topk(emb, k=5, n_cells=8, nprobe=2, dim=64, n_queries=10)
    rows = ivf.collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    exact = cosine_topk(emb, k=5, n_queries=10).collect()
    exact_by_q = {}
    for r in exact:
        exact_by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for qid, lst in by_q.items():
        # ranks are 1..n, ordered by cos desc
        lst = sorted(lst, key=lambda r: r.rank)
        assert [r.rank for r in lst] == list(range(1, len(lst) + 1))
        assert all(a.cos >= b.cos for a, b in zip(lst, lst[1:]))
        got = {r.neighbor_id for r in lst}
        hits += len(got & exact_by_q.get(qid, set()))
        total += len(exact_by_q.get(qid, set()))
    assert total and hits / total >= 0.2, f"recall {hits}/{total}"


def test_ngram_jaccard_hot_shingle_cap(spark):
    """max_doc_freq drops ultra-common shingles from the inverted index
    (the 100 TB skew guard): capped jaccard is a lower bound of exact,
    near-identical pairs survive, stopword-only pairs fall out."""
    stop = "one of the most common phrase"        # shared by EVERY doc
    rows = [("d%02d" % i, f"{stop} unique{i} token{i} filler{i}")
            for i in range(20)]
    # d90/d91: near-identical beyond the hot shingles
    rows += [("d90", f"{stop} alpha beta gamma delta epsilon"),
             ("d91", f"{stop} alpha beta gamma delta zeta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    exact = {(r.doc_a, r.doc_b): r.jaccard
             for r in ngram_jaccard_pairs(df, threshold=0.2).collect()}
    capped = {(r.doc_a, r.doc_b): r.jaccard
              for r in ngram_jaccard_pairs(
                  df, threshold=0.2, max_doc_freq=5).collect()}
    # the stopword shingles connect everything in the exact index
    assert len(exact) > len(capped)
    # capped survivors: subset with jaccard <= exact (lower bound)
    for pair, j in capped.items():
        assert pair in exact and j <= exact[pair] + 1e-9
    # the genuinely near-identical pair survives the cap
    assert ("d90", "d91") in capped


def test_ivf_lloyd_refinement(spark, emb):
    """One Lloyd iteration must not hurt recall vs the md5 seeds, and its
    centroids must be deterministic under re-computation (quantized
    integer sums are aggregation-order-free)."""
    from fstd2pandas_spark.operators.llm.similarity import (
        cosine_topk, ivf_ann_topk, lloyd_refine)

    exact = {}
    for r in cosine_topk(emb, k=5, n_queries=10).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(refine):
        got = {}
        for r in ivf_ann_topk(emb, k=5, n_cells=8, nprobe=2, dim=64,
                              n_queries=10, refine=refine).collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(got.get(q, set()) & s) for q, s in exact.items())
        return hits / sum(len(s) for s in exact.values())

    assert recall(1) >= recall(0)
    w1 = lloyd_refine(emb, 8, 64, iters=1)
    w2 = lloyd_refine(emb.repartition(7), 8, 64, iters=1)
    assert w1 == w2


def _bmp_bytes(img):
    """Minimal uncompressed 24-bit BMP (bottom-up, BGR, 4-byte row pad)."""
    import struct

    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = b"".join(
        img[y, :, ::-1].tobytes() + b"\x00" * (stride - w * 3)
        for y in range(h - 1, -1, -1))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows),
                       2835, 2835, 0, 0)
    return header + info + rows


def test_image_decode_and_features(spark):
    """PPM P6/P3 + BMP decode to identical pixels; features are real
    pixel stats, not hash fakes."""
    import numpy as np

    from fstd2pandas_spark.operators.llm.multimodal import (
        _encode_ppm, _image_features, decode_image, extract_features)

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(4, 5, 3), dtype=np.uint8)
    p6 = _encode_ppm(img)
    p3 = b"P3\n# comment\n5 4\n255\n" + " ".join(
        str(v) for v in img.reshape(-1)).encode()
    bmp = _bmp_bytes(img)
    for payload in (p6, p3, bmp):
        assert np.array_equal(decode_image(payload), img)
    assert decode_image(b"\x89PNG\r\n") is None

    feats = _image_features(img)
    assert feats.shape == (16,)
    assert abs(feats[0] - img[..., 0].mean() / 255.0) < 1e-6
    assert abs(feats[6:].sum() - 1.0) < 1e-6  # luma histogram sums to 1

    df = spark.createDataFrame(
        [(1, "image", "image/x-portable-pixmap", 5, 4, None, bytearray(p6)),
         (2, "image", None, None, None, None, bytearray(b"not an image"))],
        "asset_id long, kind string, mime string, width int, height int, "
        "duration_ms int, payload binary")
    out = {r.asset_id: r for r in extract_features(df).collect()}
    assert np.allclose(out[1].feature, feats, atol=1e-6)
    assert out[2].n_bytes == 12  # opaque fallback still deterministic


def _png_bytes(img, ctype=2, filters=None, depth=8, interlace=0):
    """Minimal spec-conformant PNG encoder for test fixtures: filter
    type chosen per scanline so every unfilter path gets exercised."""
    import struct
    import zlib

    import numpy as np

    h, w = img.shape[:2]
    ch = 1 if img.ndim == 2 else img.shape[2]
    flat = img.reshape(h, w * ch)

    def chunk(cid, body):
        return (struct.pack(">I", len(body)) + cid + body
                + struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF))

    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int16)
    for y in range(h):
        f = filters[y] if filters else 0
        row = flat[y].astype(np.int16)
        enc = row.copy()
        for i in range(w * ch):
            a = int(row[i - ch]) if i >= ch else 0
            b = int(prev[i])
            c = int(prev[i - ch]) if i >= ch else 0
            if f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            else:
                pred = 0
            enc[i] = (int(row[i]) - pred) & 0xFF
        raw += bytes([f]) + enc.astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_png_decode_all_filters(spark):
    """Real PNG decode: every scanline filter type unfilters to the
    exact pixels the PPM path yields; RGBA drops alpha, greyscale
    replicates; malformed payloads fall back to None (full palette/
    16-bit/Adam7 coverage: tests/test_png_full.py)."""
    import numpy as np

    from fstd2pandas_spark.operators.llm.multimodal import (
        _encode_ppm, decode_image)

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
    # one scanline per filter type (0..4)
    png = _png_bytes(img, ctype=2, filters=[0, 1, 2, 3, 4])
    got = decode_image(png)
    assert got is not None and np.array_equal(got, img)
    # byte-exact parity with the PPM decode of the same pixels
    assert np.array_equal(got, decode_image(_encode_ppm(img)))

    rgba = np.dstack([img, rng.randint(0, 256, size=(5, 4), dtype=np.uint8)])
    assert np.array_equal(
        decode_image(_png_bytes(rgba, ctype=6, filters=[4, 3, 2, 1, 0])), img)

    grey = img[..., 0].copy()
    g = decode_image(_png_bytes(grey, ctype=0, filters=[0, 2, 1, 4, 3]))
    assert np.array_equal(g, np.repeat(grey[..., None], 3, axis=2))

    # a 16-bit header over 8-bit-sized data is truncated -> None
    # (real 16-bit / Adam7 / palette coverage lives in test_png_full.py)
    assert decode_image(_png_bytes(img, ctype=2, depth=16)) is None
    assert decode_image(b"\x89PNG\r\n\x1a\n" + b"junk") is None


def test_resize_images_real(spark):
    """Nearest-neighbour resize halves dims and re-encodes as PPM."""
    import numpy as np

    from fstd2pandas_spark.operators.llm.multimodal import (
        _encode_ppm, _resize_nearest, decode_image, resize_images)

    rng = np.random.RandomState(6)
    img = rng.randint(0, 256, size=(8, 6, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, "image", "image/x-portable-pixmap", 6, 8, None,
          bytearray(_encode_ppm(img)))],
        "asset_id long, kind string, mime string, width int, height int, "
        "duration_ms int, payload binary")
    row = resize_images(df, 3, 4).collect()[0]
    assert (row.width, row.height) == (3, 4)
    got = decode_image(bytes(row.payload))
    assert np.array_equal(got, _resize_nearest(img, 3, 4))
    assert got.shape == (4, 3, 3)


def test_neardup_components_and_canonical(spark):
    """Connected components match a driver-side union-find on random
    graphs, including a chain longer than the near-clique typical case."""
    import random

    from fstd2pandas_spark.operators.llm.cluster import (
        canonical_docs, neardup_components)

    rng = random.Random(9)
    nodes = list(range(40))
    edges = [(a, a + 1) for a in range(0, 10)]          # an 11-chain
    edges += [(rng.choice(nodes[20:]), rng.choice(nodes[20:]))
              for _ in range(25)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for n in {x for e in edges for x in e}:
        r = find(n)
        want[n] = min(m for m in parent if find(m) == r)

    pairs = spark.createDataFrame(edges, "doc_a int, doc_b int")
    got = {r.node: r.component
           for r in neardup_components(pairs).collect()}
    assert got == want

    docs = spark.createDataFrame([(n, f"t{n}") for n in nodes],
                                 "doc_id int, text string")
    canon = {r.doc_id: r.canonical_id
             for r in canonical_docs(pairs, docs).collect()}
    for n in nodes:
        assert canon[n] == want.get(n, n)


def test_hash_split_sample_pack_determinism(spark, docs):
    """Sampling ops are pure functions of the data: identical under
    repartitioning, disjoint/complete splits, pack offsets consistent."""
    from fstd2pandas_spark.operators.llm.sampling import (
        hash_sample, hash_split, token_pack)
    from fstd2pandas_spark.operators.llm import token_counts

    s1 = {(r.doc_id, r.split) for r in hash_split(docs, val_pct=10,
                                                  test_pct=10).collect()}
    s2 = {(r.doc_id, r.split)
          for r in hash_split(docs.repartition(13), val_pct=10,
                              test_pct=10).collect()}
    assert s1 == s2
    assert {s for _, s in s1} == {"train", "val", "test"}

    k1 = {r.doc_id for r in hash_sample(docs, 20).collect()}
    k2 = {r.doc_id for r in hash_sample(docs.repartition(7), 20).collect()}
    assert k1 == k2 and 0 < len(k1) < docs.count()

    tp = token_pack(token_counts(docs), budget=64, n_shards=4)
    rows = sorted(tp.collect(), key=lambda r: (r.shard, r.doc_id))
    per_shard: dict = {}
    for r in rows:
        run = per_shard.get(r.shard, 0)
        assert r.pack_id == run // 64 and r.pack_offset == run % 64
        per_shard[r.shard] = run + r.ws_tokens


def test_normalized_dedup_and_decontamination(spark):
    """Reformatting collapses under normalized dedup; contamination
    flags exactly the docs sharing a benchmark shingle."""
    from fstd2pandas_spark.operators.llm.decontam import (
        contamination_overlap)
    from fstd2pandas_spark.operators.llm.dedup import (
        exact_dedup, normalized_exact_dedup)

    docs = spark.createDataFrame(
        [(0, "The quick brown fox jumps!"),
         (1, "the  quick,   BROWN fox jumps"),
         (2, "a completely different document entirely here"),
         (3, "quick brown fox appears again in this one")],
        "doc_id long, text string")
    assert exact_dedup(docs).count() == 4          # raw: all distinct
    norm = {r.doc_id: r.n_copies
            for r in normalized_exact_dedup(docs).collect()}
    assert norm[0] == 2 and 1 not in norm          # 0 and 1 collapse

    bench = docs.filter(F.col("doc_id") == 0)
    out = {r.doc_id: (r.n_bench_shingles, r.contaminated)
           for r in contamination_overlap(docs, bench).collect()}
    assert out[0][1]                               # bench overlaps itself
    assert out[3] == (1, True)                     # shares "quick brown fox"
    assert out[2] == (0, False)
    # NULL text: contamination is UNKNOWN, not 0/false — a leak-free
    # certificate for unverifiable content is the silent failure mode
    nd = docs.unionByName(spark.createDataFrame(
        [(9, None)], "doc_id long, text string"))
    out9 = {r.doc_id: (r.n_bench_shingles, r.contaminated)
            for r in contamination_overlap(nd, bench).collect()}
    assert out9[9] == (None, None)
    # shingling is punctuation-sensitive by design: doc 1's "quick,"
    # token breaks every candidate shingle
    assert out[1] == (0, False)


def test_random_projection_preserves_geometry(spark, emb):
    """J-L projection 64 -> 16: shapes right, deterministic, and
    pairwise distances correlate strongly with the originals."""
    import numpy as np

    from fstd2pandas_spark.operators.llm.similarity import random_projection

    sub = emb.filter(F.col("vec_id") < 40)
    proj = {r.vec_id: np.array(r.embedding)
            for r in random_projection(sub, 16, 64).collect()}
    proj2 = {r.vec_id: np.array(r.embedding)
             for r in random_projection(sub.repartition(5), 16, 64).collect()}
    orig = {r.vec_id: np.array(r.embedding) for r in sub.collect()}
    assert all(v.shape == (16,) for v in proj.values())
    assert all(np.array_equal(proj[k], proj2[k]) for k in proj)

    # random embeddings concentrate pairwise distances, so correlation
    # is noise; assert the J-L property directly — projected/original
    # distance ratios stay in a bounded band around 1
    ids = sorted(orig)
    ratios = []
    for i in range(0, len(ids), 2):
        for j in range(i + 1, len(ids), 3):
            a, b = ids[i], ids[j]
            do = float(np.linalg.norm(orig[a] - orig[b]))
            dp = float(np.linalg.norm(proj[a] - proj[b]))
            ratios.append(dp / do)
    ratios = np.array(ratios)
    assert abs(float(ratios.mean()) - 1.0) < 0.15, ratios.mean()
    assert float((np.abs(ratios - 1.0) < 0.6).mean()) > 0.9


def test_unicode_normalization_and_single_scan_dedup(spark):
    """Normalization keeps letters/digits of every script (non-Latin
    corpora must not collapse to the empty string), punctuation-only
    docs are excluded from the norm ledger, and the single-scan
    multi_exact_dedup reproduces both separate ledgers."""
    from fstd2pandas_spark.operators.llm.dedup import (
        exact_dedup, multi_exact_dedup, normalized_exact_dedup)

    docs = spark.createDataFrame(
        [(0, "你好，世界！"), (1, "你好 世界"), (2, "Привет, мир!"),
         (3, "привет   МИР"), (4, "!!!"), (5, "???"),
         (6, "plain english doc")],
        "doc_id long, text string")
    norm = {r.doc_id: r.n_copies
            for r in normalized_exact_dedup(docs).collect()}
    assert norm[0] == 2 and norm[2] == 2     # CJK / Cyrillic pairs collapse
    assert 4 not in norm and 5 not in norm   # empty-normalized excluded
    assert sum(norm.values()) == 5           # 7 docs - 2 punctuation-only
    multi = multi_exact_dedup(docs)
    raw_ref = {(r.content_hash, r.doc_id, r.n_copies)
               for r in exact_dedup(docs).collect()}
    raw_got = {(r.content_hash, r.doc_id, r.n_copies)
               for r in multi.filter(F.col("kind") == "raw").collect()}
    assert raw_got == raw_ref
    norm_got = {r.doc_id: r.n_copies
                for r in multi.filter(F.col("kind") == "norm").collect()}
    assert norm_got == norm


def test_neardup_convergence_guard(spark):
    """require_convergence_within pins the round budget: a graph whose
    diameter needs more rounds raises ConvergenceError loudly (the gated
    oracle unrolls a fixed number of rounds), while a shallow graph
    passes under the same bound. Exhausting max_iter raises as well."""
    from fstd2pandas_spark.operators.llm.cluster import (
        ConvergenceError, neardup_components)

    chain = spark.createDataFrame([(a, a + 1) for a in range(12)],
                                  "doc_a int, doc_b int")
    with pytest.raises(ConvergenceError):
        neardup_components(chain, require_convergence_within=2)
    clique = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "doc_a int, doc_b int")
    got = {r.node: r.component
           for r in neardup_components(
               clique, require_convergence_within=2).collect()}
    assert got == {n: 0 for n in range(4)}

    # without the guard, exhausting max_iter mid-change must RAISE too:
    # a partial merge reads exactly like a converged one, so the
    # 13-node chain (diameter 12) never comes back half-labelled
    with pytest.raises(ConvergenceError, match="max_iter=2"):
        neardup_components(chain, max_iter=2).collect()


def test_neardup_releases_superseded_checkpoints(spark):
    """Each propagation round must release the previous label
    snapshot's storage (the shared operators/iterative.py machinery —
    the pagerank storage test's twin): a long chain needing many
    rounds must not pin one label snapshot per round, and a call that
    raises ConvergenceError must pin none."""
    from fstd2pandas_spark.operators.llm.cluster import (
        ConvergenceError, neardup_components)

    sc = spark.sparkContext
    before = sc._jsc.sc().getPersistentRDDs().size()
    chain = spark.createDataFrame([(a, a + 1) for a in range(24)],
                                  "doc_a int, doc_b int")
    # a 25-chain takes 25 min-label rounds to converge (24 changing
    # plus the quiet one), past the default max_iter of 20
    neardup_components(chain, max_iter=30).collect()
    after = sc._jsc.sc().getPersistentRDDs().size()
    # only the final labels snapshot may remain pinned (edges and every
    # superseded label frame are released); allow one slot of slack for
    # lazy GC of unrelated state
    assert after - before <= 2, (before, after)
    with pytest.raises(ConvergenceError):
        neardup_components(chain)
    assert sc._jsc.sc().getPersistentRDDs().size() <= after


def test_neardup_reliable_checkpoint_same_components(spark, tmp_path):
    """checkpoint_dir switches label state to RELIABLE checkpoints
    (fault-tolerant on a real cluster): files appear under the
    directory and the components are identical to the localCheckpoint
    path — determinism is independent of the checkpoint mechanism."""
    import os

    from fstd2pandas_spark.operators.llm.cluster import neardup_components

    chain = spark.createDataFrame([(a, a + 1) for a in range(8)],
                                  "doc_a int, doc_b int")
    local = {r.node: r.component
             for r in neardup_components(chain).collect()}
    ckdir = str(tmp_path / "cc_ckpt")
    reliable = {r.node: r.component
                for r in neardup_components(
                    chain, checkpoint_dir=ckdir).collect()}
    assert reliable == local == {n: 0 for n in range(9)}
    found = [f for _root, _d, files in os.walk(ckdir) for f in files]
    assert found, "no reliable checkpoint files written"


def _union_find_components(edges):
    """Driver-side oracle: node -> min node id of its component, over
    the non-NULL endpoints of ``edges``."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for x in (a, b):
            if x is not None:
                find(x)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("case", [
    "null_endpoints", "self_loop_dup_reversed", "int", "bigint", "string",
    "shuffled_chain", "near_clique"])
def test_neardup_components_equivalence(spark, case):
    """Rows, schema and changing-round count on the corner graphs, each
    checked against a union-find oracle AND against the rows the
    join-based propagation returned (pinned below): a NULL endpoint is
    one (NULL, NULL) row that never joins a component, a self-loop is
    its own component, duplicate and reversed pairs change nothing,
    and the id type passes through unchanged."""
    import random

    from fstd2pandas_spark.operators.llm.cluster import (
        ConvergenceError, neardup_components)

    rng = random.Random(11)
    ids = list(range(100, 112))
    rng.shuffle(ids)
    chain = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    clique = [(a, b) for a in range(8) for b in range(a + 1, 8)
              if (a, b) != (0, 1)] + [(20, 21)]
    # (edges, DDL, rows the join-based loop returned, changing rounds)
    cases = {
        "null_endpoints": (
            [(1, 2), (2, None), (None, 5)], "doc_a bigint, doc_b bigint",
            {1: 1, 2: 1, 5: 5, None: None}, 1),
        "self_loop_dup_reversed": (
            [(7, 7), (1, 2), (2, 1), (1, 2), (3, 2), (2, 3)],
            "doc_a int, doc_b int", {7: 7, 1: 1, 2: 1, 3: 1}, 2),
        "int": ([(3, 1), (4, 3), (9, 8)], "doc_a int, doc_b int",
                {1: 1, 3: 1, 4: 1, 8: 8, 9: 8}, 2),
        "bigint": ([(2 ** 40 + 1, 2 ** 40), (5, 2 ** 40 + 1)],
                   "doc_a bigint, doc_b bigint",
                   {2 ** 40: 5, 2 ** 40 + 1: 5, 5: 5}, 2),
        "string": ([("b", "a"), ("c", "b"), ("x", "y")],
                   "doc_a string, doc_b string",
                   {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}, 2),
        # 100 sits third of 12 in the shuffled chain: 9 hops to the end
        "shuffled_chain": (chain, "doc_a int, doc_b int",
                           {n: 100 for n in ids}, 9),
        "near_clique": (clique, "doc_a int, doc_b int",
                        {**{n: 0 for n in range(8)}, 20: 20, 21: 20}, 2),
    }
    edges, ddl, pinned, rounds = cases[case]
    pairs = spark.createDataFrame(edges, ddl)
    out = neardup_components(pairs)
    got = {r.node: r.component for r in out.collect()}
    assert out.count() == len(got)   # one row per node, NULL included
    oracle = _union_find_components(edges)
    if any(None in e for e in edges):
        oracle[None] = None
    assert got == oracle == pinned
    id_type = ddl.split(",")[0].split()[1]
    assert out.schema.simpleString() == \
        f"struct<node:{id_type},component:{id_type}>"
    neardup_components(pairs, require_convergence_within=rounds).collect()
    if rounds:
        with pytest.raises(ConvergenceError):
            neardup_components(pairs,
                               require_convergence_within=rounds - 1)
    with pytest.raises(ValueError, match="max_iter"):
        neardup_components(pairs, max_iter=0)


def test_neardup_components_job_budget(spark):
    """Each propagation round is its checkpoint's jobs only (the map
    stage and the result stage under AQE): the pair plan runs once at
    the build and the changed-label count is observed in-plan, not
    counted by its own action. A 5-chain takes 5 rounds (4 changing
    plus the one that sees no change)."""
    import time as _time

    from fstd2pandas_spark.operators.llm.cluster import neardup_components

    chain = spark.createDataFrame([(a, a + 1) for a in range(4)],
                                  "doc_a int, doc_b int")
    sc = spark.sparkContext
    sc.setJobGroup("neardup-job-budget", "neardup_components job budget")
    try:
        got = {r.node: r.component
               for r in neardup_components(chain).collect()}
    finally:
        sc.setJobGroup(None, None)
    _time.sleep(0.5)   # listener-bus drain
    jobs = list(sc.statusTracker().getJobIdsForGroup("neardup-job-budget"))
    assert got == {n: 0 for n in range(5)}
    rounds = 5
    assert len(jobs) <= 2 * rounds + 2, len(jobs)


def test_repetition_metrics_fold_and_explode(spark):
    from fstd2pandas_spark.operators.llm import repetition_metrics

    rows = [
        (0, "a b a b a b"),            # top bigram 'a b' x3 of 5
        (1, "x"),                      # single token: no bigrams
        (2, "l1\nl2\nl1\nl3"),         # one duplicated line of 4
        (3, "all distinct words here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for method in ("fold", "explode"):
        got = {r["doc_id"]: r for r in
               repetition_metrics(df, method=method).collect()}
        assert got[0]["top_bigram_count"] == 3
        assert got[0]["n_bigrams"] == 5
        assert got[0]["top_bigram_frac"] == 0.6
        assert got[0]["n_tok_distinct"] == 2
        assert got[0]["dup_word_frac"] == pytest.approx(4 / 6, abs=1e-6)
        # sequence(1, 0) guard: a 1-token doc must yield zero bigrams
        assert got[1]["top_bigram_count"] == 0
        assert got[1]["n_bigrams"] == 0
        assert got[1]["top_bigram_frac"] == 0.0
        assert got[2]["n_lines"] == 4
        assert got[2]["n_lines_distinct"] == 3
        assert got[2]["dup_line_frac"] == 0.25
        assert got[3]["dup_word_frac"] == 0.0
        assert got[3]["top_bigram_count"] == 1


def test_pii_scrub_and_urls(spark):
    from fstd2pandas_spark.operators.llm.scrub import (
        pii_counts, redact_pii, url_metrics)

    rows = [
        (0, "mail me at jane.doe+x@corp.example.org or call +1 555-0172 33"),
        (1, "server 192.168.0.17 and 10.0.0.1 responded"),
        (2, "see https://docs.example.com/a/b and http://evil.example.net"),
        (3, "clean text with no sensitive spans"),
        # clean FIRST url, blocked SECOND url — the flag must still fire
        (4, "ok https://fine.example.org/x then https://docs.example.com/y"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in url_metrics(
        redact_pii(pii_counts(df)),
        blocklist=["docs.example.com"]).collect()}

    assert out[0]["n_email"] == 1 and out[0]["n_phone"] == 1
    assert "<EMAIL>" in out[0]["redacted"]
    assert "<PHONE>" in out[0]["redacted"]
    assert "jane" not in out[0]["redacted"]
    # dotted quads are IPV4, not phone numbers
    assert out[1]["n_ipv4"] == 2 and out[1]["n_phone"] == 0
    assert out[1]["redacted"].count("<IPV4>") == 2
    assert out[2]["n_urls"] == 2
    assert out[2]["first_domain"] == "docs.example.com"
    assert out[2]["blocked_domain"] is True
    assert out[3]["n_email"] + out[3]["n_ipv4"] + out[3]["n_phone"] == 0
    assert out[3]["redacted"] == out[3]["text"]
    assert out[3]["first_domain"] == "" and out[3]["blocked_domain"] is False
    assert out[3]["all_domains"] == []
    # a clean first URL must not shield a blocked later one
    assert out[4]["first_domain"] == "fine.example.org"
    assert out[4]["all_domains"] == ["fine.example.org", "docs.example.com"]
    assert out[4]["blocked_domain"] is True


def test_dedup_lines_keeps_first_occurrence(spark):
    from fstd2pandas_spark.operators.llm.dedup import dedup_lines

    rows = [
        (0, "keep\nrepeat\nmiddle\nrepeat\nend\nrepeat"),
        (1, "only one line"),
        (2, "a\na\na"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["line_deduped"] for r in dedup_lines(df).collect()}
    assert got[0] == "keep\nrepeat\nmiddle\nend"
    assert got[1] == "only one line"
    assert got[2] == "a"


def test_boilerplate_span_stats(spark):
    from fstd2pandas_spark.operators.llm.dedup import boilerplate_span_stats

    rows = [
        (0, "the quick brown fox jumps"),     # shares 'the quick brown'
        (1, "the quick brown cat sleeps"),    #   and 'quick brown' is k=3
        (2, "completely different words entirely"),
        (3, "so"),                            # < k tokens: zero spans
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           boilerplate_span_stats(df, k=3, min_df=2).collect()}
    # docs 0/1 share exactly one distinct 3-gram: 'the quick brown'
    assert got[0]["n_spans"] == 3 and got[0]["n_boilerplate_spans"] == 1
    assert got[1]["n_spans"] == 3 and got[1]["n_boilerplate_spans"] == 1
    assert got[0]["boilerplate_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert got[2]["n_boilerplate_spans"] == 0
    assert got[3]["n_spans"] == 0 and got[3]["boilerplate_frac"] == 0.0


def _make_wav(rate=8000, freq=440.0, dur=0.25, bits=16, n_ch=1):
    import struct

    n = int(rate * dur)
    t = np.arange(n) / rate
    mono = 0.5 * np.sin(2 * np.pi * freq * t)
    sig = np.repeat(mono[:, None], n_ch, axis=1).ravel()
    if bits == 16:
        data = (sig * 32767).astype("<i2").tobytes()
    else:
        data = ((sig * 127) + 128).astype(np.uint8).tobytes()
    block = n_ch * bits // 8
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * block, block, bits)
    return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def test_wav_decode_and_features(spark):
    from fstd2pandas_spark.operators.llm.multimodal import (
        FEATURE_DIM, decode_wav, extract_features)

    samples, rate = decode_wav(_make_wav())
    assert rate == 8000 and len(samples) == 2000
    assert abs(float(np.sqrt(np.mean(samples ** 2))) - 0.5 / np.sqrt(2)) < 0.01
    # stereo 8-bit averages channels and rescales
    s8, r8 = decode_wav(_make_wav(bits=8, n_ch=2))
    assert r8 == 8000 and len(s8) == 2000 and np.max(np.abs(s8)) <= 1.0
    assert decode_wav(b"NOTAWAV" + b"\0" * 64) is None

    rows = [(0, "audio", None, None, None, 250, bytearray(_make_wav())),
            (1, "audio", None, None, None, 250,
             bytearray(_make_wav(bits=8, n_ch=2))),
            (2, "audio", None, None, None, None, bytearray(b"\x01\x02"))]
    from fstd2pandas_spark.operators.llm.multimodal import MEDIA_SCHEMA
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["asset_id"]: r["feature"]
             for r in extract_features(df).collect()}
    assert all(len(v) == FEATURE_DIM for v in feats.values())
    # real audio features: duration 0.25 s, rms ~ 0.354
    assert abs(feats[0][0] - 0.25) < 1e-6
    assert abs(feats[0][1] - 0.3535) < 0.01
    # same signal at different encodings lands close in feature space
    assert abs(feats[0][1] - feats[1][1]) < 0.02
    # undecodable payload still yields the deterministic opaque vector
    assert max(feats[2]) <= 1.0


def test_stratified_hash_sample(spark, docs):
    from fstd2pandas_spark.operators.llm.sampling import (
        hash_sample, stratified_hash_sample)

    fr = {"en": 1.0, "fr": 0.5, "de": 0.0}
    out = stratified_hash_sample(docs, fr, strata_col="lang")
    rates = {r["lang"]: r for r in out.groupBy("lang").agg(
        F.avg(F.col("sampled").cast("double")).alias("rate")).collect()}
    assert rates["en"]["rate"] == 1.0
    assert rates["de"]["rate"] == 0.0
    assert 0.2 < rates["fr"]["rate"] < 0.8
    # determinism: membership is a pure function of (id, seed) — a
    # repartitioned run picks the identical rows
    a = {r["doc_id"] for r in out.filter("sampled").collect()}
    b = {r["doc_id"] for r in
         stratified_hash_sample(docs.repartition(7), fr, strata_col="lang")
         .filter("sampled").collect()}
    assert a == b
    # changing one stratum's fraction never reshuffles another stratum
    c = stratified_hash_sample(docs, {**fr, "fr": 0.9}, strata_col="lang")
    kept_en_before = {r["doc_id"] for r in
                      out.filter("sampled AND lang = 'en'").collect()}
    kept_en_after = {r["doc_id"] for r in
                     c.filter("sampled AND lang = 'en'").collect()}
    assert kept_en_before == kept_en_after
    with pytest.raises(ValueError):
        stratified_hash_sample(docs, {"en": 1.5})


def test_stratified_reservoir_sample_exact_topk(spark, docs):
    """The kept set per stratum is EXACTLY the k smallest
    md5(seed_id) priorities (hand-recomputed with hashlib), ranks are
    1..k ascending, a stratum smaller than k keeps all rows, the
    two-phase salted plan equals a single-phase run for any n_salts,
    and membership survives repartitioning."""
    import hashlib

    from fstd2pandas_spark.operators.llm.sampling import (
        stratified_reservoir_sample)

    K = 5
    out = stratified_reservoir_sample(docs, K, strata_col="lang")
    got = {(r["lang"], r["doc_id"]): r["resv_rank"] for r in
           out.select("lang", "doc_id", "resv_rank").collect()}

    rows = docs.select("lang", "doc_id").collect()
    by_lang = {}
    for r in rows:
        pri = hashlib.md5(f"resv1_{r['doc_id']}".encode()).hexdigest()
        by_lang.setdefault(r["lang"], []).append((pri, r["doc_id"]))
    want = {}
    for lang, ps in by_lang.items():
        for i, (_pri, did) in enumerate(sorted(ps)[:K], start=1):
            want[(lang, did)] = i
    assert got == want

    # stratum smaller than k keeps everything, ranked 1..n
    tiny = spark.createDataFrame(
        [("a", i) for i in range(3)] + [("b", i) for i in range(10, 22)],
        "lang string, doc_id long")
    t = stratified_reservoir_sample(tiny, 5, strata_col="lang")
    cnt = {r["lang"]: r["n"] for r in
           t.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert cnt == {"a": 3, "b": 5}

    # two-phase pruning is lossless for any salt count, and
    # partitioning-independent
    for ns in (1, 3, 64):
        alt = {(r["lang"], r["doc_id"]): r["resv_rank"] for r in
               stratified_reservoir_sample(
                   docs.repartition(7), K, strata_col="lang",
                   n_salts=ns)
               .select("lang", "doc_id", "resv_rank").collect()}
        assert alt == want, ns

    with pytest.raises(ValueError, match="k must"):
        stratified_reservoir_sample(docs, 0)
    with pytest.raises(ValueError, match="n_salts"):
        stratified_reservoir_sample(docs, 5, n_salts=0)


def test_weighted_reservoir_sample_lottery_exact(spark, docs):
    """The kept set is EXACTLY the k smallest best-ticket priorities
    (min over w md5 tickets per id — hand-recomputed with hashlib),
    weight bias is real (weight-4 ids dominate weight-1 ids at the
    same k), NULL weights/ids are excluded, two-phase equals
    single-phase for any n_salts, and out-of-contract weights raise
    in-plan."""
    import hashlib

    import pytest as _pytest

    from fstd2pandas_spark.operators.llm.sampling import (
        weighted_reservoir_sample)

    K = 10
    wdf = docs.select("doc_id", "lang",
                      (F.col("doc_id") % 4 + 1).cast("int").alias("w"))
    got = {r["doc_id"]: r["wresv_rank"] for r in
           weighted_reservoir_sample(wdf, K, "w")
           .select("doc_id", "wresv_rank").collect()}

    rows = wdf.select("doc_id", "w").collect()
    pris = sorted(
        (min(hashlib.md5(f"wres1_{r['doc_id']}_{c}".encode())
             .hexdigest() for c in range(1, r["w"] + 1)), r["doc_id"])
        for r in rows)
    want = {did: i for i, (_p, did) in enumerate(pris[:K], start=1)}
    assert got == want

    # weight bias: among ids 0..499 give half weight 8, half weight 1;
    # the top-40 should be dominated by the heavy half
    bias = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, 8).otherwise(1)
        .cast("int").alias("w"))
    kept = [r["doc_id"] for r in
            weighted_reservoir_sample(bias, 40, "w").collect()]
    heavy = sum(1 for d in kept if d % 2 == 0)
    assert heavy > 28   # E[heavy] ~ 8/9 * 40 ~ 35; fixed outcome

    # per-stratum + n_salts invariance + repartition stability
    strat = {(r["lang"], r["doc_id"]): r["wresv_rank"] for r in
             weighted_reservoir_sample(wdf, 3, "w", strata_col="lang")
             .collect()}
    for ns in (1, 64):
        alt = {(r["lang"], r["doc_id"]): r["wresv_rank"] for r in
               weighted_reservoir_sample(
                   wdf.repartition(7), 3, "w", strata_col="lang",
                   n_salts=ns).collect()}
        assert alt == strat, ns

    # NULL weight / NULL id rows are excluded, not NULL-ranked
    nw = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (4, 1)],
        "doc_id long, w int")
    kept_ids = {r["doc_id"] for r in
                weighted_reservoir_sample(nw, 10, "w").collect()}
    assert kept_ids == {1, 4}

    # a stratum SMALLER than k keeps all its rows with dense 1..n
    # ranks (k > n must not drop or NULL-rank anything)
    small = spark.createDataFrame(
        [(1, "a", 4), (2, "a", 1), (3, "b", 2)],
        "doc_id long, lang string, w int")
    got_small = {(r["lang"], r["doc_id"]): r["wresv_rank"]
                 for r in weighted_reservoir_sample(
                     small, 7, "w", strata_col="lang").collect()}
    assert set(got_small) == {("a", 1), ("a", 2), ("b", 3)}
    assert sorted(v for (s, _), v in got_small.items() if s == "a") \
        == [1, 2]
    assert got_small[("b", 3)] == 1

    # reserved scratch/rank names on the INPUT fail loudly instead of
    # silently overwriting caller data (shared _salted_topk guard)
    for bad_col in ("_rk", "_salt", "_pr", "wresv_rank"):
        clash_df = wdf.withColumn(bad_col, F.lit(1))
        with _pytest.raises(ValueError, match="reserve"):
            weighted_reservoir_sample(clash_df, 3, "w")

    with _pytest.raises(Exception, match="MAX_SAMPLE_WEIGHT"):
        weighted_reservoir_sample(
            spark.createDataFrame([(1, 0)], "doc_id long, w int"),
            5, "w").collect()
    with _pytest.raises(Exception, match="MAX_SAMPLE_WEIGHT"):
        weighted_reservoir_sample(
            spark.createDataFrame([(1, 2000)], "doc_id long, w int"),
            5, "w").collect()
    with _pytest.raises(ValueError, match="integer column"):
        weighted_reservoir_sample(
            spark.createDataFrame([(1, 1.5)], "doc_id long, w double"),
            5, "w")


def test_gopher_filter_verdict(spark):
    from fstd2pandas_spark.operators.llm import (
        quality_score, repetition_metrics)
    from fstd2pandas_spark.operators.llm.text import gopher_filter

    good = " ".join(f"the word{i} and note{i}" for i in range(30))
    rows = [(0, good),
            (1, "too short"),                       # n_tokens < 50
            (2, ("spam " * 60).strip())]            # top_bigram_frac = 1
    df = repetition_metrics(quality_score(
        spark.createDataFrame(rows, ["doc_id", "text"])))
    got = {r["doc_id"]: r for r in gopher_filter(df).collect()}
    assert got[0]["gopher_keep"] is True and got[0]["gopher_fails"] == 0
    assert got[1]["gopher_keep"] is False and got[1]["gopher_fails"] >= 1
    assert got[2]["gopher_keep"] is False  # repetition rules fire
    # composes with a metric subset: only n_tokens present
    sub = spark.createDataFrame([(0, 100), (1, 3)], ["doc_id", "n_tokens"])
    out = {r["doc_id"]: r["gopher_keep"]
           for r in gopher_filter(sub).collect()}
    assert out == {0: True, 1: False}
    with pytest.raises(ValueError):
        gopher_filter(spark.createDataFrame([(1,)], ["x"]))


def test_simhash_hamming_pairs_match_bruteforce(spark, docs):
    from fstd2pandas_spark.operators.llm import simhash
    from fstd2pandas_spark.operators.llm.dedup import simhash_hamming_pairs

    sub = docs.limit(60)
    sigs = {r["doc_id"]: r["simhash"]
            for r in simhash(sub).select("doc_id", "simhash").collect()}
    expected = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in sigs for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {(r["doc_a"], r["doc_b"], r["hamming"])
           for r in simhash_hamming_pairs(sub, bits=16,
                                          max_hamming=3).collect()}
    assert got == expected
    assert expected, "fixture should contain at least one near pair"
    # radius > 0 finds pairs exact-signature bucketing cannot
    assert any(h > 0 for (_, _, h) in got)


def test_simhash_pairs_quote_the_text_column(spark, docs):
    """The DSL pair path and the fused report share one SimHash
    definition, so both accept a text column that needs quoting and
    report the same pairs."""
    from fstd2pandas_spark.operators.llm.dedup import (
        simhash_hamming_pairs, simhash_report_rows)

    sub = docs.limit(60).withColumnRenamed("text", "doc text")
    dsl = {(r.doc_a, r.doc_b, r.hamming) for r in simhash_hamming_pairs(
        sub, text_col="doc text", bits=16, max_hamming=3).collect()}
    fused = {(r.v1, r.v2, r.v3) for r in simhash_report_rows(
        sub, text_col="doc text", bits=16, max_hamming=3)
        .filter("kind = 'pair'").collect()}
    assert dsl, "fixture should contain at least one near pair"
    assert dsl == fused


def test_simhash_report_rows_match_two_frame_report(spark, docs):
    """The fused single-plan report (simhash_report_rows) must emit
    exactly the union of the two-frame simhash_report's buckets and
    pairs — including the minimal-agreeing-block pair dedup replacing
    the old distinct."""
    from pyspark.sql import functions as F
    from fstd2pandas_spark.operators.llm.dedup import (
        simhash_report, simhash_report_rows,
    )

    sub = docs.limit(80)
    b, p = simhash_report(sub, bits=48, max_hamming=3)
    expected = sorted(
        [("bucket", r["simhash"], r["n_docs"], r["min_doc"])
         for r in b.collect()]
        + [("pair", r["doc_a"], r["doc_b"], r["hamming"])
           for r in p.collect()]
    )
    got = sorted((r["kind"], r["v1"], r["v2"], r["v3"])
                 for r in simhash_report_rows(sub, bits=48,
                                              max_hamming=3).collect())
    assert got == expected
    assert any(k == "pair" for k, *_ in got), "fixture needs a near pair"


def test_chunk_documents_windows(spark):
    from fstd2pandas_spark.operators.llm.sampling import chunk_documents

    rows = [(0, " ".join(f"t{i}" for i in range(100))),   # 100 tokens
            (1, "short doc only")]                        # 3 tokens
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_documents(df, chunk_tokens=32, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 100 tokens, stride 24: chunks start at 0,24,48,72 -> 4 chunks
    c0 = sorted(by_doc[0], key=lambda r: r["chunk_id"])
    assert len(c0) == 4
    assert c0[0]["chunk_text"].split()[:2] == ["t0", "t1"]
    assert c0[1]["chunk_text"].split()[0] == "t24"
    # consecutive chunks share `overlap` tokens of context
    assert c0[0]["chunk_text"].split()[-8:] == c0[1]["chunk_text"].split()[:8]
    # final window is short but covers the tail
    assert c0[3]["chunk_n_tokens"] == 100 - 72
    assert c0[3]["chunk_text"].split()[-1] == "t99"
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_n_tokens"] == 3
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_review_fixes_nulls_and_edges(spark):
    """Regression pack for the round-6 review findings."""
    from fstd2pandas_spark.operators.llm.cluster import (
        ConvergenceError, neardup_components)
    from fstd2pandas_spark.operators.llm.dedup import (
        dedup_lines, multi_exact_dedup, simhash_hamming_pairs)
    from fstd2pandas_spark.operators.llm.sampling import chunk_documents
    from fstd2pandas_spark.operators.llm.scrub import pii_counts

    # NULL text: multi_exact_dedup keeps a raw NULL-hash group (parity
    # with exact_dedup and the oracle's GROUP BY md5(text))
    df = spark.createDataFrame(
        [(0, "same"), (1, "same"), (2, None)], ["doc_id", "text"])
    raw = {r["content_hash"]: r for r in
           multi_exact_dedup(df).filter("kind = 'raw'").collect()}
    assert None in raw and raw[None]["doc_id"] == 2
    assert sum(r["n_copies"] for r in raw.values()) == 3

    # NULL text: chunk_documents keeps the row as one empty chunk
    ch = chunk_documents(df, chunk_tokens=4, overlap=1)
    assert ch.filter("doc_id = 2").count() == 1

    # counts agree with redaction: a digit-run inside an email
    # local-part is not double-counted as a phone number
    p = spark.createDataFrame(
        [(0, "contact user199912345678@corp.example.com now")],
        ["doc_id", "text"])
    row = pii_counts(p).collect()[0]
    assert row["n_email"] == 1 and row["n_phone"] == 0

    # regex-metacharacter separators split literally and round-trip
    d = spark.createDataFrame([(0, "a.b.a.c")], ["doc_id", "text"])
    assert dedup_lines(d, sep=".").collect()[0]["line_deduped"] == "a.b.c"

    # even block sizing: a guard-passing (bits, max_hamming) combo whose
    # ceil sizing would push the last block past the bit width must
    # still match brute force (no degenerate all-pairs block)
    docs5 = spark.createDataFrame(
        [(i, f"w{i} x{i} common tail tokens here") for i in range(12)],
        ["doc_id", "text"])
    from fstd2pandas_spark.operators.llm import simhash
    sigs = {r["doc_id"]: r["simhash"]
            for r in simhash(docs5).select("doc_id", "simhash").collect()}
    expected = {(a, b) for a in sigs for b in sigs
                if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 4}
    got = {(r["doc_a"], r["doc_b"]) for r in
           simhash_hamming_pairs(docs5, bits=16, max_hamming=4).collect()}
    assert got == expected

    # convergence guard >= max_iter still fails loudly on a graph whose
    # diameter exceeds max_iter (never silently return unconverged)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["doc_a", "doc_b"])
    with pytest.raises(ConvergenceError):
        neardup_components(chain, max_iter=2, require_convergence_within=2)


def test_review2_null_contracts_and_scrub(spark):
    """Second review pack: NULL-metric contracts and blocklist evasion."""
    from fstd2pandas_spark.operators.llm import (
        quality_score, repetition_metrics)
    from fstd2pandas_spark.operators.llm.text import gopher_filter
    from fstd2pandas_spark.operators.llm.scrub import url_metrics

    df = spark.createDataFrame(
        [(0, None), (1, "a real document with several words here")],
        ["doc_id", "text"])
    # fold and explode agree on NULL text: every metric NULL
    for method in ("fold", "explode"):
        r = {x["doc_id"]: x for x in
             repetition_metrics(df, method=method).collect()}
        for c in ("top_bigram_count", "n_bigrams", "top_bigram_frac",
                  "dup_word_frac"):
            assert r[0][c] is None, (method, c)
            assert r[1][c] is not None, (method, c)

    # NULL metrics FAIL gopher rules (never pass as a clean empty doc)
    g = {x["doc_id"]: x for x in
         gopher_filter(quality_score(df)).collect()}
    assert g[0]["gopher_keep"] is False and g[0]["gopher_fails"] >= 1

    # userinfo-form URLs cannot evade the domain blocklist
    u = spark.createDataFrame(
        [(0, "see https://user@blocked.example.com/x")], ["doc_id", "text"])
    row = url_metrics(u, blocklist=["blocked.example.com"]).collect()[0]
    assert row["first_domain"] == "blocked.example.com"
    assert row["blocked_domain"] is True


def test_duplicate_spans_semantics(spark):
    """Lee et al. substring dedup: corpus-wide k-token window hashes,
    merged spans, span removal; within-document repeats count too."""
    from fstd2pandas_spark.operators.llm.dedup import duplicate_spans

    df = spark.createDataFrame([
        (1, "a b c d e f g h X Y a b c d e f g h Z"),
        (2, "unique words only here nothing repeats at all in this one"),
        (3, "a b c d e f g h tail tail2 tail3"),
        (4, None),
    ], "doc_id long, text string")
    rows = {r.doc_id: r for r in duplicate_spans(df, k=8).collect()}
    # doc 1: the 8-gram repeats at pos 0 and 10 (in-doc) and in doc 3
    assert (rows[1].n_dup_spans, rows[1].n_dup_tokens) == (2, 16)
    assert rows[1].substr_cleaned == "x y z"  # lowercased kept tokens
    assert (rows[2].n_dup_spans, rows[2].n_dup_tokens) == (0, 0)
    assert rows[2].substr_cleaned == rows[2].text
    assert (rows[3].n_dup_spans, rows[3].n_dup_tokens) == (1, 8)
    assert rows[3].substr_cleaned == "tail tail2 tail3"
    assert rows[4].n_dup_spans is None and rows[4].substr_cleaned is None
    # overlapping windows merge into ONE maximal span
    df2 = spark.createDataFrame([
        (1, "p q r s t u v w x y tail1"),
        (2, "p q r s t u v w x y tail2"),
    ], "doc_id long, text string")
    r2 = {r.doc_id: r for r in duplicate_spans(df2, k=8).collect()}
    # 10 shared tokens -> 3 dup windows (pos 0,1,2) -> one span of 10
    assert (r2[1].n_dup_spans, r2[1].n_dup_tokens) == (1, 10)
    assert r2[1].substr_cleaned == "tail1"


def test_duplicate_spans_viral_hash_no_blowup(spark):
    """A boilerplate window shared by EVERY document is a semi-join,
    not a pair-join: flagged rows == occurrence rows, so the output
    stays linear in the corpus (no d^2 explosion on one reducer)."""
    from fstd2pandas_spark.operators.llm.dedup import duplicate_spans

    boiler = "this page is served by the example dot com network"
    df = spark.createDataFrame(
        [(i, f"{boiler} unique{i} filler{i} words{i}") for i in range(60)],
        "doc_id long, text string")
    rows = duplicate_spans(df, k=8).collect()
    assert len(rows) == 60                       # one row per doc, always
    assert all(r.n_dup_tokens >= 8 for r in rows)
    plan = duplicate_spans(df, k=8)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_pq_encode_and_adc(spark, emb):
    """Product quantization: codes in range, packing consistent,
    reconstruction closer to the source than to a random vector, and
    ADC top-k recall well above chance on the trained codebook."""
    from fstd2pandas_spark.operators.llm.similarity import (
        cosine_topk, pq_adc_topk, pq_encode, pq_train)

    cb = pq_train(emb, m=8, ksub=16, dim=64, iters=1)
    assert len(cb) == 8 and all(len(sub) == 16 for sub in cb)
    rows = pq_encode(emb, m=8, ksub=16, dim=64, codebook=cb) \
        .select("vec_id", "pq_codes", "pq_packed").collect()
    for r in rows[:10]:
        assert len(r.pq_codes) == 8
        assert all(0 <= c < 16 for c in r.pq_codes)
        assert r.pq_packed == sum(c << (4 * j)
                                  for j, c in enumerate(r.pq_codes))
    # codes must discriminate: far more distinct code words than 1
    assert len({r.pq_packed for r in rows}) > len(rows) // 4

    adc = pq_adc_topk(emb, k=5, m=8, ksub=16, dim=64, n_queries=10,
                      codebook=cb).collect()
    exact = cosine_topk(emb, k=5, n_queries=10).collect()
    eq, aq = {}, {}
    for r in exact:
        eq.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in adc:
        aq.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert r.rank >= 1
    hits = sum(len(aq[q] & eq[q]) for q in aq)
    total = sum(len(eq[q]) for q in aq)
    # top-5 of ~N vectors: chance recall ~1%; the trained codebook must
    # do far better even on unclustered synthetic embeddings
    assert total and hits / total >= 0.08, f"recall {hits}/{total}"


def test_pq_wide_codes_unpacked(spark, emb):
    """m * log2(ksub) > 63: the packed long is NULL, the code array is
    still the representation."""
    from fstd2pandas_spark.operators.llm.similarity import pq_encode

    r = pq_encode(emb, m=16, ksub=16, dim=64).limit(3).collect()
    assert all(x.pq_packed is None for x in r)
    assert all(len(x.pq_codes) == 16 for x in r)


def test_ivf_pq_topk(spark, emb):
    """Composed IVF-PQ: valid dense ranks, candidates restricted to the
    probed cells (a subset of the brute ADC result set), recall above
    chance, no cartesian product in the plan."""
    from fstd2pandas_spark.operators.llm.similarity import (
        cosine_topk, ivf_pq_topk, pq_train)

    cb = pq_train(emb, m=8, ksub=16, dim=64, iters=1)
    rows = ivf_pq_topk(emb, k=5, n_cells=8, nprobe=2, m=8, ksub=16,
                       dim=64, n_queries=10, codebook=cb).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, lst in by_q.items():
        lst = sorted(lst, key=lambda r: r.rank)
        assert [r.rank for r in lst] == list(range(1, len(lst) + 1))
        assert all(a.adc >= b.adc for a, b in zip(lst, lst[1:]))
    exact = cosine_topk(emb, k=5, n_queries=10).collect()
    eq = {}
    for r in exact:
        eq.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len({r.neighbor_id for r in by_q.get(q, [])} & s)
               for q, s in eq.items())
    total = sum(len(s) for s in eq.values())
    assert total and hits / total >= 0.05, f"recall {hits}/{total}"

    plan = ivf_pq_topk(emb, k=5, n_queries=3,
                       codebook=cb)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_sample_video_frames_caps_malformed_timing(spark):
    """Container timing is corruption-controlled: an absurd duration
    must truncate at max_frames_per_asset instead of buffering millions
    of rows in one task."""
    from fstd2pandas_spark.operators.llm.multimodal import (
        sample_video_frames)

    df = spark.createDataFrame(
        [(1, "video", None, None, None, 2_000_000_000,
          bytearray(b"not a container"))],
        "asset_id long, kind string, mime string, width int, "
        "height int, duration_ms int, payload binary")
    n = sample_video_frames(df, every_ms=1000,
                            max_frames_per_asset=50).count()
    assert n == 50


def test_canonical_url_dedup(spark):
    """Tracking-parameter and case variants of one URL collapse to one
    canonical representative; distinct URLs stay apart."""
    from fstd2pandas_spark.operators.llm.scrub import (
        canonical_url_col, canonical_url_dedup)

    df = spark.createDataFrame([
        (1, "http://Example.com/a?utm_source=feed"),
        (2, "HTTP://example.COM:80/a"),
        (3, "http://example.com/a#section"),
        (4, "http://example.com/b"),
        (5, None),
    ], "doc_id long, url string")
    out = {r.canonical_url: (r.doc_id, r.n_copies)
           for r in canonical_url_dedup(df).collect()}
    assert out["http://example.com/a"] == (1, 3)
    assert out["http://example.com/b"] == (4, 1)
    assert out[None] == (5, 1)

    # review pins: (a) a tracking param removed MID-query must not
    # turn the next parameter's separator into '?' (the old single
    # pass produced '?x=2?y=4', so the tracking variant never
    # collapsed onto its clean twin); (b) ':80' is the default port
    # of http ONLY — on https it is a real port and must survive
    from pyspark.sql import Row
    c = spark.createDataFrame([
        Row(u="http://h.com/p?utm_a=1&x=2&utm_b=3&y=4"),
        Row(u="http://h.com/p?x=2&y=4"),
        Row(u="http://h.com/p?utm_a=1&utm_b=2"),
        Row(u="https://h.com:80/p"),
        Row(u="https://h.com:443/p"),
        Row(u="http://h.com:80/p"),
    ]).select(canonical_url_col(F.col("u")).alias("c")).collect()
    got = [r["c"] for r in c]
    assert got[0] == got[1] == "http://h.com/p?x=2&y=4", got
    assert got[2] == "http://h.com/p", got
    assert got[3] == "https://h.com:80/p", got
    assert got[4] == "https://h.com/p", got
    assert got[5] == "http://h.com/p", got
    # plan: canonicalization itself is a pure projection
    plan = df.select(canonical_url_col(F.col("url")))._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_bpe_train_and_counts(spark):
    """Distributed BPE: learns frequency-ordered merges (deterministic
    lexicographic ties), merges apply left-to-right non-overlapping,
    counts join through the trained vocabulary, OOV words fall back to
    character counts, and the vocab join never broadcasts."""
    from fstd2pandas_spark.operators.llm.bpe import (
        apply_merges_col, bpe_token_counts, bpe_train)

    df = spark.createDataFrame([
        (1, "low lower lowest low low"),
        (2, "new newer newest new"),
        (3, "low new lower newer"),
    ], "doc_id long, text string")
    merges, words = bpe_train(df, n_merges=6)
    assert merges[0] == ("l", "o")      # most frequent first pair
    assert ("lo", "w") in merges        # builds 'low' as one token
    final = {r.s for r in words.collect()}
    assert "low" in final and "new" in final
    counts = {r.doc_id: r.bpe_real_tokens for r in
              bpe_token_counts(df, merges, words).collect()}
    assert counts == {1: 8, 2: 7, 3: 6}
    # OOV fallback: unseen word counts its characters
    other = spark.createDataFrame([(9, "zzzz low")],
                                  "doc_id long, text string")
    c9 = bpe_token_counts(other, merges, words).collect()[0]
    assert c9.bpe_real_tokens == 4 + 1
    # left-to-right non-overlap: 'a a a' under merge (a,a) -> 'aa a'
    one = spark.createDataFrame([("a a a",)], "s string")
    got = one.select(apply_merges_col(F.col("s"),
                                      [("a", "a")]).alias("m")).first().m
    assert got == "aa a"
    # scale guard: the vocabulary side must not broadcast
    plan = bpe_token_counts(df, merges, words)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SortMergeJoin" in plan and "CartesianProduct" not in plan


def test_resize_bilinear(spark):
    """Bilinear resize: constant images stay exact, a 2x downscale of a
    checkerboard averages toward grey (nearest would keep pure b/w),
    and the Spark path round-trips through PPM."""
    import numpy as np

    from fstd2pandas_spark.operators.llm.multimodal import (
        _encode_ppm, _resize_bilinear, decode_image, resize_images)

    const = np.full((8, 8, 3), 200, dtype=np.uint8)
    assert np.array_equal(_resize_bilinear(const, 4, 4), const[:4, :4])
    board = np.zeros((8, 8, 3), dtype=np.uint8)
    board[::2, ::2] = 255
    board[1::2, 1::2] = 255
    down = _resize_bilinear(board, 4, 4).astype(int)
    assert 100 <= down.mean() <= 155         # averaged, not sampled
    up = _resize_bilinear(const, 16, 16)
    assert up.shape == (16, 16, 3) and int(up.mean()) == 200

    df = spark.createDataFrame(
        [(1, "image", "image/x-portable-pixmap", 8, 8, None,
          bytearray(_encode_ppm(board)))],
        "asset_id long, kind string, mime string, width int, height int, "
        "duration_ms int, payload binary")
    row = resize_images(df, 4, 4, method="bilinear").collect()[0]
    got = decode_image(bytes(row.payload))
    np.testing.assert_array_equal(got, _resize_bilinear(board, 4, 4))
    import pytest as _pt
    with _pt.raises(ValueError, match="unknown resize method"):
        resize_images(df, 4, 4, method="cubic")


def test_lm_train_counts_and_score_exact(spark):
    """Hand-computed stupid-backoff scores on a 2-doc training corpus:
    hit path (c_bi/c_w1), backoff path (0.4*c(w2)/N), Laplace floor for
    unseen continuations, and the empty/NULL contract."""
    from fstd2pandas_spark.operators.llm.lm import lm_perplexity, lm_train

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "b c"), (4, "a z"),
         (5, "x"), (6, None)],
        "doc_id int, text string")
    model, uni, n = lm_train(docs.filter("doc_id <= 2"))
    assert n == 6
    m = {(r.w1, r.w2): (r.c_bi, r.c_w1) for r in model.collect()}
    assert m == {("a", "b"): (2, 3), ("b", "a"): (1, 2), ("a", "c"): (1, 3)}

    out = {r.doc_id: r for r in
           lm_perplexity(docs, model, uni, n).collect()}
    # doc 1: 2*round(log10(2/3)*1e6) + round(log10(1/2)*1e6)
    assert (out[1].lm_bigrams, out[1].lm_q6) == (3, -176091 * 2 - 301030)
    assert (out[2].lm_bigrams, out[2].lm_q6) == (1, -477121)
    # (b, c) unseen bigram -> 0.4 * c(c)/6; (a, z) unseen w2 -> 0.4 * 1/6
    assert out[3].lm_q6 == out[4].lm_q6 == -1176091
    # empty text is genuinely 'empty'; NULL text is UNKNOWN content
    # and gets the NULL verdict (the module's NULL-metric contract —
    # unguarded, the bucket chain's otherwise-arm read it as 'tail')
    assert out[5].lm_bucket == "empty"
    assert (out[5].lm_q6, out[5].lm_bigrams) == (0, 0)
    assert out[6].lm_bucket is None
    assert (out[6].lm_q6, out[6].lm_bigrams) == (None, None)


def test_lm_bucket_thresholds(spark):
    """head/middle/tail via integer cross-multiplication against the
    per-bigram average, with custom cutoffs."""
    from fstd2pandas_spark.operators.llm.lm import lm_perplexity, lm_train

    docs = spark.createDataFrame(
        [(1, "a b a b a b a b"), (2, "q r"), (3, "a c")],
        "doc_id int, text string")
    model, uni, n = lm_train(docs.filter("doc_id = 1"))
    out = {r.doc_id: r.lm_bucket for r in lm_perplexity(
        docs, model, uni, n, head_q6=-250000, middle_q6=-1000000,
    ).collect()}
    # doc 1 avg ~ log10(4/4 and 3/4 mix) > -0.25 -> head;
    # doc 2 fully unseen (0.4/8 per bigram ~ -1.30) -> tail;
    # doc 3 (a,c) unseen but a,c... c unseen too: 0.4*1/8 -> tail
    assert out[1] == "head" and out[2] == "tail" and out[3] == "tail"
    import pytest as _pt
    with _pt.raises(ValueError, match="empty corpus"):
        lm_perplexity(docs, model, uni, 0)


def test_lm_perplexity_corpus_properties(docs):
    """Trained on the full corpus, every bigram is a hit: probs <= 1 so
    lm_q6 <= 0, lm_bigrams == tokens-1 for space-separated text, and the
    per-doc row count is preserved."""
    from fstd2pandas_spark.operators.llm.lm import lm_perplexity, lm_train

    model, uni, n = lm_train(docs)
    out = lm_perplexity(docs, model, uni, n)
    assert out.count() == docs.count()
    assert out.filter(F.col("lm_q6") > 0).count() == 0
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    bad = out.filter(
        F.col("lm_bigrams") !=
        F.greatest(F.size(toks) - 1, F.lit(0))).count()
    assert bad == 0
    assert out.filter(~F.col("lm_bucket").isin(
        "head", "middle", "tail", "empty")).count() == 0


def _bm25_py(tf, dl, df_t, n_docs, avgdl, k1=1.2, b=0.75):
    """Reference reimplementation with the exact operand order the
    operator uses — Python and JVM doubles agree bit-for-bit on the
    same IEEE op sequence."""
    import math
    idf = math.log10((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
    tfn = (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
    v = idf * tfn * 1_000_000
    # Spark round() is BigDecimal HALF_UP on the double's exact value
    from decimal import Decimal, ROUND_HALF_UP
    return int(Decimal(v).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def test_bm25_scores_hand_computed(spark):
    from fstd2pandas_spark.operators.llm.retrieval import bm25_scores

    docs = spark.createDataFrame(
        [(1, "cat sat mat"), (2, "cat cat dog"), (3, "fish")],
        "doc_id int, text string")
    out = {(r.query_id, r.doc_id): r for r in
           bm25_scores(docs, {0: "cat fish"}).collect()}
    avgdl = 7.0 / 3
    cat1 = _bm25_py(1, 3, 2, 3, avgdl)
    cat2 = _bm25_py(2, 3, 2, 3, avgdl)
    fish3 = _bm25_py(1, 1, 1, 3, avgdl)
    assert out[(0, 1)].bm25_q6 == cat1 and out[(0, 1)].n_matched == 1
    assert out[(0, 2)].bm25_q6 == cat2
    assert out[(0, 3)].bm25_q6 == fish3
    assert (0, 3) in out and len(out) == 3   # d3 matches fish only


def test_bm25_topk_salted_equals_unsalted(docs):
    from fstd2pandas_spark.operators.llm.retrieval import bm25_topk

    qs = {0: "the data model", 1: "analysis system"}
    a = {(r.query_id, r.rank): r.doc_id for r in
         bm25_topk(docs, qs, k=8, n_salts=1).collect()}
    b = {(r.query_id, r.rank): r.doc_id for r in
         bm25_topk(docs, qs, k=8, n_salts=16).collect()}
    assert a == b and len(a) > 0
    # dense 1..k ranks per query
    for q in (0, 1):
        ranks = sorted(r for (qq, r) in a if qq == q)
        assert ranks == list(range(1, len(ranks) + 1))


def test_bm25_topk_relevance(docs):
    """Top-ranked docs must actually contain query terms, and a doc
    stuffed with the query term should outrank a sparse mention."""
    from fstd2pandas_spark.operators.llm.retrieval import bm25_topk

    term = "data"
    top = bm25_topk(docs, {0: term}, k=5).join(
        docs.select("doc_id", "text"), "doc_id").collect()
    assert len(top) > 0
    for r in top:
        assert term in r.text.lower().split()


def test_image_dhash_known_values(spark):
    """Constant image -> 0 (no strict inequality); strictly decreasing
    rows -> every bit set (-1 in two's complement at 64 bits);
    undecodable payload -> NULL + decoded=false."""
    import numpy as np

    from fstd2pandas_spark.operators.llm.multimodal import (
        _encode_ppm, dhash_bits, image_dhash)

    const = np.full((16, 16, 3), 77, dtype=np.uint8)
    assert dhash_bits(const, 8) == 0
    dec = np.zeros((16, 18, 3), dtype=np.uint8)
    for c in range(18):
        dec[:, c, :] = 255 - c * 14
    assert dhash_bits(dec, 8) == -1

    df = spark.createDataFrame(
        [(1, bytearray(_encode_ppm(const))),
         (2, bytearray(_encode_ppm(dec))),
         (3, bytearray(b"not an image"))],
        "asset_id long, payload binary")
    out = {r.asset_id: (r.dhash, r.decoded)
           for r in image_dhash(df, size=8).collect()}
    assert out[1] == (0, True)
    assert out[2] == (-1, True)
    assert out[3][0] is None and out[3][1] is False


def test_signature_hamming_pairs_bruteforce(spark):
    """The generic pigeonhole pair join over precomputed signatures
    equals the brute-force O(N^2) pair set."""
    import itertools
    import random

    from fstd2pandas_spark.operators.llm.dedup import signature_hamming_pairs

    rng = random.Random(7)
    sigs = {i: rng.getrandbits(24) for i in range(60)}
    # plant near-dups
    sigs[60] = sigs[0] ^ 0b1
    sigs[61] = sigs[0] ^ 0b11
    sigs[62] = sigs[5] ^ (1 << 20)
    df = spark.createDataFrame(list(sigs.items()), "vid long, sig long")
    got = {(r.doc_a, r.doc_b, r.hamming) for r in signature_hamming_pairs(
        df, "sig", id_col="vid", bits=24, max_hamming=2).collect()}
    want = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin(sigs[a] ^ sigs[b]).count("1")
        if h <= 2:
            want.add((a, b, h))
    assert got == want and len(want) >= 3


def test_audio_spectrum_dominant_bin(spark):
    """A pure sine at exactly k cycles per 48-sample window puts all
    DFT power in bin k; non-WAV payloads yield NULLs."""
    import math
    import struct

    import numpy as np

    from fstd2pandas_spark.operators.llm.multimodal import (
        audio_spectrum, spectrum_powers)

    def sine_wav(k, n=48):
        # 8-bit unsigned PCM, one byte per sample
        samples = bytes(
            min(255, max(0, int(round(128 + 100 * math.sin(
                2 * math.pi * k * i / n))))) for i in range(n))
        return (b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000,
                                        8000, 1, 8)
                + b"data" + struct.pack("<I", n) + samples)

    # direct kernel check: bin 3 sine -> bin 3 dominates by an order
    x = np.array([math.sin(2 * math.pi * 3 * i / 48)
                  for i in range(48)])
    pw = spectrum_powers(x, 48, 8)
    assert max(pw) == pw[2] and pw[2] > 10 * max(
        p for i, p in enumerate(pw) if i != 2)

    df = spark.createDataFrame(
        [(1, bytearray(sine_wav(2))), (2, bytearray(sine_wav(5))),
         (3, bytearray(b"not audio"))],
        "asset_id long, payload binary")
    out = {r.asset_id: (r.dom_bin, r.decoded)
           for r in audio_spectrum(df).collect()}
    assert out[1] == (2, True) and out[2] == (5, True)
    assert out[3] == (None, False)


def test_image_dhash_size_validated(spark):
    from fstd2pandas_spark.operators.llm.multimodal import image_dhash

    df = spark.createDataFrame([(1, bytearray(b"x"))],
                               "asset_id long, payload binary")
    import pytest as _pt
    with _pt.raises(ValueError, match="size must be 1..8"):
        image_dhash(df, size=9)


def test_signature_hamming_pairs_ignores_nulls(spark):
    """NULL signatures (undecodable payloads) must not form a giant
    (block, NULL) collision group — they are dropped before banding."""
    from fstd2pandas_spark.operators.llm.dedup import signature_hamming_pairs

    df = spark.createDataFrame(
        [(1, 0b1010), (2, 0b1011)] + [(i, None) for i in range(10, 40)],
        "vid long, sig long")
    got = {(r.doc_a, r.doc_b) for r in signature_hamming_pairs(
        df, "sig", id_col="vid", bits=4, max_hamming=1).collect()}
    assert got == {(1, 2)}


def test_png_deflate_bomb_rejected():
    """A deflate stream inflating far past the IHDR envelope is cut at
    the expected size (no bomb materialization), and an image whose
    ENVELOPE itself exceeds the hard cap is rejected outright."""
    import struct
    import zlib

    from fstd2pandas_spark.operators.llm.multimodal import decode_image

    def chunk(cid, body):
        return (struct.pack(">I", len(body)) + cid + body
                + struct.pack(">I", zlib.crc32(cid + body)))

    # 2x2 RGB image whose IDAT inflates to ~1 MiB of zeros: decode must
    # not materialize the bomb; the first 2 rows decode fine (all-zero
    # filter bytes) so the image itself still decodes
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * (1 << 20))
    payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", bomb) + chunk(b"IEND", b""))
    img = decode_image(payload)
    assert img is not None and img.shape == (2, 2, 3)

    # envelope over the hard cap (dims alone): rejected before inflate
    ihdr = struct.pack(">IIBBBBB", 1 << 16, 1 << 16, 8, 2, 0, 0, 0)
    payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", bomb) + chunk(b"IEND", b""))
    assert decode_image(payload) is None


def test_linear_text_classifier_known_values(spark):
    """Hand-computed micro-unit scores with the md5 pseudo-weights, the
    trained-weights path, and NULL-text handling."""
    import hashlib

    from fstd2pandas_spark.operators.llm.classifier import (
        linear_text_classifier)

    def bucket(tok, dim):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % dim

    def w(b):
        return int(hashlib.md5(f"w{b}".encode()).hexdigest()[:8],
                   16) % 2001 - 1000

    rows = [(0, "alpha beta beta"), (1, ""), (2, None)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: (r["clf_score"], r["clf_keep"])
           for r in linear_text_classifier(df, dim=64, bias=7).collect()}
    exp0 = 7 + w(bucket("alpha", 64)) + 2 * w(bucket("beta", 64))
    assert out[0] == (exp0, exp0 > 0)
    # empty text genuinely scores the bias; NULL text is UNKNOWN
    # content and must not get a definite verdict from bias alone
    assert out[1] == (7, True)
    assert out[2] == (None, None)
    # trained weights: bucket -> its own index as weight
    weights = list(range(64))
    out2 = {r["doc_id"]: r["clf_score"] for r in linear_text_classifier(
        df, dim=64, weights=weights).collect()}
    assert out2[0] == bucket("alpha", 64) + 2 * bucket("beta", 64)
    with pytest.raises(ValueError):
        linear_text_classifier(df, dim=64, weights=[1, 2, 3])


def test_linear_text_classifier_is_narrow_map(spark, docs):
    """The classifier must add NO shuffle — it scores at scan speed."""
    from fstd2pandas_spark.operators.llm.classifier import (
        linear_text_classifier)

    plan = (linear_text_classifier(docs.select("doc_id", "text"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Join" not in plan


def test_temperature_mix_sample(spark):
    """alpha=0.5 thresholds: smallest source keeps 100%, a 4x source
    keeps sqrt(1/4) = 50% in expectation; membership is the documented
    md5 bucket rule."""
    import hashlib

    from fstd2pandas_spark.operators.llm.sampling import (
        temperature_mix_sample)

    rows = ([(i, "big") for i in range(400)]
            + [(1000 + i, "small") for i in range(100)])
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = temperature_mix_sample(df, alpha=0.5).collect()
    thr = {r["source"]: r["temp_thr"] for r in out}
    assert thr == {"small": 10000, "big": 5000}
    for r in out:
        b = int(hashlib.md5(f"temp1_{r['doc_id']}".encode())
                .hexdigest()[:8], 16) % 10000
        assert r["temp_sampled"] == (b < thr[r["source"]])
    with pytest.raises(ValueError):
        temperature_mix_sample(df, alpha=0.0)


def test_minimal_block_dedup_is_exactly_once_property():
    """Pure-Python property pin of the minimal-agreeing-block predicate
    that replaced the pairs .distinct(): for random signature sets,
    every Hamming<=r pair is emitted from EXACTLY one (block, value)
    collision group — the first block where the signatures agree — and
    pairs beyond the radius from none that survive the hamming filter.
    Mirrors _signature_blocks_grouped's floor+remainder block sizing."""
    import random

    from hypothesis import given, settings, strategies as st

    bits, max_h = 48, 2
    n_blocks = max_h + 1
    base, rem = divmod(bits, n_blocks)
    sizes = [base + (1 if i < rem else 0) for i in range(n_blocks)]
    offsets = [sum(sizes[:i]) for i in range(n_blocks)]

    def blk(s, j):
        return (s >> offsets[j]) & ((1 << sizes[j]) - 1)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(0, (1 << bits) - 1), min_size=2,
                    max_size=12, unique=True))
    def run(sigs):
        emitted = {}
        for j in range(n_blocks):
            groups = {}
            for i, s in enumerate(sigs):
                groups.setdefault(blk(s, j), []).append((i, s))
            for members in groups.values():
                for x in range(len(members)):
                    for y in range(x + 1, len(members)):
                        (ia, sa), (ib, sb) = members[x], members[y]
                        ham = bin(sa ^ sb).count("1")
                        # the predicate: all earlier blocks differ
                        minimal = all(blk(sa, k) != blk(sb, k)
                                      for k in range(j))
                        if minimal and ham <= max_h:
                            emitted[(ia, ib)] = emitted.get((ia, ib), 0) + 1
        want = {(a, b) for a in range(len(sigs))
                for b in range(a + 1, len(sigs))
                if bin(sigs[a] ^ sigs[b]).count("1") <= max_h}
        assert set(emitted) == want
        assert all(v == 1 for v in emitted.values())

    run()


def test_semantic_dedup(spark):
    """SemDeDup: two near-identical groups collapse to one kept
    representative each (min id), distinct vectors survive, and a
    near-duplicate pair split across DIFFERENT cells is (by design) not
    deduped — the paper's within-cluster trade-off."""
    import math

    from fstd2pandas_spark.operators.llm.similarity import semantic_dedup

    dim = 8

    def unit(axis, eps=0.0, eps_axis=1):
        v = [0.0] * dim
        v[axis] = 1.0
        v[eps_axis] += eps
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = [
        (0, unit(0)), (1, unit(0, 0.01)), (2, unit(0, 0.02)),  # group A
        (10, unit(2)), (11, unit(2, 0.01, 3)),                 # group B
        (20, unit(4)),                                         # singleton
        (30, unit(6)), (31, [-x for x in unit(6)]),            # opposites
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["id"]: r for r in semantic_dedup(
        df, threshold=0.95, n_cells=4, dim=dim).collect()}
    assert out[0]["keep"] and out[0]["dup_of"] is None
    assert not out[1]["keep"] and out[1]["dup_of"] == 0
    assert not out[2]["keep"] and out[2]["dup_of"] == 0
    assert out[10]["keep"] and not out[11]["keep"] \
        and out[11]["dup_of"] == 10
    assert out[20]["keep"]
    # opposite vectors: cosine -1, never duplicates
    assert out[30]["keep"] and out[31]["keep"]
    # every duplicate's representative is kept
    for r in out.values():
        if r["dup_of"] is not None:
            assert out[r["dup_of"]]["keep"]

def test_collision_group_size_ceiling_raises(spark, monkeypatch):
    """One degenerate hot collision group (identical docs / identical
    signatures / identical embeddings) must raise the MAX_GROUP_MEMBERS
    guard loudly instead of building a giant single-row member array
    and streaming B^2/2 pairs — range_join's MAX_BINS_PER_INTERVAL
    precedent applied to every collect_list group path."""
    import fstd2pandas_spark.operators.llm.dedup as dedupmod
    from fstd2pandas_spark.operators.llm.dedup import (
        lsh_candidate_pairs, signature_hamming_pairs)
    from fstd2pandas_spark.operators.llm.similarity import semantic_dedup

    monkeypatch.setattr(dedupmod, "MAX_GROUP_MEMBERS", 5)

    hot_docs = spark.createDataFrame(
        [(i, "the same document text repeated verbatim") for i in range(10)],
        ["doc_id", "text"])
    with pytest.raises(Exception, match="MAX_GROUP_MEMBERS"):
        lsh_candidate_pairs(hot_docs, num_hashes=8, bands=4).collect()

    hot_sigs = spark.createDataFrame([(i, 0b1010) for i in range(10)],
                                     "vid long, sig long")
    with pytest.raises(Exception, match="MAX_GROUP_MEMBERS"):
        signature_hamming_pairs(hot_sigs, "sig", id_col="vid",
                                bits=24).collect()

    hot_emb = spark.createDataFrame(
        [(i, [1.0] + [0.0] * 7) for i in range(10)],
        ["vec_id", "embedding"])
    with pytest.raises(Exception, match="MAX_GROUP_MEMBERS"):
        semantic_dedup(hot_emb, n_cells=2, dim=8).collect()

    # below the ceiling everything still flows (the guard predicate is
    # True, not a row filter)
    monkeypatch.setattr(dedupmod, "MAX_GROUP_MEMBERS", 10_000)
    assert lsh_candidate_pairs(hot_docs, num_hashes=8,
                               bands=4).count() == 45
    assert semantic_dedup(hot_emb, n_cells=2,
                          dim=8).filter("keep").count() == 1


def test_embedding_dim_stats_hand_computed(spark):
    """Per-dimension stats equal a direct Python re-derivation on a
    tiny corpus, including exact-zero and positive counts and the
    micro-unit sum; a dead dimension shows n_zero == n."""
    from fstd2pandas_spark.operators.llm.similarity import (
        embedding_dim_stats)

    vecs = [[1.5, 0.0, -2.25], [0.5, 0.0, 3.0], [-1.0, 0.0, 0.125]]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    got = {r["j"]: r for r in embedding_dim_stats(df).collect()}
    for j in range(3):
        col = [v[j] for v in vecs]
        assert got[j]["n"] == 3
        assert got[j]["sum_q6"] == sum(round(x * 1e6) for x in col)
        assert got[j]["min_x"] == min(col) and got[j]["max_x"] == max(col)
        assert got[j]["n_zero"] == sum(1 for x in col if x == 0)
        assert got[j]["n_pos"] == sum(1 for x in col if x > 0)
    assert got[1]["n_zero"] == 3          # dead dimension detected


def test_int8_quantize_roundtrip_and_edge_cases(spark):
    """Codes equal clamp(round(x / (max|x|/127))), the all-zero vector
    quantizes to scale 0 with zero codes (no division blow-up), and
    dequantized values land within scale/2 of the originals."""
    from fstd2pandas_spark.operators.llm.similarity import int8_quantize

    vecs = [[1.0, -0.5, 0.25, 0.0],
            [0.0, 0.0, 0.0, 0.0],
            [-3.0, 3.0, 1.5, -0.75]]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in int8_quantize(df).collect()}
    for i, v in enumerate(vecs):
        m = max(abs(x) for x in v)
        if m == 0:
            assert got[i]["q8_scale"] == 0.0
            assert got[i]["q8_codes"] == [0, 0, 0, 0]
            continue
        scale = m / 127.0
        exp = [max(-127, min(127, round(x / scale))) for x in v]
        # Python round is half-even; Spark round is half-away — only
        # compare where no .5 tie is involved (these fixtures have none)
        assert got[i]["q8_codes"] == exp
        assert got[i]["q8_scale"] == scale
        for c, x in zip(got[i]["q8_codes"], v):
            assert abs(c * scale - x) <= scale / 2 + 1e-12
        assert max(map(abs, got[i]["q8_codes"])) == 127


def test_similarity_degenerate_vector_guards(spark):
    """The similarity.py whole-file review's silent-wrong-answer
    classes: (a) a zero-norm vector's cosine is 0/0 — under ANSI
    (this session's default) it ABORTED the whole query as
    DIVIDE_BY_ZERO; under non-ANSI it was NaN, which Spark orders
    above every real double and which passes `NaN >= threshold`, so
    one dead all-zero embedding paired with everything it met at
    maximum confidence (the mass-delete class) and hijacked rank 1 of
    every top-k; (b) NULL embeddings crowded LSH bucket 0 / IVF cell
    0, streaming discarded-anyway join rows, and emitted k arbitrary
    NULL-cos neighbors per NULL query; (c) NULL/short vectors DILUTED
    Lloyd/PQ centroid means (counted in _n, absent from the sums) and
    a NULL seed vector crashed pq_train with an opaque TypeError;
    (d) a NaN/Inf component killed int8_quantize (ANSI cast) and
    pinned embedding_dim_stats' max to NaN; (e) a hot LSH bucket had
    no group ceiling, unlike every other collision-group path."""
    import fstd2pandas_spark.operators.llm.dedup as dd
    from fstd2pandas_spark.operators.llm.similarity import (
        cosine_topk, embedding_dim_stats, embedding_neardup,
        int8_quantize, lloyd_refine, pq_adc_topk, pq_train,
        semantic_dedup)

    nanvec = [float("nan")] + [0.5] * 3
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0, 0.0]),
         (2, [0.0, 0.0, 0.0, 0.0]), (3, None), (4, nanvec),
         (5, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")

    # (a)+(b) neardup, one and two planes: no crash, and the
    # degenerate rows (zero/NULL/NaN) pair with NOTHING — not even
    # their identical twin
    for planes in (1, 2):
        got = embedding_neardup(emb.unionByName(
            spark.createDataFrame([(6, [0.0, 0.0, 0.0, 0.0])],
                                  "vec_id long, embedding array<float>")),
            threshold=0.4, n_planes=planes, dim=4).collect()
        ids = {i for r in got for i in (r["vec_a"], r["vec_b"])}
        assert not ids & {2, 3, 4, 6}, got

    # (a)+(b) top-k: degenerate queries emit NO rows, degenerate
    # candidates never outrank a real neighbor, no NULL-cos filler
    tk = cosine_topk(emb, k=5, n_queries=6).collect()
    assert all(r["cos"] is not None for r in tk)
    assert {r["query_id"] for r in tk} <= {0, 1, 5}
    assert all(r["neighbor_id"] not in (2, 3, 4) for r in tk)

    # (c) training ignores malformed vectors: same centroids with and
    # without them (they previously diluted the means via _n)
    # the zero vector (2) IS legitimate training data; only the
    # NULL (3) and NaN-component (4) rows are excluded
    clean = emb.filter(F.col("vec_id").isin(0, 1, 2, 5))
    w_dirty = lloyd_refine(emb, n_cells=2, dim=4, iters=1)
    w_clean = lloyd_refine(clean, n_cells=2, dim=4, iters=1)
    assert w_dirty == w_clean
    big = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, 0.25]) for i in range(12)]
        + [(99, None), (98, [1.0, 2.0])],
        "vec_id long, embedding array<float>")
    cb = pq_train(big, m=2, ksub=4, dim=4)   # no TypeError
    cb2 = pq_train(big.filter("vec_id < 90"), m=2, ksub=4, dim=4)
    assert cb == cb2

    # adc: NaN query scores NULL everywhere -> the query vanishes
    # instead of returning arbitrary neighbors
    adc = pq_adc_topk(emb, k=3, m=2, ksub=2, dim=4, n_queries=6,
                      train_iters=0).collect()
    assert all(r["adc"] is not None for r in adc)
    assert 4 not in {r["query_id"] for r in adc}

    # semantic_dedup: nothing merges through undefined cosines —
    # every input row is still present, the one GENUINE near-dup pair
    # (0, 1: cos ~0.994) still collapses, and every degenerate row is
    # kept (unknown content is never a duplicate of anything)
    sem = {r["id"]: r for r in semantic_dedup(
        emb, threshold=0.95, n_cells=2, dim=4, train_iters=1).collect()}
    assert len(sem) == 6
    assert not sem[1]["keep"] and sem[1]["dup_of"] == 0
    for d in (2, 3, 4):
        assert sem[d]["keep"] and sem[d]["dup_of"] is None

    # (d) int8: NaN/Inf vectors -> NULL scale AND codes (never an
    # ANSI kill or a clamped-garbage code); NULL elements stay NULL
    # (least/greatest skip NULLs — unguarded they clamped to 127)
    q8 = {r["vec_id"]: r for r in int8_quantize(emb.unionByName(
        spark.createDataFrame(
            [(7, [float("inf"), 1.0, 0.0, 0.0]),
             (8, [None, 2.0, 0.0, 0.0])],
            "vec_id long, embedding array<float>"))).collect()}
    for d in (4, 7):
        assert q8[d]["q8_scale"] is None and q8[d]["q8_codes"] is None
    assert q8[8]["q8_codes"][0] is None
    assert q8[8]["q8_codes"][1] == 127
    assert q8[2]["q8_codes"] == [0, 0, 0, 0] and q8[2]["q8_scale"] == 0.0

    # (d) dim stats: NaN reported in n_nan, excluded from the folds
    ds = {r["j"]: r for r in embedding_dim_stats(emb).collect()}
    assert ds[0]["n_nan"] == 1
    assert ds[0]["max_x"] == 1.0 and not (ds[0]["max_x"] != ds[0]["max_x"])

    # (e) a hot LSH bucket raises loudly instead of fanning out B^2/2
    orig = dd.MAX_GROUP_MEMBERS
    try:
        dd.MAX_GROUP_MEMBERS = 8
        hot = spark.createDataFrame(
            [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(30)],
            "vec_id long, embedding array<float>")
        with pytest.raises(Exception, match="embedding LSH bucket"):
            embedding_neardup(hot, threshold=0.4, n_planes=2,
                              dim=4).collect()
    finally:
        dd.MAX_GROUP_MEMBERS = orig


def test_sampling_null_identity_guards(spark):
    """sampling.py review pins: (a) a NULL-id row must NOT silently
    land in the training split (it has no deterministic identity; the
    old otherwise-'train' arm put every unknown-provenance row in the
    one set it must never default into, while hash_sample EXCLUDED the
    same rows — two membership rules in one module); (b) a NULL source
    is its own temperature stratum: it gets a threshold back (it
    already counted as a group, and could even BE n_min) instead of a
    NULL temp_thr via the non-null-safe join."""
    from fstd2pandas_spark.operators.llm.sampling import (
        hash_sample, hash_split, temperature_mix_sample)

    df = spark.createDataFrame(
        [(i, "a") for i in range(40)] + [(None, "a")],
        "doc_id long, src string")
    sp = {r["doc_id"]: r["split"]
          for r in hash_split(df, val_pct=10).collect()}
    assert sp[None] is None
    assert set(sp.values()) - {None} <= {"train", "val", "test"}
    assert None not in {r["doc_id"]
                        for r in hash_sample(df, pct=50).collect()}

    # NULL source: own stratum, gets the threshold of its own size —
    # here it is the smallest group (1 row) so its threshold is 10000
    # (keep-all) and the big group's fraction is sqrt(1/40)
    tm = spark.createDataFrame(
        [(i, "big") for i in range(40)] + [(100, None)],
        "doc_id long, source string")
    got = {r["doc_id"]: r for r in temperature_mix_sample(tm).collect()}
    assert got[100]["temp_thr"] == 10000 and got[100]["temp_sampled"]
    import math
    assert got[0]["temp_thr"] == round(10000 * math.sqrt(1 / 40))


def test_bpe_merge_is_canonical_single_pass(spark):
    """The replace-trick divergence, pinned closed: consecutive pair
    occurrences share their delimiter space, so a plain
    replace(' a b ' -> ' ab ') left 'a b a b' as 'ab a b' — canonical
    BPE (Sennrich 2016) merges BOTH ('ab ab'), and runs of a repeated
    symbol merge left-to-right non-overlapping ('a a a a a a' ->
    'aa aa aa'). The fold must also not re-fuse a freshly merged
    token ('a b b' stays 'ab b'), and trained merges must now
    tokenize repeated-pair words canonically end-to-end."""
    from fstd2pandas_spark.operators.llm.bpe import (
        apply_merges_col, bpe_token_counts, bpe_train)

    cases = spark.createDataFrame(
        [("a b a b",), ("a a a a a a",), ("a b b",), ("x",),
         ("b a b",)], ["s"])
    got = [r["m"] for r in cases.select(
        apply_merges_col(F.col("s"), [("a", "b")]).alias("m"))
        .collect()]
    assert got == ["ab ab", "a a a a a a", "ab b", "x", "b ab"]
    got2 = [r["m"] for r in cases.select(
        apply_merges_col(F.col("s"), [("a", "a")]).alias("m"))
        .collect()]
    assert got2 == ["a b a b", "aa aa aa", "a b b", "x", "b a b"]

    # end-to-end: 'abab' must cost 2 BPE tokens once (a, b) is learned
    docs = spark.createDataFrame(
        [(0, "ab ab ab abab"), (1, "abab abab")],
        "doc_id long, text string")
    merges, words = bpe_train(docs, n_merges=1)
    assert merges == [("a", "b")]
    n = {r["doc_id"]: r["bpe_real_tokens"]
         for r in bpe_token_counts(docs, merges, words).collect()}
    assert n == {0: 5, 1: 4}  # 'abab' = [ab, ab] = 2 symbols each


def test_bpe_merge_fold_matches_python_reference(spark):
    """Property pin for the canonical fold: 300 random symbol
    sequences x random merge pairs, compared against the obvious
    pure-Python single-pass merge (fuse when the accumulator's last
    token is `a` and the next symbol is `b`). One Spark job for all
    cases. Includes the adversarial shapes: repeated pairs sharing
    delimiters, runs of one symbol, merged-token prefixes ('ab' as a
    symbol next to the ('a','b') merge)."""
    import random

    from fstd2pandas_spark.operators.llm.bpe import _merge_once_col

    rng = random.Random(1517)
    alphabet = ["a", "b", "c", "ab", "bb"]
    cases = []
    for i in range(300):
        syms = [rng.choice(alphabet)
                for _ in range(rng.randint(1, 12))]
        a, b = rng.choice(alphabet), rng.choice(alphabet)
        cases.append((i, " ".join(syms), a, b))

    def ref(s, a, b):
        out = []
        for x in s.split(" "):
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        return " ".join(out)

    df = spark.createDataFrame(cases, "i long, s string, a string, b string")
    got = {}
    for (a, b), grp in __import__("itertools").groupby(
            sorted(cases, key=lambda c: (c[2], c[3])),
            key=lambda c: (c[2], c[3])):
        ids = [c[0] for c in grp]
        part = df.filter(F.col("i").isin(ids)).select(
            "i", _merge_once_col(F.col("s"), a, b).alias("m")).collect()
        got.update({r["i"]: r["m"] for r in part})
    for i, s, a, b in cases:
        assert got[i] == ref(s, a, b), (s, a, b, got[i], ref(s, a, b))
