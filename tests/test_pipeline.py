"""Pipeline operator tests: oracle matches for exact-arithmetic queries,
ground-truth recall/precision for sketch-based ones, batch-shape checks
for the multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_query_engine_greatest_spark.pipeline import dedup, multimodal, similarity
from rust_query_engine_greatest_spark.queries import REGISTRY
from rust_query_engine_greatest_spark.sources.catalog import load_table

from tests.conftest import assert_frames_match

ORACLED = sorted(
    n for n in REGISTRY
    if n.startswith(("dedup_", "sim_", "text_", "multimodal_")) and REGISTRY[n].oracle
)


@pytest.mark.parametrize("name", ORACLED)
def test_pipeline_matches_oracle(name, spark, sf_dir, oracle):
    q = REGISTRY[name]
    assert_frames_match(q.build(spark, sf_dir), oracle.sql(q.oracle))


def test_jaccard_max_df_caps_hot_token(spark):
    """A planted stop-word-like token shared by every doc would drive the
    inverted-index self-join quadratic; max_df drops it from the INDEX
    while similarity stays exact over the full token sets, so the planted
    near-dup pair survives with its true Jaccard."""
    docs = [(i, f"common alpha{i} beta{i} gamma{i} delta{i}") for i in range(40)]
    docs += [(100, "common red green blue cyan"), (101, "common red green blue teal")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    capped = dedup.jaccard_pairs(df, "doc_id", "text", threshold=0.5, max_df=5)
    got = {(r.id_a, r.id_b): r.jac for r in capped.collect()}
    assert set(got) == {(100, 101)}
    assert got[(100, 101)] == pytest.approx(4 / 6)  # full-set Jaccard, not index counts

    # candidate fanout: with the cap, the 'common' token generates no
    # pairs — candidate count collapses from O(n²) to just the real pair
    uncapped_cands = dedup.jaccard_pairs(df, "doc_id", "text", threshold=0.0).count()
    capped_cands = dedup.jaccard_pairs(df, "doc_id", "text", threshold=0.0, max_df=5).count()
    assert uncapped_cands == 42 * 41 // 2  # every pair shares 'common'
    assert capped_cands == 1


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """MinHash banding must recover (almost all of) the truly-similar
    pairs: compare against exact shingle-Jaccard ≥0.8 pairs computed by
    brute force on the 500-doc fixture."""
    d = load_table(spark, sf_dir, "documents")
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(d, "doc_id", "text", threshold=0.8).collect()
    }
    # brute-force exact ground truth over all pairs (500² is fine here)
    sh = d.select(F.col("doc_id").alias("id"), dedup.word_shingles("text", 3).alias("sh"))
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    truth = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jac", inter / union)
        .filter(F.col("jac") >= 0.8)
        .collect()
    }
    # verified candidates are a subset of truth (no false positives)...
    assert got <= truth
    # ...and recall is high (16×4 banding at s≥0.8 collides w.p. ≥0.9996)
    if truth:
        assert len(got) / len(truth) >= 0.95


def test_simhash_pairs_low_hamming_only(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    rows = dedup.simhash_pairs(d, "doc_id", "text", max_hamming=3).collect()
    assert all(r.hamming <= 3 for r in rows)
    # banding guarantees completeness for hamming<=3: spot-check via
    # direct fingerprint comparison on a small sample
    fps = {r.id: r.fp for r in d.select(
        F.col("doc_id").alias("id"), dedup.simhash64("text").alias("fp")).limit(100).collect()}
    ids = sorted(fps)
    expected = {
        (i, j)
        for i in ids for j in ids
        if i < j and bin(fps[i] ^ fps[j]).count("1") <= 3
    }
    got = {(r.id_a, r.id_b) for r in rows if r.id_a in fps and r.id_b in fps}
    assert expected <= got


def test_lsh_topk_recall_on_planted_near_dups(spark, sf_dir):
    """Hyperplane LSH targets *near-duplicates* (cos→1): perturb 10
    corpus vectors slightly and require the LSH search to find each
    original as the top hit. (On this fixture's random vectors the true
    top-5 sit at cos≈0.4 ≈ 66° — genuinely outside LSH's contract, so
    brute-force recall is not the right bar.)"""
    import random as pyrandom

    e = load_table(spark, sf_dir, "embeddings")
    originals = e.filter(F.col("vec_id") < 10).collect()
    rng = pyrandom.Random(7)
    rows = [
        (1000 + r.vec_id, [x + rng.gauss(0, 0.01) for x in r.embedding])
        for r in originals
    ]
    q = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    hits = similarity.lsh_topk(q, e, "vec_id", "vec_id", k=1).collect()
    found = {r.qid: r.cid for r in hits}
    recall = sum(1 for r in originals if found.get(1000 + r.vec_id) == r.vec_id) / len(originals)
    assert recall >= 0.8
    # sanity on the exact path too: brute force must always find them
    exact = similarity.brute_force_topk(q, e, "vec_id", "vec_id", "embedding", k=1).collect()
    efound = {r.qid: r.cid for r in exact}
    assert all(efound[1000 + r.vec_id] == r.vec_id for r in originals)


def test_multimodal_feature_shapes(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    media = multimodal.media_from_documents(d)
    feats = multimodal.extract_features(media, dim=16)
    rows = feats.collect()
    assert len(rows) == d.count()
    assert all(len(r.feat) == 16 for r in rows)
    # deterministic: same payload → same features
    twice = {r.media_id: r.feat for r in multimodal.extract_features(media, dim=16).collect()}
    assert all(twice[r.media_id] == r.feat for r in rows)
    # n_bytes matches payload length
    n = {r.media_id: r.n_bytes for r in rows}
    for r in d.select("doc_id", F.length(F.encode("text", "utf-8")).alias("n")).collect():
        assert n[r.doc_id] == r.n


def test_multimodal_frame_sampling(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    media = multimodal.media_from_documents(d)
    frames = multimodal.sample_frames(media, every_n_bytes=64, max_frames=3)
    rows = frames.collect()
    assert rows and all(0 <= r.frame_idx < 3 for r in rows)
    assert all(len(r.frame_bytes) <= 64 for r in rows)


def test_decode_gate_raises_without_pil_for_opaque_formats():
    """PPM/BMP decode natively; anything else stays gated on PIL with an
    actionable error (absent in this container)."""
    with pytest.raises(NotImplementedError, match="PIL|pillow"):
        multimodal.decode_image(b"\x89PNG\r\n\x1a\n....")


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    """IVF with nprobe=4/16 cells must recover most of the exact top-5
    (unlike hyperplane LSH, IVF probes the *nearest* cells by learned
    centroid similarity, so moderate-cosine neighbors stay reachable);
    planted near-duplicates must always be found."""
    import random as pyrandom

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(q, e, "vec_id", "vec_id", k=5).collect()
    approx = similarity.ivf_topk(q, e, "vec_id", "vec_id", k=5, nprobe=4).collect()
    truth = {(r.qid, r.cid) for r in exact}
    got = {(r.qid, r.cid) for r in approx}
    assert len(got & truth) / len(truth) >= 0.5

    originals = e.filter(F.col("vec_id") < 10).collect()
    rng = pyrandom.Random(7)
    planted = spark.createDataFrame(
        [(1000 + r.vec_id, [x + rng.gauss(0, 0.01) for x in r.embedding]) for r in originals],
        "vec_id long, embedding array<float>",
    )
    hits = {r.qid: r.cid for r in similarity.ivf_topk(planted, e, "vec_id", "vec_id", k=1).collect()}
    assert all(hits.get(1000 + r.vec_id) == r.vec_id for r in originals)


def test_ivf_onehot_centroids_are_exact_basis_vectors(spark, sf_dir):
    """The sim_topk_ivf constructive oracle depends on mini-k-means being
    STABLE on the one-hot fixture: the 512-row sample strides by 32
    (coprime to 5 groups), so init covers all 5 basis vectors and every
    Lloyd iteration reproduces them exactly — each learned centroid must
    be a basis vector (0/1 components) covering all 5 groups."""
    e = load_table(spark, sf_dir, "embeddings")
    g = F.col("vec_id") % 5
    onehot = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.when(i == g, F.lit(1.0)).otherwise(F.lit(0.0)).cast("float"),
    )
    fix = e.select("vec_id", onehot.alias("embedding"))
    cent = similarity.learn_centroids(fix, "vec_id", "embedding", n_centroids=16)
    groups = set()
    for c in cent:
        assert all(v in (0.0, 1.0) for v in c), c
        assert sum(c) == 1.0
        groups.add(c.index(1.0))
    assert groups == {0, 1, 2, 3, 4}


def test_multimodal_resize_contract(spark, sf_dir):
    """resize_images: output payload is exactly target_w*target_h bytes
    (for payloads at least that large), metadata width/height are
    rewritten, and the op is deterministic."""
    from rust_query_engine_greatest_spark.pipeline import multimodal as mm
    from rust_query_engine_greatest_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = mm.media_from_documents(docs)
    out = mm.resize_images(media, target_w=8, target_h=8).collect()
    assert len(out) == 20
    for r in out:
        assert r.meta.width == 8 and r.meta.height == 8
        assert len(r.payload) <= 64 and len(r.payload) > 0
    again = {r.media_id: bytes(r.payload) for r in mm.resize_images(media, 8, 8).collect()}
    assert {r.media_id: bytes(r.payload) for r in out} == again


# ---- real multimodal codec (pure-NumPy PPM/BMP) --------------------------

def _gradient(h=8, w=8):
    import numpy as np
    y, x = np.mgrid[0:h, 0:w]
    return np.stack([(x * 255 // max(w - 1, 1)), (y * 255 // max(h - 1, 1)),
                     ((x + y) * 255 // max(h + w - 2, 1))], axis=-1).astype(np.uint8)


def test_ppm_roundtrip_and_comment_header():
    import numpy as np
    from rust_query_engine_greatest_spark.pipeline import multimodal as mm
    img = _gradient()
    assert np.array_equal(mm.decode_image(mm.encode_ppm(img)), img)
    # whitespace/comment-tolerant header per the netpbm spec
    hacked = b"P6\n# a comment\n 8\t8 \n255\n" + img.tobytes()
    assert np.array_equal(mm.decode_image(hacked), img)


def test_bmp_decode_bottom_up_with_padding():
    """Hand-built 24bpp BMP (3x2: stride pads 9->12 bytes, bottom-up
    BGR rows) must decode to the RGB source."""
    import numpy as np
    from rust_query_engine_greatest_spark.pipeline import multimodal as mm
    img = np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
                    [[10, 20, 30], [40, 50, 60], [70, 80, 90]]], dtype=np.uint8)
    h, w = 2, 3
    stride = (w * 3 + 3) & ~3
    raster = b""
    for row in img[::-1]:          # bottom-up
        raster += row[:, ::-1].tobytes()    # BGR
        raster += b"\x00" * (stride - w * 3)
    header = (b"BM" + (54 + len(raster)).to_bytes(4, "little") + b"\x00" * 4
              + (54).to_bytes(4, "little")
              + (40).to_bytes(4, "little")
              + w.to_bytes(4, "little", signed=True)
              + h.to_bytes(4, "little", signed=True)
              + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
              + (0).to_bytes(4, "little") + len(raster).to_bytes(4, "little")
              + b"\x00" * 16)
    assert np.array_equal(mm.decode_image(header + raster), img)


def test_block_mean_resize_exact():
    import numpy as np
    from rust_query_engine_greatest_spark.pipeline import multimodal as mm
    img = np.zeros((4, 4, 3), dtype=np.uint8)
    img[:2, :2] = 100   # quadrant means are exact for 2x integer shrink
    img[:2, 2:] = 200
    img[2:, :2] = 40
    img[2:, 2:] = 8
    out = mm._block_mean_resize(img, 2, 2)
    assert out.shape == (2, 2, 3)
    assert out[0, 0, 0] == 100 and out[0, 1, 0] == 200
    assert out[1, 0, 0] == 40 and out[1, 1, 0] == 8


def test_multimodal_decode_stats_real_pixels(spark, sf_dir):
    """End-to-end registry entry: PPM render -> decode -> pixel means
    match a NumPy golden computed from the same text bytes; resized
    payload is a real 4x4 PPM (11-byte header + 48 raster bytes)."""
    import numpy as np
    from rust_query_engine_greatest_spark.queries import REGISTRY
    from rust_query_engine_greatest_spark.sources.catalog import load_table

    rows = {r["media_id"]: r
            for r in REGISTRY["multimodal_decode_stats"].build(spark, sf_dir).collect()}
    docs = {r["doc_id"]: r["text"]
            for r in load_table(spark, sf_dir, "documents").limit(50).collect()}
    n = 16 * 16 * 3
    for doc_id, text_val in list(docs.items())[:10]:
        raw = (text_val or "").encode("utf-8")
        buf = np.frombuffer((raw * (n // max(len(raw), 1) + 1))[:n], dtype=np.uint8)
        px = buf.reshape(16, 16, 3).astype(np.float64)
        got = rows[doc_id]
        for ch, name in enumerate(["r_mean", "g_mean", "b_mean"]):
            assert got[name] == pytest.approx(px[:, :, ch].mean() / 255.0, rel=1e-6)
        assert got["resized_bytes"] == len(b"P6\n4 4\n255\n") + 4 * 4 * 3
        assert (got["w"], got["h"]) == (4, 4)


def test_winnow_shared_substring_guarantee(spark):
    """SIGMOD'03 winnowing guarantee: documents sharing a substring of
    length >= w+k-1 (here 8) MUST share at least one fingerprint; and
    identical docs have identical fingerprint sets."""
    from rust_query_engine_greatest_spark.pipeline import text as T
    shared = "zqxjkwvb unique shared run"   # >> w+k-1 chars
    docs = [
        (1, "alpha beta " + shared + " gamma delta"),
        (2, "totally different prefix " + shared + " and suffix here"),
        (3, "no overlap with the others at all, none whatsoever"),
        (4, "alpha beta " + shared + " gamma delta"),  # dup of 1
        (5, "xy"),                                      # shorter than k
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fps = {r["id"]: set(r["fps"]) for r in T.winnow_fingerprints(df, "doc_id", "text").collect()}
    assert fps[1] & fps[2], "shared substring must yield a shared fingerprint"
    assert fps[1] == fps[4], "identical docs -> identical fingerprint sets"
    assert not (fps[3] & fps[1]) or len(fps[3] & fps[1]) < len(fps[1] & fps[2])
    assert len(fps[5]) == 1, "sub-k doc falls back to one whole-text gram"


def test_winnow_window_density(spark):
    """Selection density: winnowing keeps roughly 2/(w+1) of gram
    hashes (paper Sec 3) — at least it must select far fewer
    fingerprints than grams, and at least one per full window span."""
    from pyspark.sql import functions as F
    from rust_query_engine_greatest_spark.pipeline import text as T
    doc = " ".join(f"tok{i}" for i in range(200))
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    n_grams = len(doc) - 5 + 1
    n_fps = T.winnow_fingerprints(df, "doc_id", "text", k=5, w=4).select(F.size("fps")).head()[0]
    assert n_fps < n_grams / 2
    assert n_fps >= n_grams // (2 * 4)


def test_bucket_pairs_hot_bucket_guard(spark):
    """A degenerate band value (1k near-identical empty-ish docs hashing
    into one bucket) must NOT materialize an O(n²) pair array on one
    executor row: buckets over max_bucket are excluded from expansion
    and reported by bucket_overflow. Healthy buckets are unaffected."""
    rows = [(i, 0, 7777) for i in range(1000)]          # planted hot bucket
    rows += [(2000 + i, 0, 42) for i in range(3)]       # healthy bucket
    banded = spark.createDataFrame(rows, "id long, band_id int, band_val long")
    pairs = dedup._bucket_pairs(banded, ["band_id", "band_val"], max_bucket=100)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(2000, 2001), (2000, 2002), (2001, 2002)}
    ovf = dedup.bucket_overflow(banded, ["band_id", "band_val"], max_bucket=100).collect()
    assert len(ovf) == 1 and ovf[0].n_ids == 1000 and ovf[0].band_val == 7777


def test_simhash_hot_bucket_subbanding_recall(spark):
    """The r5 scale ceiling: at 10B docs EVERY 16-bit band bucket
    overflows max_bucket, and capping alone collapses recall to 0.
    Plant that regime — 300 fingerprints all sharing band 0 (hot bucket,
    max_bucket=100), with 150 planted near-dup pairs whose 3 differing
    bits each land in a DIFFERENT other band (so band 0 is the pair's
    only collision, exactly the dropped case) — and assert recursive
    sub-banding recovers every planted pair. Sub-band partitioning
    keeps the pigeonhole guarantee: the 3 diff bits sit at remaining-bit
    positions 4/17/44 (sub-bands 0/1/3 of 4×12 bits), so sub-band 2 is
    always equal."""
    mask46 = (1 << 46) - 1
    flips = (1 << 20) | (1 << 33) | (1 << 60)  # bands 1, 2, 3
    rows = []
    for i in range(150):
        u = (i * 0x9E3779B97F4A7C15) & mask46  # spread, deterministic
        fp_a = (u << 16) | 0x1234              # band 0 shared by ALL docs
        rows.append((2 * i, fp_a))
        rows.append((2 * i + 1, fp_a ^ flips))
    base = spark.createDataFrame(rows, "id long, fp long")
    pairs = dedup.simhash_pairs_from_fps(base, max_hamming=3, max_bucket=100)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(150)}
    assert planted <= got, f"lost {len(planted - got)} planted hot-bucket pairs"


def test_simhash_degenerate_census_never_colocates_a_bucket(spark):
    """VERDICT r9 #2: a degenerate corpus where MOST documents share one
    band value (near-constant fingerprints — templated/empty texts) must
    not serialize on one executor. The r9 count-window census shipped
    every row of the hot bucket to ONE window task and sorted it before
    the overflow split could fire. Fixture: 60% of docs (300/500) share
    band 0's value. Pins the r10 shape: no Window node anywhere (bucket
    sizes come from the bounded census AGGREGATE, whose map-side partial
    agg condenses the hot key before anything crosses the wire), the
    hot-key tag joins are broadcast (a shuffled tag join would co-locate
    the bucket again), the fingerprint producer executes once for all
    three consumers (ReusedExchange in the final adaptive plan), and the
    planted-pair recall of the sub-banding path is unchanged."""
    from rust_query_engine_greatest_spark.plans.explain import plan_string

    mask46 = (1 << 46) - 1
    flips = (1 << 20) | (1 << 33) | (1 << 60)  # bands 1, 2, 3
    rows = []
    for i in range(150):  # 300 rows all sharing band 0 (hot at cap 100)
        u = (i * 0x9E3779B97F4A7C15) & mask46
        fp_a = (u << 16) | 0x1234
        rows.append((2 * i, fp_a))
        rows.append((2 * i + 1, fp_a ^ flips))
    for i in range(200):  # 200 healthy rows; |1 keeps band 0 off 0x1234
        rows.append((10_000 + i,
                     ((i * 0xD1B54A32D192ED03) & ((1 << 62) - 1)) | 1))
    base = spark.createDataFrame(rows, "id long, fp long")
    pairs = dedup.simhash_pairs_from_fps(base, max_hamming=3, max_bucket=100)
    p = plan_string(pairs)
    assert "Window" not in p, f"census must not window:\n{p}"
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert "BroadcastHashJoin" in p, p
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(150)}
    assert planted <= got, f"lost {len(planted - got)} planted hot-bucket pairs"
    final = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


def test_simhash_double_overflow_drops_with_accounting(spark):
    """VERDICT r6 #8: when a SUB-bucket of a hot band bucket ALSO
    exceeds max_bucket, its pairs are dropped -- but (a) the drop is
    accounted (simhash_overflow_from_fps reports each dropped cell with
    its member count) and (b) recall for pairs outside the double-
    overflow survives. Fixture: 120 IDENTICAL fingerprints (every band
    bucket hot, every sub-bucket 120 > max_bucket=100 -> fully dropped)
    mixed with the planted near-dup pairs of the recall test above
    (hot band 0, healthy sub-buckets -> recovered)."""
    mask46 = (1 << 46) - 1
    flips = (1 << 20) | (1 << 33) | (1 << 60)  # bands 1, 2, 3
    rows = []
    for i in range(40):  # planted recoverable pairs: ids 0..79
        u = ((i + 1) * 0x9E3779B97F4A7C15) & mask46
        fp_a = (u << 16) | 0x1234
        rows.append((2 * i, fp_a))
        rows.append((2 * i + 1, fp_a ^ flips))
    clone_ids = list(range(1000, 1120))  # 120 identical docs
    for cid in clone_ids:
        rows.append((cid, 0x1234))  # u0 = 0: shares band 0 with planted
    base = spark.createDataFrame(rows, "id long, fp long")
    pairs = dedup.simhash_pairs_from_fps(base, max_hamming=3, max_bucket=100)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(40)}
    assert planted <= got, f"lost {len(planted - got)} recoverable pairs"
    clone_pairs = {p for p in got
                   if p[0] in set(clone_ids) and p[1] in set(clone_ids)}
    assert not clone_pairs, "double-overflow cells must drop, not emit"
    over = dedup.simhash_overflow_from_fps(
        base, max_hamming=3, max_bucket=100).collect()
    assert over, "dropped cells must be accounted"
    # every clone doc sits in an overflowed cell in EVERY band (identical
    # fps agree on all 4 bands and all 4 sub-bands)
    assert {r.band_id for r in over} == {0, 1, 2, 3}
    assert all(r.n_ids >= 120 for r in over)


def test_simhash_template_fixture_hamming_gap(spark):
    """Pins the constructive-oracle precondition for dedup_simhash: the
    40 template texts (docstring in queries/pipeline_q.py) have pairwise
    cross-template SimHash Hamming > 3, so Hamming<=3 output provably
    equals the same-template pair set. xxhash64 is deterministic, so
    this can never drift without a code change."""
    import itertools
    rows = [(t, " ".join(f"w{t}x{j}" for j in range(10))) for t in range(40)]
    df = spark.createDataFrame(rows, "tmpl int, text string")
    fps = {r.tmpl: r.fp for r in df.select("tmpl", dedup.simhash64("text").alias("fp")).collect()}
    min_ham = min(
        bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
        for a, b in itertools.combinations(fps, 2)
    )
    assert min_ham > 3, f"cross-template Hamming gap collapsed: {min_ham}"


def test_simhash_max_bucket_pair_array_bound(spark):
    """VERDICT r7 #6: the executor-memory bound that matters before
    anyone raises max_bucket at 100 TB. A bucket at EXACTLY the default
    max_bucket=1024 members pushes C(1024,2) = 523,776 pair-structs
    through a SINGLE aggregated row in _bucket_pairs (the
    collect_set → flatten/transform path, pipeline/dedup.py). Fixture:
    1024 docs with IDENTICAL fingerprints (every band bucket holds
    exactly 1024 = max_bucket, so the main path — not sub-banding —
    processes them wholesale; Hamming 0 keeps every pair). Asserts it
    completes and emits EXACTLY the full pair set: cardinality
    C(1024,2) with id_a < id_b over ids 0..1023 and hamming = 0 — a
    distinct pair relation of that size under those constraints IS the
    complete set."""
    from pyspark.sql import functions as F

    n = 1024
    base = spark.createDataFrame(
        [(i, 0x5A5A5A5A5A5A5A5) for i in range(n)], "id long, fp long")
    pairs = dedup.simhash_pairs_from_fps(base, max_hamming=3, max_bucket=n)
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct(F.struct("id_a", "id_b")).alias("n_distinct"),
        F.min("id_a").alias("min_a"), F.max("id_b").alias("max_b"),
        F.max(F.col("id_a") >= F.col("id_b")).alias("any_bad_order"),
        F.max("hamming").alias("max_ham"),
    ).collect()[0]
    assert agg.n_pairs == n * (n - 1) // 2 == agg.n_distinct
    assert (agg.min_a, agg.max_b) == (0, n - 1)
    assert agg.any_bad_order is False and agg.max_ham == 0


def test_winnow_md5_variant_matches_xxhash_structure(spark):
    """The md5 hash_fn (oracle path) must select the same WINDOW
    positions semantics as the xxhash64 fast path: identical docs agree
    under both, NULL text survives as a single empty-gram fingerprint,
    and the selection count stays within winnowing density bounds."""
    from rust_query_engine_greatest_spark.pipeline import text as T
    docs = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, None), (4, "ab")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for hash_fn in ("xxhash64", "md5"):
        fps = {r["id"]: r["fps"] for r in
               T.winnow_fingerprints(df, "doc_id", "text", hash_fn=hash_fn).collect()}
        assert set(fps) == {1, 2, 3, 4}, "every input id must appear (incl. NULL text)"
        assert fps[1] == fps[2]
        assert len(fps[3]) == 1 and len(fps[4]) == 1


def test_token_ngrams_short_doc_no_crash(spark):
    """Regression: docs with fewer than n tokens previously CRASHED
    token_ngrams (Spark sequence(1, 0) descends to [1, 0]; slice
    rejects start 0). Short/empty/NULL docs must yield empty arrays."""
    from rust_query_engine_greatest_spark.pipeline import text

    df = spark.createDataFrame(
        [("one",), ("two tokens",), ("",), (None,)], ["t"]
    )
    rows = df.select(
        text.token_ngrams(F.coalesce(F.col("t"), F.lit("")), 3).alias("g")
    ).collect()
    assert [r["g"] for r in rows] == [[], [], [], []]


def test_repetition_profile_planted(spark):
    """Planted fixture: a maximally repetitive doc fails both Gopher
    gates; a distinct-token doc passes; a short doc gets frac 0."""
    from rust_query_engine_greatest_spark.pipeline import text

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),   # dup 5/6, top bigram 5/5
            (2, "one two three four five six"),     # all distinct
            (3, "solo"),                            # no bigrams
        ],
        ["doc_id", "text"],
    )
    out = {
        r["id"]: r
        for r in text.repetition_profile(df, "doc_id", "text", n=2).collect()
    }
    assert out[1]["dup_token_frac"] == pytest.approx(5 / 6)
    assert out[1]["top_ngram_frac"] == pytest.approx(1.0)
    assert not out[1]["keep"]
    assert out[2]["dup_token_frac"] == 0.0
    assert out[2]["top_ngram_frac"] == pytest.approx(1 / 5)
    assert out[2]["keep"]
    assert out[3]["top_ngram_frac"] == 0.0
    assert out[3]["n_tokens"] == 1


def test_pack_sequences_boundary_semantics(spark):
    """A doc straddling the budget starts in the sequence its first
    token lands in; offsets are the in-sequence start positions."""
    from rust_query_engine_greatest_spark.pipeline import text

    df = spark.createDataFrame(
        [
            (0, " ".join(["w"] * 6), "s"),   # 6 tokens  → seq 0, offset 0
            (1, " ".join(["w"] * 3), "s"),   # 3 tokens  → prev 6  → seq 0, offset 6
            (2, " ".join(["w"] * 5), "s"),   # 5 tokens  → prev 9  → seq 0, offset 9 (straddles)
            (3, " ".join(["w"] * 2), "s"),   # 2 tokens  → prev 14 → seq 1, offset 4
        ],
        ["doc_id", "text", "sh"],
    )
    out = {
        r["id"]: r
        for r in text.pack_sequences(
            df, "doc_id", "text", budget=10, shard_col="sh"
        ).collect()
    }
    assert (out[0]["seq_id"], out[0]["offset"]) == (0, 0)
    assert (out[1]["seq_id"], out[1]["offset"]) == (0, 6)
    assert (out[2]["seq_id"], out[2]["offset"]) == (0, 9)
    assert (out[3]["seq_id"], out[3]["offset"]) == (1, 4)


def test_shingle_and_span_ops_handle_multi_mb_single_document(spark):
    """VERDICT r9 #6 pinned bound: the r9 gram assembly builds a
    document's whole k-gram array as ONE row value before posexplode,
    so transient task memory is ≈ k× the DOCUMENT size (each token
    appears in k grams) — bounded per document, not per corpus, vs the
    old streaming lead-window rows. This pins the envelope: a multi-MB
    single-line document (400k tokens, ~2.7 MB) must shingle completely
    and exactly in the default test heap, and span_scrub must
    reconstruct it byte-identically (all chunks unique → nothing cut).
    A pathological document costs k× its own size in one task row;
    corpora with larger documents raise executor memory, not this
    code."""
    n, k, w = 400_000, 3, 10
    text = " ".join(f"t{i}" for i in range(n))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")

    rows = dedup.shingle_rows(df, "doc_id", "text", k)
    agg = rows.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("pos").alias("min_pos"), F.max("pos").alias("max_pos"),
        F.count_distinct("pos").alias("n_pos"),
    ).collect()[0]
    assert agg.n_rows == n - k + 1 == agg.n_pos
    assert (agg.min_pos, agg.max_pos) == (0, n - k)
    ends = {r.pos: r.s for r in rows.filter(
        F.col("pos").isin(0, n - k)).collect()}
    assert ends[0] == "t0 t1 t2"
    assert ends[n - k] == f"t{n-3} t{n-2} t{n-1}"

    scrub = dedup.span_scrub(df, "doc_id", "text", span_w=w).collect()[0]
    assert scrub.n_spans == n // w and scrub.n_cut == 0
    assert scrub.text_scrubbed == text


def test_shingle_rows_matches_word_shingles(spark):
    """Row-based shingles must cover exactly the word_shingles set,
    including the short-doc head-shingle clamp and empty text."""
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, ""), (4, "x y z")],
        ["doc_id", "text"],
    )
    arr = {
        r["id"]: set(r["sh"])
        for r in df.select(
            F.col("doc_id").alias("id"),
            dedup.word_shingles("text", 3).alias("sh"),
        ).collect()
    }
    rows = dedup.shingle_rows(df, "doc_id", "text", 3).collect()
    got: dict[int, set] = {}
    for r in rows:
        got.setdefault(r["id"], set()).add(r["s"])
    assert got == arr


def test_span_dedup_planted(spark):
    """Two docs sharing one exact 10-token chunk are both flagged for
    that span; a unique doc has dup_frac 0. An intra-doc repeat also
    counts (C4 counts occurrences, not distinct docs)."""
    from rust_query_engine_greatest_spark.pipeline import dedup

    chunk = " ".join(f"w{i}" for i in range(10))
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, f"{chunk} {uniq_a}"),            # spans: chunk, uniq_a
            (2, f"{chunk} {uniq_b}"),            # spans: chunk, uniq_b
            (3, " ".join(f"c{i}" for i in range(20))),  # all unique
            (4, f"{chunk} {chunk}"),             # intra-doc repeat
        ],
        ["doc_id", "text"],
    )
    out = {r["id"]: r for r in dedup.span_dedup_stats(df, "doc_id", "text").collect()}
    assert (out[1]["n_spans"], out[1]["n_dup_spans"]) == (2, 1)
    assert out[1]["dup_frac"] == pytest.approx(0.5) and out[1]["keep"]
    assert out[2]["n_dup_spans"] == 1
    assert out[3]["n_dup_spans"] == 0 and out[3]["keep"]
    assert (out[4]["n_spans"], out[4]["n_dup_spans"]) == (2, 2)
    assert not out[4]["keep"]


def test_span_scrub_planted(spark):
    """Rewrite semantics: the corpus-wide FIRST occurrence (by id, pos)
    of a duplicated chunk survives, every later occurrence is cut, and
    the survivors are stitched back in token order — including the
    trailing partial chunk the scoring op drops, and intra-document
    repeats where the document itself holds the first occurrence."""
    from rust_query_engine_greatest_spark.pipeline import dedup

    chunk = " ".join(f"w{i}" for i in range(10))
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    dup7 = " ".join(f"x{i}" for i in range(10))
    tail15 = " ".join(f"d{i}" for i in range(15))
    df = spark.createDataFrame(
        [
            (1, f"{chunk} {uniq_a}"),   # first corpus-wide: keeps both
            (2, f"{chunk} {uniq_b}"),   # chunk is rn=2 → cut
            (3, ""),                    # one '' chunk, unique → kept
            (4, f"{chunk} {chunk}"),    # both occurrences cut
            (5, tail15),                # full chunk + PARTIAL tail kept
            (7, f"{dup7} {dup7}"),      # intra-doc: first kept, repeat cut
        ],
        ["doc_id", "text"],
    )
    out = {r["id"]: r for r in
           dedup.span_scrub(df, "doc_id", "text").collect()}
    assert (out[1]["n_cut"], out[1]["text_scrubbed"]) == (0, f"{chunk} {uniq_a}")
    assert (out[2]["n_cut"], out[2]["text_scrubbed"]) == (1, uniq_b)
    assert (out[3]["n_spans"], out[3]["n_cut"], out[3]["text_scrubbed"]) == (1, 0, "")
    assert (out[4]["n_spans"], out[4]["n_cut"], out[4]["text_scrubbed"]) == (2, 2, "")
    assert (out[5]["n_spans"], out[5]["n_cut"], out[5]["text_scrubbed"]) == (2, 0, tail15)
    assert (out[7]["n_spans"], out[7]["n_cut"], out[7]["text_scrubbed"]) == (2, 1, dup7)


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    """Kept fraction per stratum tracks its configured rate; absent
    strata are dropped; repeated runs give the identical id set."""
    from rust_query_engine_greatest_spark.pipeline import text

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    rates = {"src0": 1.0, "src1": 0.0, "src2": 0.5}
    out = text.stratified_hash_sample(d, "doc_id", "source", rates)
    rows = out.collect()
    by_src: dict[str, int] = {}
    for r in rows:
        by_src[r["source"]] = by_src.get(r["source"], 0) + 1
    totals = {r["source"]: r["n"] for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_src.get("src0", 0) == totals["src0"]          # rate 1.0 keeps all
    assert "src1" not in by_src                              # rate 0.0 drops all
    assert set(by_src) <= {"src0", "src2"}                   # unlisted strata dropped
    assert 0 < by_src.get("src2", 0) < totals["src2"]        # strict subsample
    again = {r["doc_id"] for r in text.stratified_hash_sample(d, "doc_id", "source", rates).collect()}
    assert again == {r["doc_id"] for r in rows}


def test_connected_components_chain_and_singleton_split(spark):
    """Min-label propagation over a diameter-3 chain plus a separate
    pair: every chain node gets the chain min, the pair keeps its own
    min, and nodes absent from the edge list are absent from the output."""
    from rust_query_engine_greatest_spark.pipeline import cluster

    pairs = spark.createDataFrame(
        [(7, 3), (3, 9), (9, 11), (20, 25)], "id_a long, id_b long"
    )
    got = {(r["id"], r["component"]) for r in cluster.connected_components(pairs).collect()}
    assert got == {(3, 3), (7, 3), (9, 3), (11, 3), (20, 20), (25, 20)}


def test_connected_components_max_iter_raises(spark):
    """A diameter-4 chain cannot reach fixpoint in one round: the
    driver loop must RAISE, not silently return partial labels."""
    import pytest as _pytest

    from rust_query_engine_greatest_spark.pipeline import cluster

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="fixpoint"):
        cluster.connected_components(chain, max_iter=1)


def test_keep_canonical_keeps_min_and_singletons(spark):
    """keep_canonical: one survivor (the min id) per component; docs
    with no near-dup pair survive untouched."""
    from rust_query_engine_greatest_spark.pipeline import cluster

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 10, 11, 99)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    kept = {r["doc_id"] for r in cluster.keep_canonical(docs, pairs, "doc_id").collect()}
    assert kept == {1, 10, 99}


def test_mixture_epochs_copies_and_determinism(spark):
    """mixture_epochs: floor(w) guaranteed copies, ≤1 extra, unlisted
    strata dropped, __epoch contiguous from 1, deterministic across
    calls; negative weights rejected."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from rust_query_engine_greatest_spark.pipeline.text import mixture_epochs

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else ("b" if i % 3 == 0 else "z"))
         for i in range(200)],
        "id long, src string",
    )
    out = mixture_epochs(df, "id", "src", {"a": 2.5, "b": 0.0})
    per = {r["src"]: r for r in out.groupBy("src").agg(
        F.count("*").alias("n"),
        F.countDistinct("id").alias("docs"),
        F.max("__epoch").alias("max_epoch"),
        F.min("__epoch").alias("min_epoch"),
    ).collect()}
    assert set(per) == {"a"}          # z unlisted → dropped; b w=0 → dropped
    a = per["a"]
    assert a["docs"] == 100 and a["min_epoch"] == 1 and a["max_epoch"] == 3
    assert 200 <= a["n"] <= 300       # 2 copies each + fraction get a 3rd
    # every doc has epochs 1..n_i contiguous
    bad = (
        out.groupBy("id").agg(F.count("*").alias("n"), F.max("__epoch").alias("m"))
        .filter(F.col("n") != F.col("m")).count()
    )
    assert bad == 0
    again = mixture_epochs(df, "id", "src", {"a": 2.5, "b": 0.0})
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))
    with _pytest.raises(ValueError, match="negative mixture weight"):
        mixture_epochs(df, "id", "src", {"a": -1.0})


def test_zero_norm_embeddings_never_rank_or_pair(spark):
    """Zero-norm vectors make cosine 0/0 = NaN, and Spark sorts NaN
    above every double — the guard turns undefined similarity into NULL
    so zero vectors neither pair in dedup nor take top-k slots."""
    from rust_query_engine_greatest_spark.pipeline.dedup import embedding_dup_pairs
    from rust_query_engine_greatest_spark.pipeline.similarity import brute_force_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 0.0])],
        "id long, embedding array<double>",
    )
    pairs = embedding_dup_pairs(df, "id", "embedding", threshold=0.9)
    ids = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert ids == {(1, 2)}  # nothing involving the zero vector
    topk = brute_force_topk(df, df, "id", "id", "embedding", k=2).collect()
    assert all(r["cid"] != 3 for r in topk)


def test_rate_hex_threshold_near_one_fraction(spark):
    """A fraction that ROUNDS to 65536 must keep everything ('g000'),
    not fall into the 5-char '10000' trap that keeps ~1/16."""
    from rust_query_engine_greatest_spark.pipeline.text import (
        mixture_epochs,
        rate_hex_threshold,
    )

    assert rate_hex_threshold(0.9999999) == "g000"
    assert rate_hex_threshold(0.5) == "8000"
    df = spark.createDataFrame([(i, "a") for i in range(50)], "id long, src string")
    out = mixture_epochs(df, "id", "src", {"a": 2.9999999})
    assert out.count() == 150  # every doc gets the 3rd copy


def test_semantic_dedup_contract(spark):
    """SemDeDup invariants on a constructed space: exactly one keeper
    per cluster, keepers always kept, and the keep flag is exactly
    (cos_keeper < eps) for non-keepers. Two orthogonal groups of
    near-identical vectors must collapse to one keeper each."""
    from rust_query_engine_greatest_spark.pipeline.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0]),        # centroid 0 (lowest ids are cents)
        (1, [0.0, 1.0, 0.0]),        # centroid 1
        (2, [0.99, 0.01, 0.0]),      # near group A
        (3, [0.98, 0.02, 0.0]),      # near group A
        (4, [0.0, 0.97, 0.03]),      # near group B
        (5, [0.0, 0.0, 1.0]),        # orthogonal to both keepers
    ]
    out = semantic_dedup(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        "vec_id", "embedding", k=2, eps=0.9,
    )
    got = {r["vec_id"]: r for r in out.collect()}
    assert len(got) == len(rows)  # one verdict per row
    # exactly one keeper per cluster, and every keeper keeps
    keepers = {}
    for r in got.values():
        if r["cos_keeper"] == max(
            x["cos_keeper"] for x in got.values() if x["cluster"] == r["cluster"]
        ):
            keepers.setdefault(r["cluster"], r["vec_id"])
    assert set(keepers) == {0, 1}
    # group A collapses onto cluster 0's keeper; 5 is kept (cos < eps)
    assert got[2]["cluster"] == 0 and got[2]["keep"] is False
    assert got[3]["cluster"] == 0 and got[3]["keep"] is False
    assert got[4]["cluster"] == 1 and got[4]["keep"] is False
    assert got[5]["keep"] is True
    assert got[0]["keep"] is True and got[1]["keep"] is True


def test_semantic_dedup_corpus_never_shuffles(spark, sf_dir):
    """Scale-shape pin: the only exchange is the K-group keeper
    aggregate (plus its broadcast back) — assignment and the dup test
    stay map-side over one scan, so the corpus itself never shuffles
    on a data-sized key."""
    from rust_query_engine_greatest_spark.plans import count_shuffle_exchanges

    df = REGISTRY["dedup_semantic"].build(spark, sf_dir)
    assert count_shuffle_exchanges(df) <= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_unigram_prob_score_semantics(spark):
    """Common-token docs outscore rare-token docs; OOV tokens score 0
    but still count; zero-token docs emit no row."""
    from rust_query_engine_greatest_spark.pipeline.text import unigram_prob_score

    rows = [(1, "the the the cat"), (2, "zyx qwv"), (3, "the cat"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           unigram_prob_score(df, "doc_id", "text", vocab_size=3).collect()}
    assert set(out) == {1, 2, 3}  # the empty doc has no row
    # vocab (top-3 by count, tok asc ties): the(4), cat(2), qwv(1)
    assert out[1]["n_in_vocab"] == 4 and out[1]["n_tokens"] == 4
    assert out[2]["n_in_vocab"] == 1  # qwv in vocab, zyx OOV
    assert out[1]["score"] > out[3]["score"] > out[2]["score"]
    assert all(0.0 <= r["score"] <= 1.0 for r in out.values())


def test_unigram_quality_plan_shape(spark, sf_dir):
    """Scale-shape pin: the vocabulary is a distributed top-V
    (TakeOrderedAndProject, not a single-partition window) broadcast
    back to the token stream; the corpus crosses bounded exchanges
    (token-count agg, scalar total, doc-id fold)."""
    from rust_query_engine_greatest_spark.plans import count_shuffle_exchanges

    df = REGISTRY["text_unigram_quality"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert count_shuffle_exchanges(df) <= 4


def test_chunk_overlap_semantics(spark):
    """Window/stride slicing: full coverage with W-S token overlap,
    trailing partial kept, sub-window docs yield one chunk, empty docs
    none."""
    from rust_query_engine_greatest_spark.pipeline.text import chunk_overlap

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, words), (2, "a b"), (3, "")], "doc_id long, text string")
    out = chunk_overlap(df, "doc_id", "text", window=4, stride=3).collect()
    got = {(r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_text"])
           for r in out}
    # doc 1: starts 0,3,6,9 -> chunks of 4,4,4,1 tokens
    assert got[(1, 0)] == (4, "w0 w1 w2 w3")
    assert got[(1, 1)] == (4, "w3 w4 w5 w6")  # 1-token overlap (W-S)
    assert got[(1, 3)] == (1, "w9")
    assert got[(2, 0)] == (2, "a b")
    assert all(d != 3 for d, _ in got)  # empty doc: no chunks


def test_chunk_overlap_zero_exchanges(spark, sf_dir):
    """Scale-shape pin: chunking is a scan-side projection — no
    shuffle anywhere in the plan."""
    from rust_query_engine_greatest_spark.plans import count_shuffle_exchanges

    df = REGISTRY["text_chunk_overlap"].build(spark, sf_dir)
    assert count_shuffle_exchanges(df) == 0


# --- bloom incremental dedup -------------------------------------------


def test_bloom_build_sets_expected_bits(spark):
    """Every fingerprint's k positions are set in the built bitmap, and
    a probe of the same fingerprints returns true (no false negatives —
    the structural bloom guarantee)."""
    base = spark.createDataFrame([(f"fp{i}",) for i in range(50)], "fp string")
    bitmap = dedup.bloom_build(base, "fp")
    assert len(bitmap) == dedup.BLOOM_M // 64
    assert any(w != 0 for w in bitmap)
    probed = dedup.bloom_incremental_dedup(base, base, "fp").collect()
    assert all(r["maybe_dup"] for r in probed)


def test_bloom_bit63_roundtrips(spark):
    """The sign-bit mask (bit 63) sets and probes correctly — the
    two's-complement edge of the element_at mask table."""
    from pyspark.sql import Row

    # find a fingerprint whose first hash lands on bit 63 of some word
    fp = None
    for i in range(20000):
        cand = f"b63-{i}"
        row = spark.range(1).select(
            *[p.alias(f"p{j}") for j, p in enumerate(
                dedup._bloom_positions(F.lit(cand)))]
        ).collect()[0]
        if any(row[f"p{j}"] % 64 == 63 for j in range(dedup.BLOOM_K)):
            fp = cand
            break
    assert fp is not None
    one = spark.createDataFrame([Row(fp=fp)])
    bitmap = dedup.bloom_build(one, "fp")
    out = dedup.bloom_incremental_dedup(one, one, "fp").collect()
    assert out[0]["maybe_dup"] is True


def test_bloom_incremental_matches_exact_on_fixture(spark, sf_dir):
    """The registry fixture has ~1e-11 per-probe false-positive odds at
    n=100/m=2^16/k=5, so bloom == the exact semi-join answer; also pin
    non-vacuity (both flag values occur)."""
    got = {(r["doc_id"], r["maybe_dup"])
           for r in REGISTRY["dedup_bloom_incremental"].build(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    base_t = {r[0] % 150 for r in docs.filter(F.col("doc_id") < 100)
              .select("doc_id").collect()}
    want = {(r[0], (r[0] % 150) in base_t)
            for r in docs.filter(F.col("doc_id") >= 100).select("doc_id").collect()}
    assert got == want
    flags = {f for _, f in got}
    assert flags == {True, False}


def test_bloom_probe_no_join_no_exchange(spark, sf_dir):
    """Scale-shape pin: the probe side is a pure map projection — the
    bitmap rides as a plan literal, so screening a 100 TB batch adds no
    join and no shuffle (the build side is a separate, already-executed
    1024-group aggregation)."""
    from rust_query_engine_greatest_spark.plans import (
        count_shuffle_exchanges,
        plan_string,
    )

    df = REGISTRY["dedup_bloom_incremental"].build(spark, sf_dir)
    plan = plan_string(df)
    assert count_shuffle_exchanges(df) == 0
    assert "Join" not in plan


# --- per-domain cap ------------------------------------------------------


def test_domain_cap_caps_and_is_deterministic(spark, sf_dir):
    """<= cap rows per domain, rank dense in 1..cap, and the survivor
    set is identical under a different input partitioning (hash-rank
    determinism — the property rand()-ranked caps lack)."""
    from rust_query_engine_greatest_spark.pipeline import text as t

    docs = load_table(spark, sf_dir, "documents")
    out = t.domain_cap(docs, "doc_id", "source", cap=10).collect()
    per = {}
    for r in out:
        per.setdefault(r["domain"], []).append(r["cap_rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 10
               for v in per.values())
    again = {(r["doc_id"], r["domain"], r["cap_rank"])
             for r in t.domain_cap(docs.repartition(7), "doc_id", "source",
                                   cap=10).collect()}
    assert again == {(r["doc_id"], r["domain"], r["cap_rank"]) for r in out}


def test_domain_cap_window_group_limit(spark, sf_dir):
    """Scale-shape pin: the <= cap rank filter becomes WindowGroupLimit
    (per-map-task partial top-cap BEFORE the one domain exchange), so
    the shuffle carries O(cap x domains x tasks), not the corpus."""
    from rust_query_engine_greatest_spark.plans import (
        count_shuffle_exchanges,
        plan_string,
    )

    df = REGISTRY["text_domain_cap"].build(spark, sf_dir)
    assert "WindowGroupLimit" in plan_string(df)
    assert count_shuffle_exchanges(df) == 1


def test_bloom_no_false_negatives_randomized(spark):
    """Structural bloom guarantee on arbitrary fingerprints: EVERY
    member of the base set probes true (false positives are possible by
    design; false negatives never). Deterministic seed keeps the driver
    check reproducible."""
    import random as pyrandom

    rnd = pyrandom.Random(20240815)
    fps = [("fp-%030x" % rnd.getrandbits(120),) for _ in range(300)]
    base = spark.createDataFrame(fps[:150], "fp string")
    allfp = spark.createDataFrame(fps, "fp string")
    out = dedup.bloom_incremental_dedup(base, allfp, "fp").collect()
    members = {r[0] for r in fps[:150]}
    for r in out:
        if r["fp"] in members:
            assert r["maybe_dup"], f"false negative on {r['fp']}"


def test_semantic_decontaminate_zero_exchanges_and_nonvacuous(spark, sf_dir):
    """Scale-shape pin: the eval set is plan literals, so the corpus is
    screened with no join and no shuffle; and the 0.4 threshold splits
    the fixture non-vacuously (both flag values occur)."""
    from rust_query_engine_greatest_spark.plans import (
        count_shuffle_exchanges,
        plan_string,
    )

    df = REGISTRY["text_semantic_decontaminate"].build(spark, sf_dir)
    assert count_shuffle_exchanges(df) == 0
    assert "Join" not in plan_string(df)
    flags = {r["contaminated"] for r in df.collect()}
    assert flags == {True, False}


def test_minhash_index_persist_probe_roundtrip(spark, sf_dir, tmp_path):
    """The incremental near-dup path (dedup_minhash_index_probe): the
    LSH index survives a parquet write → read-back (the production
    shape — index computed at ingest, probed by later batches), the
    probe against the PERSISTED index equals the probe against the
    live one, candidates are a superset of the verified pairs, and the
    verified pairs equal minhash_lsh_pairs' same-corpus/batch slice."""
    from rust_query_engine_greatest_spark.queries.pipeline_q import (
        _template_docs,
    )

    docs = _template_docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 300))
    live = dedup.minhash_index_rows(corpus, "doc_id", "text")
    path = str(tmp_path / "lsh_index.parquet")
    live.write.parquet(path)
    persisted = spark.read.parquet(path)

    def pairs(ix, verify):
        df = dedup.minhash_index_probe(
            batch, ix, "doc_id", "text",
            verify_texts=corpus if verify else None)
        return {(r["batch_id"], r["corpus_id"]) for r in df.collect()}

    verified = pairs(persisted, verify=True)
    assert verified == pairs(live, verify=True)
    assert verified <= pairs(persisted, verify=False)  # cand superset
    # cross-check vs the pairwise operator on the union, restricted to
    # (batch, corpus) pairs — index+probe must find exactly those
    both = dedup.minhash_lsh_pairs(
        corpus.unionByName(batch), "doc_id", "text", threshold=0.8)
    want = {(b, a) if b >= 100 else (a, b)
            for a, b in ((r["id_a"], r["id_b"]) for r in both.collect())
            if (a < 100) != (b < 100)}
    assert verified == want


def test_simhash_index_persist_probe_roundtrip(spark, sf_dir, tmp_path):
    """SimHash sibling of the minhash round-trip: the persisted index
    probe equals the live one, and the verified pairs equal
    simhash_pairs' (batch × corpus) slice on the union."""
    from rust_query_engine_greatest_spark.queries.pipeline_q import (
        _template_docs,
    )

    docs = _template_docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 300))
    live = dedup.simhash_index_rows(corpus, "doc_id", "text")
    path = str(tmp_path / "simhash_index.parquet")
    live.write.parquet(path)
    persisted = spark.read.parquet(path)

    def pairs(ix):
        df = dedup.simhash_index_probe(batch, ix, "doc_id", "text",
                                       max_hamming=3)
        return {(r["batch_id"], r["corpus_id"]) for r in df.collect()}

    got = pairs(persisted)
    assert got == pairs(live)
    both = dedup.simhash_pairs(
        corpus.unionByName(batch), "doc_id", "text", max_hamming=3)
    want = {(b, a) if b >= 100 else (a, b)
            for a, b in ((r["id_a"], r["id_b"]) for r in both.collect())
            if (a < 100) != (b < 100)}
    assert got == want


# ---- WAV (RIFF/PCM) codec + audio stats (VERDICT r8 #6) -------------------


def test_wav_roundtrip_and_chunk_walk():
    """encode_wav → decode_wav is lossless, and the decoder is a real
    chunk walk: extra chunks (LIST before fmt, odd-sized chunk with
    pad byte) and non-canonical order must not break it."""
    import numpy as np

    from rust_query_engine_greatest_spark.pipeline import multimodal as mm

    samples = np.array([0, 100, -100, 32767, -32768, 7], dtype=np.int16)
    payload = mm.encode_wav(samples, sample_rate=44100)
    got, rate, ch = mm.decode_wav(payload)
    assert rate == 44100 and ch == 1
    assert np.array_equal(got.ravel(), samples)

    # rebuild with a LIST chunk ahead of fmt and an odd-sized junk
    # chunk (word-aligned with a pad byte) between fmt and data
    fmt = payload[12:36]          # 'fmt ' chunk (8 + 16 bytes)
    data = payload[36:]           # 'data' chunk
    junk = b"junk" + (3).to_bytes(4, "little") + b"abc" + b"\x00"
    lst = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    body = lst + fmt + junk + data
    scrambled = b"RIFF" + len(body).to_bytes(4, "little") + b"WAVE" + body
    got2, rate2, ch2 = mm.decode_wav(scrambled)
    assert rate2 == 44100 and np.array_equal(got2.ravel(), samples)


def test_wav_stereo_interleave():
    import numpy as np

    from rust_query_engine_greatest_spark.pipeline import multimodal as mm

    inter = np.array([1, -1, 2, -2, 3, -3], dtype=np.int16)  # L R L R L R
    payload = mm.encode_wav(inter, sample_rate=8000, channels=2)
    got, rate, ch = mm.decode_wav(payload)
    assert ch == 2 and got.shape == (3, 2)
    assert np.array_equal(got[:, 0], np.array([1, 2, 3]))
    assert np.array_equal(got[:, 1], np.array([-1, -2, -3]))


def test_wav_unsupported_codecs_gated():
    """IEEE-float and 8-bit WAV need an audio library → actionable
    NotImplementedError; garbage isn't silently parsed."""
    import numpy as np
    import pytest as _pytest

    from rust_query_engine_greatest_spark.pipeline import multimodal as mm

    payload = bytearray(mm.encode_wav(np.array([1, 2], dtype=np.int16)))
    payload[20:22] = (3).to_bytes(2, "little")  # wFormatTag = IEEE float
    with _pytest.raises(NotImplementedError, match="PCM 16-bit"):
        mm.decode_wav(bytes(payload))
    payload[20:22] = (1).to_bytes(2, "little")
    payload[34:36] = (8).to_bytes(2, "little")  # 8-bit
    with _pytest.raises(NotImplementedError):
        mm.decode_wav(bytes(payload))
    with _pytest.raises(ValueError):
        mm.decode_wav(b"ID3\x03\x00 not a wav")
    with _pytest.raises(ValueError):
        mm.decode_wav(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data


def test_audio_stats_golden_vs_numpy(spark, sf_dir):
    """audio_stats through the full Spark mapInPandas path equals a
    direct NumPy recomputation from the same text bytes (the
    oracle-independent golden check, mirroring the image kernels)."""
    import numpy as np

    from rust_query_engine_greatest_spark.pipeline import multimodal as mm

    d = load_table(spark, sf_dir, "documents").limit(50)
    rows = {r.media_id: r for r in mm.audio_stats(
        mm.wav_media_from_documents(d)).collect()}
    for doc in d.collect():
        raw = (doc.text or "").encode("utf-8")
        buf = (np.frombuffer((raw * (256 // max(len(raw), 1) + 1))[:256],
                             dtype=np.uint8)
               if raw else np.zeros(256, dtype=np.uint8))
        s = (buf.astype(np.int64) - 128) * 256
        r = rows[doc.doc_id]
        assert r.channels == 1 and r.sample_rate == 8000
        assert r.n_samples == 256 and r.duration_ms == 32
        assert r.mean_amp == float(s.sum()) / 256
        assert r.peak == int(np.abs(s).max())
        assert r.rms == float(np.sqrt(float((s * s).sum()) / 256))


def test_audio_stats_drops_undecodable(spark):
    from pyspark.sql import functions as F

    from rust_query_engine_greatest_spark.pipeline import multimodal as mm

    df = spark.createDataFrame(
        [(1, bytearray(mm.encode_wav(__import__("numpy").array([5, -5], dtype="int16")))),
         (2, bytearray(b"not audio at all")),
         (3, None)],
        "media_id long, payload binary").withColumn(
            "meta", F.lit(None).cast(
                "struct<kind:string,mime:string,width:int,height:int,duration_ms:bigint>"))
    got = mm.audio_stats(df).collect()
    assert [r.media_id for r in got] == [1]
    assert got[0].peak == 5


def test_wav_roundtrip_fuzz():
    """Property fuzz (reference fuzz-corpus discipline): any int16
    sample block at any rate/channel count survives encode→decode
    bit-exactly, including the empty payload."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    from rust_query_engine_greatest_spark.pipeline import multimodal as mm

    @settings(max_examples=60, deadline=None)
    @given(
        frames=st.integers(min_value=0, max_value=300),
        ch=st.integers(min_value=1, max_value=4),
        rate=st.sampled_from([8000, 16000, 22050, 44100, 48000]),
        data=st.data(),
    )
    def check(frames, ch, rate, data):
        samples = data.draw(arrays(np.int16, frames * ch,
                                   elements=st.integers(-32768, 32767)))
        got, got_rate, got_ch = mm.decode_wav(
            mm.encode_wav(samples, sample_rate=rate, channels=ch))
        assert got_rate == rate and got_ch == ch
        assert got.shape == (frames, ch)
        assert np.array_equal(got.ravel(), samples)

    check()
