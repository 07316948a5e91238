"""Self-oracles for the engine-specific (non-SQL-expressible) pipeline ops:
MinHash/LSH recall, SimHash behavior, IVF ANN recall, multimodal plumbing."""
import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from tsgen import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark):
    # corpus with planted near-duplicates
    base = (
        "the quick brown fox jumps over the lazy dog while the cat sleeps "
        "on the warm mat near the old wooden door of the small house"
    )
    rows = [Row(doc_id=0, text=base, lang="en", source="s0")]
    words = base.split()
    # near-dup: one word changed
    w2 = words.copy()
    w2[5] = "leaps"
    rows.append(Row(doc_id=1, text=" ".join(w2), lang="en", source="s0"))
    # unrelated docs
    rng = np.random.RandomState(7)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    for i in range(2, 30):
        rows.append(
            Row(
                doc_id=i,
                text=" ".join(rng.choice(vocab, size=30)),
                lang="en",
                source="s0",
            )
        )
    return spark.createDataFrame(rows)


def test_exact_dedup_finds_planted_dup(spark, docs):
    dup = docs.union(docs.filter(F.col("doc_id") == 0).withColumn("doc_id", F.lit(99)))
    out = dedup.exact_dedup(dup).filter("is_dup").collect()
    assert [r.doc_id for r in out] == [99]


def test_jaccard_planted_neardup_ranked_first(spark, docs):
    pairs = dedup.jaccard_pairs(docs, ["lang", "source"], threshold=0.0).toPandas()
    top = pairs.sort_values("jaccard", ascending=False).iloc[0]
    assert {top.doc_a, top.doc_b} == {0, 1}
    assert top.jaccard > 0.7


def test_minhash_lsh_recall(spark, docs):
    # the planted near-dup pair must survive LSH candidate generation
    pairs = dedup.minhash_lsh_pairs(docs, verify_threshold=0.5).toPandas()
    assert any((set(p) == {0, 1}) for p in zip(pairs.doc_a, pairs.doc_b))
    # and verified jaccard matches the exact computation
    exact = dedup.jaccard_pairs(docs, ["lang", "source"], threshold=0.5).toPandas()
    got = pairs[(pairs.doc_a == 0) & (pairs.doc_b == 1)].jaccard.iloc[0]
    want = exact[(exact.doc_a == 0) & (exact.doc_b == 1)].jaccard.iloc[0]
    assert abs(got - want) < 1e-12


def test_simhash_neardups_close(spark, docs):
    sim = dedup.simhash(docs)
    pairs = dedup.hamming_pairs(sim, max_dist=64).toPandas()
    planted = pairs[(pairs.doc_a == 0) & (pairs.doc_b == 1)]
    assert len(planted) == 1
    rest = pairs[~((pairs.doc_a == 0) & (pairs.doc_b == 1))]
    # planted near-dup much closer in hamming space than random pairs' mean
    assert planted.hamming.iloc[0] < 10
    if len(rest):
        assert planted.hamming.iloc[0] < rest.hamming.mean()


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(0)
    vecs = rng.randn(120, 16).astype("float32")
    vecs[7] = vecs[3] + 0.01 * rng.randn(16).astype("float32")  # planted near-dup
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]], label=int(i % 3)) for i in range(120)]
    )


def test_brute_force_topk_matches_numpy(spark, emb):
    out = similarity.brute_force_topk(emb, emb.filter("vec_id < 3"), k=4).toPandas()
    pdf = emb.toPandas().sort_values("vec_id")
    V = np.array([np.array(v, dtype=float) for v in pdf.embedding])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = Vn @ Vn.T
    for q in range(3):
        s = sims[q].copy()
        s[q] = -np.inf
        want = np.argsort(-s, kind="stable")[:4]
        got = out[out.query_id == q].sort_values("rank").neighbor_id.to_numpy()
        assert list(got) == list(want)


def test_ivf_recall(spark, emb):
    brute = similarity.brute_force_topk(emb, emb.filter("vec_id < 8"), k=3).toPandas()
    ivf = similarity.ivf_topk(emb, 8, k=3, n_cells=6, nprobe=3).toPandas()
    # ANN: recall@3 over 8 queries should be decent, and the planted
    # near-identical pair must be found
    hits = 0
    for q in range(8):
        b = set(brute[brute.query_id == q].neighbor_id)
        a = set(ivf[ivf.query_id == q].neighbor_id)
        hits += len(a & b)
    assert hits / (8 * 3) >= 0.5
    assert 7 in set(ivf[ivf.query_id == 3].neighbor_id)


def test_multimodal_plumbing(spark, docs):
    media = multimodal.as_media_table(docs.withColumn("n_chars", F.length("text")))
    feats = multimodal.extract_features(media).toPandas()
    assert len(feats) == docs.count()
    # checksum is deterministic and byte_len matches payload length
    row = docs.filter("doc_id = 0").collect()[0]
    want = multimodal.decode_stub(row.text.encode())
    got = feats[feats.doc_id == 0].iloc[0]
    assert got.byte_len == want["byte_len"] and got.checksum == want["checksum"]


def test_ppm_decode_roundtrip_and_stats(spark, docs):
    import numpy as np
    import pytest

    # the renderer emits real P6 bytes; the decoder must recover the exact
    # pixel grid (header parse, offset, reshape, channel order)
    for d in (0, 5, 17):
        w, h = multimodal._ppm_dims(d)
        dw, dh, px = multimodal.decode_ppm(multimodal.render_ppm(d))
        assert (dw, dh) == (w, h)
        y, x = np.mgrid[0:h, 0:w]
        assert (px[..., 0] == (7 * x + 13 * y + d) % 256).all()
        assert (px[..., 1] == (5 * x + 11 * y + 2 * d) % 256).all()
        assert (px[..., 2] == (3 * x + 17 * y + 5 * d) % 256).all()
    # spec corners: '#' comments in the header are skipped; malformed
    # magic / truncated raster / deep maxval are rejected loudly
    body = multimodal.render_ppm(3)
    commented = b"P6\n# a comment\n" + body[3:]
    assert multimodal.decode_ppm(commented)[0] == multimodal._ppm_dims(3)[0]
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"P5" + body[2:])
    with pytest.raises(ValueError):
        multimodal.decode_ppm(body[: len(body) - 4])
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"P6\n4 4\n65535\n" + b"\x00" * 96)
    # negative/zero dims must raise, not produce a garbage array (ADVICE r08:
    # numpy infers negative reshape dims and frombuffer(count<0) reads all)
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"P6\n-4 4\n255\n" + b"\x00" * 96)
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"P6\n4 0\n255\n" + b"\x00" * 96)
    # distributed path: one stats row per doc, hand-checked means for doc 0
    media = multimodal.synth_ppm_media(docs)
    stats = multimodal.image_stats(media).toPandas()
    assert len(stats) == docs.count()
    w0, h0 = multimodal._ppm_dims(0)
    _, _, px0 = multimodal.decode_ppm(multimodal.render_ppm(0))
    row = stats[stats.doc_id == 0].iloc[0]
    assert (row.width, row.height, row.n_pixels) == (w0, h0, w0 * h0)
    assert row.mean_r == float(np.floor((px0[..., 0].mean() + 1e-9) * 1e4 + 0.5) / 1e4)


def test_decode_ppm_roundtrip_property():
    # property: ANY (w, h, pixels) rendered to spec-conformant P6 bytes —
    # with arbitrary header whitespace and an optional comment — decodes
    # back to the exact pixel grid
    from hypothesis import given, settings, strategies as st
    from tsgen import multimodal

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 32),
        h=st.integers(1, 32),
        seed=st.integers(0, 2**31 - 1),
        sep=st.sampled_from([b"\n", b" ", b"\t", b"\n# c\n"]),
    )
    def check(w, h, seed, sep):
        rng = np.random.RandomState(seed)
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        head = b"P6" + sep + str(w).encode() + b" " + str(h).encode() + b"\n255\n"
        dw, dh, got = multimodal.decode_ppm(head + px.tobytes())
        assert (dw, dh) == (w, h)
        assert (got == px).all()

    check()


def test_png_decode_planted_pixels_and_stats(spark, docs):
    import numpy as np
    import pytest

    # planted pixels: decode_png must recover the exact closed-form ramp
    # grid through signature check + chunk walk + CRC verify + IDAT inflate
    # + defilter. The encoder cycles the scanline filter (y + doc_id) % 5,
    # so docs 0..4 together exercise all five filter branches incl. Paeth.
    for d in (0, 1, 2, 3, 4, 17):
        w, h = multimodal._ppm_dims(d)
        dw, dh, px = multimodal.decode_png(multimodal.render_png(d))
        assert (dw, dh) == (w, h)
        y, x = np.mgrid[0:h, 0:w]
        assert (px[..., 0] == (7 * x + 13 * y + d) % 256).all()
        assert (px[..., 1] == (5 * x + 11 * y + 2 * d) % 256).all()
        assert (px[..., 2] == (3 * x + 17 * y + 5 * d) % 256).all()
        # the two independent decoders agree pixel-for-pixel
        _, _, ppm_px = multimodal.decode_ppm(multimodal.render_ppm(d))
        assert (px == ppm_px).all()
    # a hand-built filter-0-only PNG with arbitrary pixels decodes exactly
    # (independent of render_png's encoder logic)
    import struct
    import zlib

    rng = np.random.RandomState(7)
    w, h = 5, 4
    want = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    raw = b"".join(b"\x00" + want[r].tobytes() for r in range(h))
    manual = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + multimodal._png_chunk(b"IDAT", zlib.compress(raw))
        + multimodal._png_chunk(b"IEND", b"")
    )
    dw, dh, got = multimodal.decode_png(manual)
    assert (dw, dh) == (w, h) and (got == want).all()
    # malformed inputs are rejected loudly, never silently mis-decoded
    body = multimodal.render_png(3)
    with pytest.raises(ValueError):
        multimodal.decode_png(b"x" + body[1:])  # bad signature
    with pytest.raises(ValueError):
        multimodal.decode_png(body[:-5])  # truncated IEND chunk
    corrupt = bytearray(body)
    corrupt[40] ^= 0xFF  # flip a byte inside IDAT -> CRC mismatch
    with pytest.raises(ValueError):
        multimodal.decode_png(bytes(corrupt))
    deep = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0))
        + multimodal._png_chunk(b"IDAT", zlib.compress(raw))
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        multimodal.decode_png(deep)  # 16-bit depth unsupported, must raise
    pal = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
        + multimodal._png_chunk(b"IDAT", zlib.compress(raw))
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        multimodal.decode_png(pal)  # palette color type unsupported
    # grayscale (bpp=1, Sub filter) and RGBA (bpp=4, Paeth filter)
    # roundtrip: exercises the bpp-dependent a/c taps of the defilter
    for ctype, ch, ft in ((0, 1, 1), (6, 4, 4)):
        px = rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8)
        lines = bytearray()
        prior = np.zeros(w * ch, dtype=np.int64)
        for r in range(h):
            line = px[r].reshape(-1).astype(np.int64)
            enc = np.empty(w * ch, dtype=np.int64)
            for i in range(w * ch):
                a = int(line[i - ch]) if i >= ch else 0
                c = int(prior[i - ch]) if i >= ch else 0
                pred = a if ft == 1 else multimodal._paeth(a, int(prior[i]), c)
                enc[i] = (int(line[i]) - pred) % 256
            lines.append(ft)
            lines += enc.astype(np.uint8).tobytes()
            prior = line
        payload = (
            multimodal._PNG_SIG
            + multimodal._png_chunk(
                b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
            )
            + multimodal._png_chunk(b"IDAT", zlib.compress(bytes(lines)))
            + multimodal._png_chunk(b"IEND", b"")
        )
        dw, dh, got = multimodal.decode_png(payload)
        assert (dw, dh) == (w, h) and got.shape == (h, w, ch)
        assert (got == px).all(), f"ctype={ctype} filter={ft} roundtrip"
    # distributed path: one stats row per doc; PNG stats == PPM stats
    # (same image content, two real decoders)
    png_stats = (
        multimodal.image_stats(
            multimodal.synth_png_media(docs), decoder=multimodal.decode_png
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    ppm_stats = (
        multimodal.image_stats(multimodal.synth_ppm_media(docs))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(png_stats) == docs.count()
    assert png_stats.equals(ppm_stats)


def test_wav_decode_planted_samples_and_stats(spark, docs):
    import struct

    import numpy as np
    import pytest

    # planted samples: decode_wav must recover the exact closed-form
    # waveform through the RIFF chunk walk (incl. skipping the junk LIST
    # chunk and honoring its odd-size pad byte)
    for d in (0, 1, 5, 16):
        rate, s = multimodal.decode_wav(multimodal.render_wav(d))
        n, r = multimodal._wav_params(d)
        assert rate == r and len(s) == n
        assert np.array_equal(s, multimodal._wav_samples(d))
    # malformed / unsupported inputs are rejected loudly
    wav = multimodal.render_wav(1)
    with pytest.raises(ValueError):
        multimodal.decode_wav(b"RIFX" + wav[4:])  # bad container magic
    with pytest.raises(ValueError):
        multimodal.decode_wav(wav[:-3])  # truncated data chunk
    stereo_fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    stereo = (
        b"RIFF" + struct.pack("<I", 12 + len(stereo_fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(stereo_fmt)) + stereo_fmt
    )
    with pytest.raises(ValueError):
        multimodal.decode_wav(stereo)  # stereo unsupported, must raise
    # distributed path: one stats row per doc; hand-check doc 0 exactly
    stats = multimodal.audio_stats(multimodal.synth_wav_media(docs)).toPandas()
    assert len(stats) == docs.count()
    a = multimodal._wav_samples(0).astype(np.int64)
    nonneg = a >= 0
    row = stats[stats.doc_id == 0].iloc[0]
    assert row.peak == int(np.abs(a).max())
    assert row.zero_cross == int((nonneg[1:] != nonneg[:-1]).sum())
    assert row.sum_amp == int(a.sum()) and row.sum_sq == int((a * a).sum())


def test_y4m_decode_planted_frames_and_stats(spark, docs):
    import numpy as np
    import pytest

    # planted frames: decode_y4m must recover every plane of every frame
    # exactly (header tokenize, FRAME walk, plane offsets/strides)
    for d in (0, 3, 7, 11):
        w, h, frames = multimodal.decode_y4m(multimodal.render_y4m(d))
        W, H, NF = multimodal._y4m_params(d)
        assert (w, h, frames.shape[0]) == (W, H, NF)
        y, x = np.mgrid[0:h, 0:w]
        for t in range(NF):
            assert np.array_equal(
                frames[t, 0],
                (((3 + d % 7) * x + (5 + d % 11) * y + 7 * t + d) % 256).astype(np.uint8),
            )
            assert np.array_equal(
                frames[t, 1],
                (((2 + d % 5) * x + (1 + d % 3) * y + 11 * t + 3 * d) % 256).astype(np.uint8),
            )
            assert np.array_equal(
                frames[t, 2],
                (((1 + d % 4) * x + (4 + d % 9) * y + 13 * t + 5 * d) % 256).astype(np.uint8),
            )
    # malformed / unsupported inputs are rejected loudly — including the
    # NO-C-tag case, whose spec default (420 subsampling) must not be
    # silently mis-sliced as 444
    clip = multimodal.render_y4m(2)
    with pytest.raises(ValueError):
        multimodal.decode_y4m(b"XUV" + clip[3:])
    with pytest.raises(ValueError):
        multimodal.decode_y4m(clip[:-5])  # truncated last frame
    with pytest.raises(ValueError):
        multimodal.decode_y4m(clip.replace(b"C444", b"C420", 1))
    with pytest.raises(ValueError):
        multimodal.decode_y4m(clip.replace(b" C444", b"", 1))
    # distributed path: the 1->N frame explosion — one row per (doc, frame)
    stats = multimodal.video_frame_stats(
        multimodal.synth_y4m_media(docs)
    ).toPandas()
    want_rows = sum(
        multimodal._y4m_params(int(r.doc_id))[2]
        for r in docs.select("doc_id").collect()
    )
    assert len(stats) == want_rows
    # hand-check one frame's plane sums exactly (doc 0: d%k terms vanish)
    w0, h0, _ = multimodal._y4m_params(0)
    y, x = np.mgrid[0:h0, 0:w0]
    row = stats[(stats.doc_id == 0) & (stats.frame_idx == 1)].iloc[0]
    assert row.sum_y == int(((3 * x + 5 * y + 7) % 256).sum())
    assert row.sum_u == int(((2 * x + y + 11) % 256).sum())
    assert row.sum_v == int(((x + 4 * y + 13) % 256).sum())


def test_video_frame_neardup_matches_bruteforce(spark):
    import itertools

    import numpy as np

    # the banded-join profile must equal the brute-force banded truth on a
    # small corpus (signatures from the planted ramps, python-side)
    n_docs = 24
    docs = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    media = multimodal.synth_y4m_media(docs)
    got = {
        (r.same_clip, r.hamming): r.n_pairs
        for r in multimodal.video_neardup_profile(media).collect()
    }
    sigs = {}
    for d in range(n_docs):
        _, _, frames = multimodal.decode_y4m(multimodal.render_y4m(d))
        for t in range(frames.shape[0]):
            sigs[d * 8 + t] = multimodal._ahash_sig(
                frames[t, 0].reshape(-1).astype(np.int64)
            )

    def bands(s):
        u = s & (2**64 - 1)
        return {(k, (u >> (16 * k)) & 0xFFFF) for k in range(4)}

    want: dict = {}
    for a, b in itertools.combinations(sorted(sigs), 2):
        if bands(sigs[a]) & bands(sigs[b]):
            ham = bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
            if ham <= 8:
                key = (int(a // 8 == b // 8), ham)
                want[key] = want.get(key, 0) + 1
    assert got == want
    # within-clip near-dups must exist (frames of one clip differ by a
    # near-uniform shift) — the corpus is non-degenerate
    assert any(k[0] == 1 for k in got)


def test_stream_media_stats_equals_batch(spark):
    # the streaming decode twin must produce EXACTLY the batch result —
    # same rows, same exact-integer stats (availableNow replay, append)
    from tsgen import streaming

    sf = "/root/testdata/sf0.001"
    batch = multimodal.audio_stats(
        multimodal.synth_wav_media(
            spark.read.parquet(f"{sf}/documents.parquet")
        )
    )
    stream = streaming.run_to_completion(
        multimodal.audio_stats(
            multimodal.synth_wav_media(streaming.docs_stream(spark, sf))
        ),
        mode="append",
    )
    b = sorted(tuple(r) for r in batch.collect())
    s = sorted(tuple(r) for r in stream.collect())
    assert b == s and len(b) > 0


def test_stream_jpeg_stats_equals_batch(spark):
    # the streaming JPEG twin must produce EXACTLY the batch result —
    # entropy decode on the stream, availableNow replay, append mode
    from tsgen import streaming

    sf = "/root/testdata/sf0.001"
    batch = multimodal.jpeg_stats(
        multimodal.synth_jpeg_media(spark.read.parquet(f"{sf}/documents.parquet"))
    )
    stream = streaming.run_to_completion(
        multimodal.jpeg_stats(
            multimodal.synth_jpeg_media(streaming.docs_stream(spark, sf))
        ),
        mode="append",
    )
    b = sorted(tuple(r) for r in batch.collect())
    s = sorted(tuple(r) for r in stream.collect())
    assert b == s and len(b) > 0


def test_doremi_weights_match_scalar_reference(spark):
    import math

    from pyspark.sql import Row

    from tsgen import mixing

    # three domains with controlled verbosity: long words -> high
    # chars-per-token excess -> DoReMi must upweight vs reference share
    rows = []
    did = 0
    for src, word, n_words, n_docs in (
        ("terse", "ab", 10, 6),
        ("mid", "abcde", 12, 4),
        ("verbose", "abcdefghij", 8, 2),
    ):
        for _ in range(n_docs):
            rows.append(Row(doc_id=did, text=" ".join([word] * n_words), source=src))
            did += 1
    df = spark.createDataFrame(rows)
    out = {r.source: r for r in mixing.doremi_weights(df).collect()}
    # scalar reference: identical iteration in pure python doubles
    stats = {}
    for r in rows:
        toks = len(r.text) - len(r.text.replace(" ", "")) + 1
        t, c = stats.get(r.source, (0, 0))
        stats[r.source] = (t + toks, c + len(r.text))
    srcs = sorted(stats)
    tot = sum(t for t, _ in stats.values())
    alpha = {s: stats[s][0] / tot for s in srcs}
    excess = {s: stats[s][1] / stats[s][0] for s in srcs}
    k, eta, sm, iters = len(srcs), mixing.DOREMI_ETA, mixing.DOREMI_SMOOTH, mixing.DOREMI_ITERS
    acc = dict.fromkeys(srcs, 0.0)
    for _ in range(iters):
        raw = {s: alpha[s] * math.exp(eta * excess[s]) for s in srcs}
        z = sum(raw.values())
        alpha = {s: (1 - sm) * raw[s] / z + sm / k for s in srcs}
        for s in srcs:
            acc[s] += alpha[s]
    for s in srcs:
        assert out[s].toks == stats[s][0]
        assert abs(out[s].weight_doremi - acc[s] / iters) < 2e-6
        assert abs(out[s].excess - excess[s]) < 2e-6
    # weights form a distribution and move the right way
    assert abs(sum(r.weight_doremi for r in out.values()) - 1.0) < 1e-5
    assert out["verbose"].weight_doremi > out["verbose"].share_ref
    assert out["terse"].weight_doremi < out["terse"].share_ref


def test_jpeg_decode_planted_pixels_and_stats(spark, docs):
    import numpy as np
    import pytest

    # planted pixels: decode_jpeg must recover the exact closed-form block
    # values through the whole pipeline — marker walk, DHT-rebuilt Huffman
    # tables, byte unstuffing, DC prediction, dequantize, IDCT. Exactness
    # is by corpus design: even values + Q[0,0]=16 make the DC round-trip
    # lossless and a constant block has no AC energy.
    for d in (0, 1, 5, 11):
        w, h, px, _ = multimodal.decode_jpeg(multimodal.render_jpeg(d))
        W, H = multimodal._jpeg_params(d)
        assert (w, h) == (W, H)
        for by in range(h // 8):
            for bx in range(w // 8):
                v = multimodal._jpeg_block_value(d, bx, by)
                assert (px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == v).all()
    # malformed / unsupported inputs are rejected loudly
    jpg = multimodal.render_jpeg(3)
    with pytest.raises(ValueError):
        multimodal.decode_jpeg(b"\x00" + jpg[1:])  # missing SOI
    with pytest.raises(ValueError):
        multimodal.decode_jpeg(jpg[:40])  # truncated segment
    with pytest.raises(ValueError):  # progressive (SOF2) must raise
        multimodal.decode_jpeg(jpg.replace(b"\xff\xc0", b"\xff\xc2", 1))
    with pytest.raises(ValueError):  # 16-bit quant table must raise
        multimodal.decode_jpeg(jpg.replace(b"\xff\xdb\x00\x43\x00", b"\xff\xdb\x00\x43\x10", 1))
    # distributed path: one stats row per doc; hand-check doc 0 exactly
    stats = multimodal.jpeg_stats(multimodal.synth_jpeg_media(docs)).toPandas()
    assert len(stats) == docs.count()
    w0, h0 = multimodal._jpeg_params(0)
    vs = [
        multimodal._jpeg_block_value(0, bx, by)
        for by in range(h0 // 8)
        for bx in range(w0 // 8)
    ]
    row = stats[stats.doc_id == 0].iloc[0]
    assert row.n_px == w0 * h0 and row.sum_px == 64 * sum(vs)
    assert row.sum_sq == 64 * sum(v * v for v in vs)
    assert row.min_px == min(vs) and row.max_px == max(vs)
    np_all = np.asarray(vs)
    assert row.max_px == np_all.max()


def test_jpeg_decode_planted_coeffs_zrl_eob_and_stuffing(spark, docs):
    import numpy as np
    import pytest

    # planted coefficients: the decoder's dequantized output must equal
    # spec * quant exactly for every block (AC run lengths, EOB, signs)
    for d in (0, 2, 7, 13):
        w, h, _, dq = multimodal.decode_jpeg(multimodal.render_jpeg_planted(d))
        bw = w // 8
        for bi in range(dq.shape[0]):
            by, bx = divmod(bi, bw)
            exp = np.zeros(64, dtype=np.int64)
            for z, k in multimodal._jpeg_planted_block(d, bx, by).items():
                exp[z] = k * multimodal._QUANT_ZZ[z]
            assert np.array_equal(dq[bi], exp), (d, bi)
    # the corpus really exercises byte stuffing (0xFF00 in the scan)
    assert any(
        b"\xff\x00" in multimodal.render_jpeg_planted(d) for d in range(40)
    )
    # handcrafted blocks: a 17-zero gap (ZRL + run-1), a coefficient in
    # the LAST slot (no EOB emitted), and a -1 DC on an 8x8 image
    zz = np.zeros(64, dtype=np.int64)
    zz[0], zz[2], zz[20], zz[63] = -1, 3, -2, 1
    payload = multimodal._jpeg_wrap(8, 8, multimodal._encode_scan([zz]))
    _, _, _, dq = multimodal.decode_jpeg(payload)
    q = np.asarray(multimodal._QUANT_ZZ, dtype=np.int64)
    assert np.array_equal(dq[0], zz * q)
    # distributed path + hand-check doc 0's aggregate
    stats = multimodal.jpeg_coeff_stats(
        multimodal.synth_jpeg_planted_media(docs)
    ).toPandas()
    assert len(stats) == docs.count()
    w0, h0 = multimodal._jpeg_params(0)
    specs = [
        multimodal._jpeg_planted_block(0, bx, by)
        for by in range(h0 // 8)
        for bx in range(w0 // 8)
    ]
    row = stats[stats.doc_id == 0].iloc[0]
    assert row.n_blocks == len(specs)
    assert row.dc_sum_dq == sum(s[0] * multimodal._QUANT_ZZ[0] for s in specs)
    assert row.nnz == sum(1 for s in specs for k in s.values() if k)
    assert row.sum_abs_dq == sum(
        abs(k) * multimodal._QUANT_ZZ[z] for s in specs for z, k in s.items()
    )
    with pytest.raises(ValueError):  # DRI (restart intervals) must raise
        multimodal.decode_jpeg(
            multimodal.render_jpeg_planted(0).replace(
                b"\xff\xfe", b"\xff\xdd", 1
            )
        )


def test_cross_codec_dedup_matches_and_separates(spark):
    from pyspark.sql import Row

    # doc 1356 is a TRUE cross-document duplicate of doc 0 (dims repeat
    # mod 12, block values mod 113 -> identical every lcm = 1356 ids),
    # and neither is perturbed -> one content group of 4 copies
    ids = list(range(21)) + [1356]
    docs = spark.createDataFrame([Row(doc_id=i) for i in ids])
    media = multimodal.synth_cross_codec_media(docs)
    out = multimodal.cross_codec_dedup(media).collect()
    assert sum(r.n_copies for r in out) == 2 * len(ids)
    quad = [r for r in out if r.n_copies == 4]
    assert len(quad) == 1 and quad[0].n_png == 2 and quad[0].n_jpeg == 2
    # perturbed docs (doc_id % 7 == 3) split into two singleton groups...
    perturbed = [i for i in ids if i % multimodal.CROSS_PERTURB_MOD == multimodal.CROSS_PERTURB_RES]
    singles = [r for r in out if r.n_copies == 1]
    assert len(singles) == 2 * len(perturbed)
    assert sum(1 for r in singles if r.n_png == 1) == len(perturbed)
    # ...and every clean doc's pair is matched across formats
    pairs = [r for r in out if r.n_copies == 2]
    assert all(r.n_png == 1 and r.n_jpeg == 1 for r in pairs)
    assert len(pairs) == len(ids) - 2 - len(perturbed)


def test_connected_components_chain_star_clique(spark):
    # chain 0-1-...-9 (diameter 9: exercises pointer jumping), star at 100,
    # triangle at 200, singleton edge at 300 — all in one edge list
    edges = (
        [(i, i + 1) for i in range(9)]
        + [(100, x) for x in (101, 102, 103)]
        + [(200, 201), (201, 202), (200, 202)]
        + [(300, 301)]
    )
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r.node: r.label for r in dedup.connected_components(df).collect()}
    # and the distributed join-loop path must agree (local_finish=0 forces it)
    loop = {r.node: r.label for r in dedup.connected_components(df, local_finish=0).collect()}
    assert loop == got
    assert all(got[i] == 0 for i in range(10))
    assert all(got[x] == 100 for x in (100, 101, 102, 103))
    assert all(got[x] == 200 for x in (200, 201, 202))
    assert got[300] == 300 and got[301] == 300


def test_connected_components_matches_union_find(spark, docs):
    pairs = dedup.jaccard_pairs(docs, ["lang"], threshold=0.01).select(
        "doc_a", "doc_b"
    )
    rows = pairs.collect()
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        ra, rb = find(r.doc_a), find(r.doc_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    got = {r.node: r.label for r in dedup.connected_components(pairs).collect()}
    assert got == want


def test_repetition_stats_flags_planted_boilerplate(spark):
    from pyspark.sql import Row
    from tsgen import text as T

    rows = [
        Row(doc_id=0, text="buy now " * 20 + "limited offer"),  # spam
        Row(doc_id=1, text="the quick brown fox jumps over a lazy dog near town"),
    ]
    out = {r.doc_id: r for r in T.repetition_stats(spark.createDataFrame(rows)).collect()}
    assert out[0].repetitive and out[0].top_bigram_frac > 0.4
    assert not out[1].repetitive
    assert out[1].n_tokens == 11 and abs(out[1].top_token_frac - 1 / 11) < 1e-12


def test_feature_hash_signed_counts(spark):
    from pyspark.sql import Row
    from tsgen import text as T

    rows = [
        Row(doc_id=0, text="alpha alpha alpha"),          # one token 3x
        Row(doc_id=1, text="alpha beta gamma delta"),
        Row(doc_id=2, text="alpha beta gamma delta"),     # identical doc
    ]
    out = T.feature_hash(spark.createDataFrame(rows)).collect()
    assert all(0 <= r.bucket < T.FEATURE_HASH_BUCKETS for r in out)
    d0 = [r for r in out if r.doc_id == 0]
    assert len(d0) == 1 and abs(d0[0].w) == 3  # same token → same signed bucket
    # hashing is deterministic: identical docs produce identical vectors
    v1 = sorted((r.bucket, r.w) for r in out if r.doc_id == 1)
    v2 = sorted((r.bucket, r.w) for r in out if r.doc_id == 2)
    assert v1 == v2 and len(v1) >= 3  # 4 tokens, ≥3 surviving buckets


def test_readability_orders_simple_before_dense_text(spark):
    from pyspark.sql import Row
    from tsgen import text as T

    rows = [
        Row(doc_id=0, text="The cat sat. The dog ran. We play now. It is fun."),
        Row(doc_id=1, text="Epistemological considerations notwithstanding "
                           "institutional heterogeneity complicates interdisciplinary "
                           "collaboration across organizational administrations."),
    ]
    out = {r.doc_id: r for r in T.readability(spark.createDataFrame(rows)).collect()}
    assert out[0].n_sentences == 4
    assert out[0].flesch_ease > 80          # simple short sentences read easy
    assert out[1].flesch_ease < 0           # polysyllabic wall reads hard
    assert out[1].fk_grade > 12 > out[0].fk_grade


def test_mmr_trades_relevance_for_diversity(spark):
    # candidates: b is a near-copy of a (both maximally relevant), c is
    # moderately relevant but diverse. Pure top-k ranks (a, b, c); MMR must
    # demote the redundant near-copy: (a, c, b).
    from pyspark.sql import Row
    from tsgen.similarity import mmr_rerank

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0], label=0),        # query
        Row(vec_id=1, embedding=[0.7, 0.714, 0.0, 0.0], label=0),      # a
        Row(vec_id=2, embedding=[0.7, 0.7141, 0.0, 0.0], label=0),     # b ≈ a
        Row(vec_id=3, embedding=[0.7, 0.0, 0.714, 0.0], label=0),      # c diverse
    ]
    emb = spark.createDataFrame(rows)
    out = mmr_rerank(
        emb, emb.filter(F.col("vec_id") == 0), lam=0.7, n_cand=3, k=3
    ).collect()
    picks = [r.neighbor_id for r in sorted(out, key=lambda r: r.pick_order)]
    assert picks == [1, 3, 2]        # diversity demotes the near-copy of a


def test_doc_chunks_cover_all_tokens(spark):
    from pyspark.sql import Row
    from tsgen import text as T

    rows = [
        Row(doc_id=0, text=" ".join(f"w{i}" for i in range(40)), lang="en", source="s"),
        Row(doc_id=1, text=" ".join(f"u{i}" for i in range(16)), lang="en", source="s"),
        Row(doc_id=2, text="a b c", lang="en", source="s"),
    ]
    out = T.doc_chunks(spark.createDataFrame(rows), size=16, stride=12).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # exactly size tokens -> one chunk; short doc -> one short chunk
    assert len(by_doc[1]) == 1 and by_doc[1][0].n_chunk_tokens == 16
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "a b c"
    # every token of doc 0 appears in some chunk; stride overlap = size-stride
    seen = set()
    for r in by_doc[0]:
        seen.update(r.chunk_text.split())
    assert seen == {f"w{i}" for i in range(40)}
    assert len(by_doc[0]) == 3  # ceil((40-16)/12)+1


def test_winnowing_detects_shared_passage(spark):
    from pyspark.sql import Row
    from tsgen import text as T

    rng = np.random.RandomState(11)
    vocab = [f"tok{i}" for i in range(200)]
    a = list(rng.choice(vocab, size=60))
    b = list(rng.choice(vocab, size=60))
    passage = [f"quote{i}" for i in range(12)]  # >= w+k-1 = 8 tokens
    rows = [
        Row(doc_id=0, text=" ".join(a[:30] + passage + a[30:])),
        Row(doc_id=1, text=" ".join(b[:10] + passage + b[10:])),
        Row(doc_id=2, text=" ".join(list(rng.choice(vocab, size=60)))),
    ]
    fps = T.winnow_fingerprints(spark.createDataFrame(rows)).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    # winnowing guarantee: a shared run of >= w+k-1 tokens shares >= 1 fp
    assert by_doc[0] & by_doc[1]
    # unrelated doc shares nothing with either
    assert not (by_doc[2] & by_doc[0]) and not (by_doc[2] & by_doc[1])


def test_resize_pool_shape_and_determinism(spark, docs):
    media = multimodal.as_media_table(docs.withColumn("n_chars", F.length("text")))
    out = multimodal.resize_pool(media, out_len=16).collect()
    assert len(out) == docs.count()
    assert all(len(bytes(r.thumb)) == 16 for r in out)
    # deterministic: same input -> same thumbnail bytes
    again = {r.doc_id: bytes(r.thumb) for r in multimodal.resize_pool(media, out_len=16).collect()}
    assert all(bytes(r.thumb) == again[r.doc_id] for r in out)


def test_lsh_pairs_finds_planted_neardup(spark, emb):
    # planted near-identical pair (3, 7): cosine ~ 1 -> signatures agree on
    # every band -> must survive candidate generation and verification
    out = similarity.lsh_pairs(emb, threshold=0.9).toPandas()
    assert any((a, b) == (3, 7) for a, b in zip(out.id_a, out.id_b))
    # and every emitted pair is genuinely >= threshold (verify step works)
    assert (out.cos_sim >= 0.9).all()


def test_containment_detects_embedded_doc(spark):
    from pyspark.sql import Row

    words = [f"w{i}" for i in range(30)]
    rows = [
        Row(doc_id=0, text=" ".join(words), lang="en", source="s0"),
        # doc 1 = a 10-word passage of doc 0 wrapped in noise-free extraction:
        # fully contained, but Jaccard is diluted by the size gap
        Row(doc_id=1, text=" ".join(words[5:15]), lang="en", source="s0"),
    ]
    df = spark.createDataFrame(rows)
    p = dedup.jaccard_pairs(
        df, ["lang", "source"], threshold=0.0, df_cap=None, containment=True
    ).collect()[0]
    assert p.containment == 1.0
    assert p.jaccard < 0.5


def test_global_row_ids_dense_and_ordered(spark):
    from tsgen.queries_scale import global_row_ids

    df = spark.range(0, 5000).selectExpr("(id * 2654435761) % 1000003 AS k")
    df = df.dropDuplicates(["k"])
    n = df.count()
    out = global_row_ids(df, "k", partitions=7).orderBy("k").collect()
    rids = [r.rid for r in out]
    assert rids == list(range(n))  # dense, 0-based, in key order


def test_stratified_sample_exact_k_and_deterministic(spark):
    from tsgen.queries_scale import stratified_sample

    df = spark.range(0, 3000).selectExpr(
        "id AS key", "CAST(id % 3 AS STRING) AS stratum"
    )
    s1 = stratified_sample(df, "stratum", "key", k=40)
    got = {r.stratum: r.n for r in s1.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert got == {"0": 40, "1": 40, "2": 40}
    # deterministic: same rows on a re-run with different partitioning
    s2 = stratified_sample(df.repartition(13), "stratum", "key", k=40)
    assert sorted(r.key for r in s1.collect()) == sorted(r.key for r in s2.collect())


def test_stratified_rank_matches_plain_window(spark):
    from pyspark.sql import Window

    from tsgen.queries_scale import stratified_rank

    df = spark.range(0, 5000).selectExpr(
        "id AS key",
        "CAST(id % 4 AS STRING) AS stratum",
        "CAST(hash(id) % 97 AS DOUBLE) AS v",  # duplicate sort values on purpose
    )
    order = [F.desc("v"), F.asc("key")]  # tie-broken total order
    got = stratified_rank(df, "stratum", order, out="rk")
    w = Window.partitionBy("stratum").orderBy(*order)
    want = df.withColumn("rk", F.row_number().over(w).cast("bigint"))
    assert got.select("key", "stratum", "rk").exceptAll(
        want.select("key", "stratum", "rk")
    ).count() == 0
    assert got.count() == want.count() == 5000
    # partitioning-invariant: same ranks on a differently-partitioned input
    got13 = stratified_rank(df.repartition(13), "stratum", order, out="rk")
    assert got13.select("key", "stratum", "rk").exceptAll(
        want.select("key", "stratum", "rk")
    ).count() == 0


def test_stratified_percentiles_match_builtin(spark):
    # order-statistic percentiles must equal the built-in exact
    # percentile() on edge shapes: n=1 stratum, n=2, exact-integer rank
    # positions, heavy duplicate values
    from tsgen.queries_scale import stratified_percentiles

    rows = (
        [("a", float(v)) for v in range(101)]          # h integer at p=0.5
        + [("b", 7.0)] * 50 + [("b", 9.0)] * 50        # duplicates
        + [("c", 3.25)]                                 # n=1
        + [("d", 1.0), ("d", 2.0)]                      # n=2, interpolated
    )
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    ps = [0.5, 0.9, 0.99]
    got = (
        stratified_percentiles(df, "g", "v", ps, ["q50", "q90", "q99"])
        .toPandas().set_index("g").sort_index()
    )
    want = (
        df.groupBy("g").agg(
            F.expr("percentile(v, 0.5)").alias("q50"),
            F.expr("percentile(v, 0.9)").alias("q90"),
            F.expr("percentile(v, 0.99)").alias("q99"),
        ).toPandas().set_index("g").sort_index()
    )
    for c in ["q50", "q90", "q99"]:
        assert (got[c] - want[c]).abs().max() < 1e-12, c


def test_bigram_lm_flags_scrambled_text(spark):
    from pyspark.sql import Row

    from tsgen import text as T

    # corpus of structured sentences; doc 99 = doc 0's tokens SHUFFLED:
    # identical unigram profile, broken transitions
    sent = "the cat sat on the mat and the dog sat on the rug".split()
    rows = [Row(doc_id=i, text=" ".join(sent)) for i in range(20)]
    rng = np.random.RandomState(3)
    shuffled = sent.copy()
    rng.shuffle(shuffled)
    rows.append(Row(doc_id=99, text=" ".join(shuffled)))
    df = spark.createDataFrame(rows)
    scores = {r.doc_id: r.bigram_lm_score for r in T.bigram_lm_score(df).collect()}
    assert scores[99] > scores[0]
    # unigram LM cannot tell them apart
    uni = {r.doc_id: r.lm_score for r in T.lm_score(df).collect()}
    assert abs(uni[99] - uni[0]) < 1e-9


def test_weighted_sample_favors_heavy_and_is_deterministic(spark):
    from tsgen.queries_scale import weighted_sample

    df = spark.range(0, 2000).selectExpr(
        "id AS k", "CASE WHEN id % 2 = 0 THEN 20.0 ELSE 1.0 END AS w"
    )
    s1 = weighted_sample(df, "k", "w", k=200)
    rows = s1.collect()
    heavy = sum(1 for r in rows if r.k % 2 == 0)
    assert heavy > 150  # 20:1 weights dominate the sample
    s2 = weighted_sample(df.repartition(17), "k", "w", k=200)
    assert sorted(r.k for r in rows) == sorted(r.k for r in s2.collect())


def test_phash_finds_planted_media_neardup(spark):
    from pyspark.sql import Row

    from tsgen import multimodal

    rng = np.random.RandomState(17)
    vocab = "alpha beta gamma delta epsilon zeta eta theta".split()
    rows = []
    base = " ".join(rng.choice(vocab, size=200))
    rows.append(Row(doc_id=0, text=base, lang="en", source="s"))
    # near-dup payload: one word changed in 200 -> thumbnails nearly equal
    mutated = base.split()
    mutated[100] = "omega"
    rows.append(Row(doc_id=1, text=" ".join(mutated), lang="en", source="s"))
    for i in range(2, 20):
        rows.append(
            Row(doc_id=i, text=" ".join(rng.choice(vocab, size=200)), lang="en", source="s")
        )
    media = multimodal.as_media_table(spark.createDataFrame(rows))
    pairs = multimodal.phash_pairs(media, max_hamming=8).collect()
    assert any({p.doc_a, p.doc_b} == {0, 1} for p in pairs)
    planted = [p.hamming for p in pairs if {p.doc_a, p.doc_b} == {0, 1}][0]
    others = [p.hamming for p in pairs if {p.doc_a, p.doc_b} != {0, 1}]
    assert all(planted <= h for h in others)  # the planted pair is closest


def test_pii_scrub_finds_and_removes_planted_pii(spark):
    from tsgen import text as T
    from tsgen.io import read_table
    from tsgen.queries_pipeline import _plant_pii

    docs = read_table(spark, "/root/testdata/sf0.001", "documents", fanout=True)
    out = T.pii_scrub(_plant_pii(docs)).collect()
    assert sum(r.n_emails for r in out) > 0
    assert sum(r.n_phones for r in out) > 0
    assert all(r.residual_pii == 0 for r in out)  # redaction is complete
    # docs not selected for planting carry no PII
    assert all(r.n_emails == 0 for r in out if r.doc_id % 7 != 0)


def test_kcore_keeps_clique_drops_chain(spark):
    from tsgen.queries_experiments import kcore_nodes

    # K4 clique (all degree 3) + a chain 10-11-12-13 (interior degree 2,
    # ends degree 1): 2-core = clique + nothing of the chain ends; the
    # chain unravels completely once the ends are peeled
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
             (10, 11), (11, 12), (12, 13)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = sorted(r.node for r in kcore_nodes(df, k=2, rounds=4).collect())
    assert out == [0, 1, 2, 3]


def test_label_propagation_separates_planted_clusters(spark):
    from tsgen.queries_experiments import label_propagation

    # two K4 cliques joined by a single bridge edge: LPA must give each
    # clique one community and must NOT merge them across the bridge
    k4a = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    k4b = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = k4a + k4b + [(3, 10)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = {r.node: r.community for r in label_propagation(df).collect()}
    assert len({out[n] for n in range(4)}) == 1
    assert len({out[n] for n in range(10, 14)}) == 1
    assert out[0] != out[10]


def test_pq_reconstruction_improves_with_lloyd_and_beats_random(spark, emb):
    from tsgen.similarity import pq_train_assign

    c0, _ = pq_train_assign(emb, refine_iters=0)
    c2, _ = pq_train_assign(emb, refine_iters=2)
    e0 = c0.agg(F.sum("sub_sqerr").alias("e")).collect()[0].e
    e2 = c2.agg(F.sum("sub_sqerr").alias("e")).collect()[0].e
    assert e2 < e0  # Lloyd iterations strictly reduce total quantization error


def test_pq_adc_topk_recall_vs_brute_force(spark, emb):
    import numpy as np

    from tsgen.similarity import pq_train_assign

    codes, cb = pq_train_assign(emb, refine_iters=2)
    # asymmetric distance (ADC): reconstruct each vector from its codebook
    # entries, rank by L2 to a query vector, compare against exact ranks
    cbm = {(r.s, r.code): np.array(r.cvec) for r in cb.collect()}
    recon = {}
    for r in codes.groupBy("vec_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "code"))).alias("sc")
    ).collect():
        recon[r.vec_id] = np.concatenate([cbm[(p.s, p.code)] for p in r.sc])
    exact = {r.vec_id: np.array(r.embedding, dtype=float) for r in emb.collect()}
    q = exact[0]
    true_top = set(sorted((k for k in exact if k != 0),
                          key=lambda k: np.linalg.norm(exact[k] - q))[:20])
    pq_top = set(sorted((k for k in recon if k != 0),
                        key=lambda k: np.linalg.norm(recon[k] - q))[:20])
    recall = len(true_top & pq_top) / 20
    assert recall >= 0.3, recall  # 64->4-byte codes still find the neighborhood


def test_dsir_scores_rank_target_like_docs_higher(spark):
    from tsgen.queries_pipeline import _q_dsir_scores

    out = _q_dsir_scores(spark, "/root/testdata/sf0.001").collect()
    docs = {r.doc_id: r.lang for r in spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "lang").collect()}
    import numpy as np

    en = [r.dsir_score for r in out if docs[r.doc_id] == "en"]
    non = [r.dsir_score for r in out if docs[r.doc_id] != "en"]
    assert en and non
    # target = en slice: en docs must score higher on average than non-en
    assert float(np.mean(en)) > float(np.mean(non))


def test_token_ppmi_scalar_reference(spark):
    import math

    from tsgen.text import token_ppmi

    # "a b a b": +/-2 windows give (a,b) x3 and self-pairs (a,a), (b,b);
    # marginals a=5, b=5, N=2*5 -> ppmi(a,b)=ln(1.2), self-pairs clamp to 0
    df = spark.createDataFrame(
        [(1, "a b a b", "en", "s", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {(r.w1, r.w2): (r.n_cooc, r.ppmi) for r in token_ppmi(df).collect()}
    assert out[("a", "b")][0] == 3
    assert abs(out[("a", "b")][1] - round(math.log(1.2) + 1e-9, 6)) < 1e-9
    assert out[("a", "a")] == (1, 0.0)
    assert out[("b", "b")] == (1, 0.0)


def test_pca_power_matches_numpy_eigh(spark):
    import numpy as np

    from tsgen.similarity import pca_power

    rng = np.random.default_rng(4)
    # anisotropic cloud with clear spectrum gaps
    basis = rng.normal(size=(8, 8))
    scales = np.array([5.0, 3.0, 2.0, 0.5, 0.3, 0.2, 0.1, 0.05])
    pts = rng.normal(size=(300, 8)) * scales @ basis
    df = spark.createDataFrame(
        [(i, [float(x) for x in row], 0) for i, row in enumerate(pts)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {r.component: (r.eigenvalue, r.cum_explained)
           for r in pca_power(df).collect()}
    C = np.cov(np.array([[float(np.float32(x)) for x in row] for row in pts]).T)
    w = np.sort(np.linalg.eigvalsh(C))[::-1]
    tr = C.trace()
    for k in range(1, 4):
        assert abs(got[k][0] - w[k - 1]) < 1e-3 * max(1.0, w[0])
        assert abs(got[k][1] - w[:k].sum() / tr) < 1e-3
    # eigenvalues nonincreasing
    assert got[1][0] >= got[2][0] >= got[3][0]


def test_map_at_k_clustered_labels(spark):
    import numpy as np

    from tsgen.similarity import map_at_k

    # two tight label clusters far apart -> AP ~ 1; shuffled labels -> low
    rng = np.random.default_rng(6)
    rows = []
    for i in range(60):
        lab = i % 2
        center = np.array([10.0, 0.0] * 4) if lab == 0 else np.array([0.0, 10.0] * 4)
        v = center + rng.normal(scale=0.1, size=8)
        rows.append((i, [float(x) for x in v], lab))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = map_at_k(df, n_queries=6, k=10).collect()
    assert len(out) == 6
    for r in out:
        assert r.ap > 0.99  # same-label neighbors dominate the top-10
        assert r.n_rel_at_k == 10


def test_lsh_recall_eval_exact_dups_always_hit(spark):
    import random

    from tsgen.dedup import lsh_recall_eval

    rng = random.Random(14)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for i in range(80):
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(40))))
    # 5 EXACT duplicates: identical signatures collide in every band
    for j in range(5):
        rows.append((200 + j, rows[j][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = lsh_recall_eval(df).collect()[0]
    assert r.n_truth >= 5
    assert r.n_hits >= 5           # the exact dups can never be missed
    assert 0.0 <= r.recall <= 1.0 and 0.0 <= r.precision <= 1.0
    assert r.n_hits <= r.n_cand and r.n_hits <= r.n_truth


def test_cluster_purity_separable_clusters(spark):
    import numpy as np

    from tsgen.similarity import cluster_purity

    # k=2 tight clusters aligned with labels -> purity ~1, NMI ~1
    rng = np.random.default_rng(12)
    rows = []
    for i in range(80):
        lab = i % 2
        center = np.full(8, 0.0 if lab == 0 else 20.0)
        v = center + rng.normal(scale=0.2, size=8)
        rows.append((i, [float(x) for x in v], lab))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    r = cluster_purity(df, k=2, iters=2).collect()[0]
    assert r.n == 80
    assert r.purity > 0.99
    assert r.nmi > 0.99
    assert abs(r.h_label - np.log(2)) < 1e-6  # balanced labels


def test_lang_rebalance_uniformizes_mixture(spark):
    from tsgen.mixing import lang_rebalance

    rows = []
    i = 0
    for lang, n in [("en", 800), ("de", 200), ("fr", 100)]:
        for _ in range(n):
            rows.append((i, f"text {i}", lang, "s", 10))
            i += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.lang: r for r in lang_rebalance(df).collect()}
    assert out["fr"].keep_prob == 1.0          # smallest language keeps all
    assert abs(out["en"].keep_prob - 100 / 800) < 1e-9
    # realized shares approach uniform (binomial noise at n_min = 100)
    for r in out.values():
        assert abs(r.share_after - 1 / 3) < 0.12
    # deterministic: second run identical
    out2 = {r.lang: r.n_kept for r in lang_rebalance(df).collect()}
    assert out2 == {k: v.n_kept for k, v in out.items()}


def test_source_kl_flags_divergent_source(spark):
    import random

    from tsgen.text import source_kl

    rng = random.Random(51)
    common = [f"w{i}" for i in range(20)]
    rows = []
    i = 0
    for src, vocab in [("a", common), ("b", common), ("weird", ["zzz", "qqq", "xxx"])]:
        for _ in range(100):
            rows.append((i, " ".join(rng.choice(vocab) for _ in range(30)), "en", src, 10))
            i += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.source: r.kl_nats for r in source_kl(df).collect()}
    # the divergent source scores clearly above the two aligned ones
    # (aligned sources still carry baseline KL: the corpus blend includes
    # the weird mass their distributions lack)
    assert out["weird"] > 2 * max(out["a"], out["b"])
    assert abs(out["a"] - out["b"]) < 0.05  # identical sources score alike
    assert out["a"] >= 0 and out["b"] >= 0  # KL nonnegative


def test_lloyd_driver_roundtrip_is_bit_identical_to_lineage_form(spark):
    # the r10 recompute fix pins Lloyd centroids to the driver between
    # rounds (collect + createDataFrame). This test pins the claim that
    # the round-trip re-injects the EXACT IEEE doubles: one round of the
    # old lineage formulation (groupBy avg kept as a DataFrame) must
    # produce bit-identical centroids to one round of _lloyd_centroids.
    from pyspark.sql import Window, functions as F

    from tsgen.similarity import _lloyd_centroids

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("_vec"))

    def assign(cc):
        j = v.crossJoin(F.broadcast(cc)).withColumn(
            "d2",
            F.round(
                F.aggregate(
                    F.zip_with("_vec", "cvec", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                + F.lit(1e-12),
                9,
            ),
        )
        w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cluster_id"))
        return (
            j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "_vec", "cluster_id")
        )

    k = 4
    # old lineage form, one round
    seeds = v.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cluster_id"), F.col("_vec").alias("cvec")
    )
    assigned = assign(seeds)
    lineage = (
        assigned.select("cluster_id", F.posexplode("_vec").alias("i", "x"))
        .groupBy("cluster_id", "i")
        .agg(F.avg("x").alias("m"))
        .groupBy("cluster_id")
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("_p"))
        .select("cluster_id", F.col("_p.m").alias("cvec"))
    ).collect()
    pinned = _lloyd_centroids(v, k, 1, assign).collect()
    a = {r["cluster_id"]: list(r["cvec"]) for r in lineage}
    b = {r["cluster_id"]: list(r["cvec"]) for r in pinned}
    assert set(a) == set(b)
    for cid in a:
        # bit-identical, not approximately equal: the round-trip must not
        # perturb a single ulp
        assert a[cid] == b[cid], cid


def test_unigram_viterbi_dp_and_tiebreaks():
    from tsgen.queries_tokenizer import _uni_viterbi

    # dominant trigram wins over character segmentation
    sc = {"a": -3_000_000, "b": -3_000_000, "c": -3_000_000, "abc": -1_000_000}
    assert sorted(_uni_viterbi("abcabc", sc)) == ["abc", "abc"]
    # equal total cost -> fewer tokens wins
    sc = {"a": -10, "b": -10, "ab": -20}
    assert _uni_viterbi("ab", sc) == ["ab"]
    # cheaper two-token split beats the merged token
    sc = {"a": -10, "b": -10, "ab": -21}
    assert sorted(_uni_viterbi("ab", sc)) == ["a", "b"]
    # unsegmentable word (missing char) -> None, not a crash
    assert _uni_viterbi("ax", {"a": -10}) is None
    # path decode covers the max word length
    sc = {c: -10 for c in "abcdefgh"}
    assert _uni_viterbi("abcdefgh", sc) == list("hgfedcba"[::-1])[::-1]


def test_unigram_em_matches_scalar_reference(spark):
    from pyspark.sql import Row

    from tsgen import queries_tokenizer as qt

    # corpus engineered so the frequent trigram 'abc' becomes a token
    # (freq >= UNI_THRESH) while rare words stay character-segmented
    rows = []
    did = 0
    for text, n in (("abcabc abcd xy", 60), ("zq abc", 45)):
        for _ in range(n):
            rows.append(Row(doc_id=did, text=text))
            did += 1
    docs = spark.createDataFrame(rows)
    out = {r.token: r for r in qt.unigram_em(docs).collect()}
    # scalar reference for pass 1: rebuild vocab + frozen scores exactly
    # as _uni_scores produced them, then segment with the same DP
    words: dict = {}
    for r in rows:
        for w in r.text.split(" "):
            if 1 <= len(w) <= qt.UNI_MAXW:
                words[w] = words.get(w, 0) + 1
    freqs: dict = {}
    for w, c in words.items():
        for L in range(1, qt.UNI_MAXT + 1):
            for i in range(len(w) - L + 1):
                s = w[i : i + L]
                freqs[s] = freqs.get(s, 0) + c
    vocab = {s: f for s, f in freqs.items() if len(s) == 1 or f >= qt.UNI_THRESH}
    assert "abc" in vocab and "abcd" not in vocab
    sc_rows = qt._uni_scores(
        spark.createDataFrame(
            [Row(token=s, n=f) for s, f in vocab.items()]
        )
    ).collect()
    sc = {r.token: int(r.sc) for r in sc_rows}
    usage: dict = {}
    for w, c in words.items():
        for t in qt._uni_viterbi(w, sc):
            usage[t] = usage.get(t, 0) + c
    assert {t: r.usage1 for t, r in out.items()} == usage
    # the planted trigram is actually used, and shares form a distribution
    assert out["abc"].usage1 >= 165  # 2*60 + 45 occurrences via 'abcabc'+'abc'
    assert abs(sum(r.share2 for r in out.values()) - 1.0) < 1e-4
