"""Text analysis and multimodal binary-column plumbing."""

from __future__ import annotations

import pathlib

import pytest

from flink_realtime_data_eng_spark.functions import multimodal, text

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_quality_features_hand_computed(spark):
    # "the cat." -> tokens [the, cat], 1 punct char of 8 chars,
    # stopwords: "the" of 2 tokens.
    df = _docs(spark, [(1, "the cat.")])
    r = text.quality_features(df).collect()[0]
    assert r["n_tokens"] == 2
    assert r["mean_token_len"] == pytest.approx((3 + 3) / 2)
    assert r["punct_ratio"] == pytest.approx(1 / 8)
    assert r["stopword_ratio"] == pytest.approx(1 / 2)


def test_language_id_markers(spark):
    df = _docs(spark, [(1, "the cat is in the house and that is it"),
                       (2, "el gato y la casa de los que no se"),
                       (3, "xyzzy qwerty")])
    out = {r["doc_id"]: r["lang_guess"] for r in text.language_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "und"


def test_fingerprint_stable_under_formatting(spark):
    df = _docs(spark, [(1, "Hello,  WORLD!"), (2, "hello world")])
    fps = {r["doc_id"]: r["fp"] for r in text.fingerprint(df).collect()}
    assert fps[1] == fps[2]


def test_extract_features_deterministic_fake(spark):
    docs = _docs(spark, [(1, "abc"), (2, "abc"), (3, "different text")])
    media = multimodal.attach_binary_payload(docs)
    rows = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    assert rows[1]["features"] == rows[2]["features"]  # same payload
    assert rows[1]["features"] != rows[3]["features"]


def test_frame_sample_chunk_math(spark):
    # 40-byte payload, 10-byte frames -> frames 0..3; every_n=2 -> 0 and 2.
    docs = spark.createDataFrame([(1, bytes(range(40)))],
                                 "media_id long, payload binary")
    out = multimodal.frame_sample(docs, every_n=2, frame_bytes=10)
    rows = sorted((r["frame_no"], bytes(r["frame"])) for r in out.collect())
    assert [fn for fn, _ in rows] == [0, 2]
    assert rows[0][1] == bytes(range(10))
    assert rows[1][1] == bytes(range(20, 30))


def test_frame_sample_real_decoder_not_available(spark):
    docs = spark.createDataFrame([(1, b"x" * 32)], "media_id long, payload binary")
    with pytest.raises(NotImplementedError):
        multimodal.frame_sample(docs, fake=False)


def test_resize_fixed_output_shape(spark):
    docs = spark.createDataFrame(
        [(1, bytes(range(100))), (2, b"ab"), (3, None)],
        "media_id long, payload binary")
    out = {r["media_id"]: r for r in
           multimodal.resize(docs, width=4, height=4).collect()}
    assert all(len(bytes(r["payload"])) == 16 for r in out.values())
    assert bytes(out[2]["payload"])[:2] == b"ab"      # short input padded
    assert bytes(out[2]["payload"])[2:] == b"\x00" * 14
    assert bytes(out[3]["payload"]) == b"\x00" * 16   # null -> zero buffer
    # stride sampling covers the whole long input, first byte preserved
    long = bytes(out[1]["payload"])
    assert long[0] == 0 and long[-1] >= 90


def test_resize_real_decoder_not_available(spark):
    docs = spark.createDataFrame([(1, b"x")], "media_id long, payload binary")
    with pytest.raises(NotImplementedError):
        multimodal.resize(docs, fake=False)


def test_collocations_pmi_matches_handcount(spark):
    import math
    from flink_realtime_data_eng_spark.functions import text as T
    # "new york" appears 3x, tokens: new=3, york=3, other fillers
    df = spark.createDataFrame(
        [(1, "new york is big"), (2, "new york is old"),
         (3, "i like new york")], "doc_id long, text string")
    out = {(r["tok_a"], r["tok_b"]): (r["n_ab"], r["pmi"])
           for r in T.collocations(df, min_count=3).collect()}
    assert set(out) == {("new", "york")}
    n_ab, pmi = out[("new", "york")]
    n_total = 12  # 3 docs x 4 tokens
    assert n_ab == 3
    assert pmi == round(math.log((3 * n_total) / (3 * 3)), 6)


def test_unigram_logprob_matches_hand_model(spark):
    import math
    from flink_realtime_data_eng_spark.functions import text as T
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.unigram_logprob(df).collect()}
    # corpus: a=2 b=2 c=1, N=5, V=3 → p(a)=3/8 p(b)=3/8 p(c)=2/8
    lp = lambda c: math.log((c + 1) / 8)
    e6 = lambda x: int(round(x * 1e6))
    d1 = e6(2 * lp(2)) + e6(1 * lp(2))  # two a's (tf=2 term), one b
    assert out[1]["logprob_e6"] == d1 and out[1]["n_tokens"] == 3
    assert out[1]["mean_logprob"] == round(d1 / 3 / 1e6, 6)
    d2 = e6(lp(2)) + e6(lp(1))
    assert out[2]["logprob_e6"] == d2


def test_quality_buckets_partition_corpus(spark):
    from flink_realtime_data_eng_spark.functions import text as T
    from flink_realtime_data_eng_spark.schemas import load_table
    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    out = T.quality_buckets(d, n_buckets=3).collect()
    assert len(out) == d.count()  # every doc bucketed exactly once
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert set(by_bucket) == {1, 2, 3}
    # ntile balance: bucket sizes differ by at most 1
    sizes = sorted(len(v) for v in by_bucket.values())
    assert sizes[-1] - sizes[0] <= 1, sizes
    # head must rank >= tail on the exact key
    min_head = min(r["qkey_milli"] for r in by_bucket[1])
    max_tail = max(r["qkey_milli"] for r in by_bucket[3])
    assert min_head >= max_tail
    names = {r["bucket"]: r["bucket_name"] for r in out}
    assert names == {1: "head", 2: "middle", 3: "tail"}


def test_quality_buckets_approx_matches_exact_within_sketch_error(spark):
    from flink_realtime_data_eng_spark.functions import text as T
    from flink_realtime_data_eng_spark.schemas import load_table
    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    exact = {r["doc_id"]: (r["bucket"], r["qkey_milli"])
             for r in T.quality_buckets(d, n_buckets=3).collect()}
    approx = {r["doc_id"]: (r["bucket"], r["qkey_milli"])
              for r in T.quality_buckets_approx(d, n_buckets=3).collect()}
    assert set(exact) == set(approx)
    # identical ranking keys (shared computation)
    for i in exact:
        assert exact[i][1] == approx[i][1], i
    # bucket agreement: allow disagreement only near the cutoffs
    # (sketch rank error + un-split ties); at 500 docs this is a sliver
    diff = [i for i in exact if exact[i][0] != approx[i][0]]
    assert len(diff) <= 0.02 * len(exact), (len(diff), len(exact))
    # the scale path has NO window operator at all (cutoffs are one
    # sketch aggregate + broadcast), unlike the exact form's global ntile
    plan = (T.quality_buckets_approx(d)._jdf.queryExecution()
            .executedPlan().toString().split("== Initial Plan ==")[0])
    assert "WindowExec" not in plan and "Window " not in plan, plan[:500]


def test_audio_energy_frames_and_values(spark):
    from flink_realtime_data_eng_spark.functions import multimodal
    d = spark.createDataFrame(
        [(1, "a" * 64), (2, "b" * 40), (3, "")], "doc_id long, text string")
    media = multimodal.attach_binary_payload(d)
    rows = {(r["media_id"], r["frame_no"]): r["energy"]
            for r in multimodal.audio_energy(media, frame_samples=32).collect()}
    # 64 chars -> 2 full frames; 40 -> 1; empty -> 0
    assert set(rows) == {(1, 0), (1, 1), (2, 0)}
    assert rows[(1, 0)] == rows[(1, 1)] == 32 * ord("a") ** 2
    assert rows[(2, 0)] == 32 * ord("b") ** 2
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        multimodal.audio_energy(media, fake=False)


def test_ahash_hex_format_non_multiple_of_8(spark):
    """Pin the aHash hex format for pixel counts not divisible by 8
    (r7 ADVICE): np.packbits pads with TRAILING zero bits to whole
    bytes, so a 3x3 image (n=9) emits 2*ceil(9/8) = 4 hex chars with
    the 9th bit in the second byte's MSB. A silent format change here
    would split every existing hash-grouped dedup cluster."""
    from flink_realtime_data_eng_spark.functions import multimodal, png

    # px*9 >= sum(=535) ⇔ px >= 59.44…: bits 6,7,8 set →
    # 0b00000011 0b10000000 → "0380"
    pixels = bytes([0, 10, 20, 30, 40, 50, 60, 70, 255])
    payload = png.encode_gray([pixels[0:3], pixels[3:6], pixels[6:9]])
    media = spark.createDataFrame([(1, bytearray(payload))],
                                  "media_id long, payload binary")
    rows = multimodal.decode_png_ahash(media).collect()
    assert [(r["media_id"], r["ahash"]) for r in rows] == [(1, "0380")]


def test_multimodal_udfs_survive_foreign_cwd():
    """Python workers inherit the driver's cwd; when that is NOT the repo
    root the package is unimportable on workers and by-REFERENCE pickled
    helpers die with ModuleNotFoundError. multimodal registers itself for
    by-VALUE pickling — prove it by running an Arrow stage from /tmp in a
    fresh interpreter."""
    import subprocess
    import sys
    code = (
        f"import sys; sys.path.insert(0, {str(ROOT)!r})\n"
        "from pyspark.sql import SparkSession\n"
        "from flink_realtime_data_eng_spark import registry\n"
        "s = SparkSession.builder.master('local[2]')"
        ".appName('cwdtest').getOrCreate()\n"
        "s.sparkContext.setLogLevel('ERROR')\n"
        "n = registry.QUERIES['x_multimodal_features']"
        "(s, '/root/testdata/sf0.001').count()\n"
        "assert n > 0, n\n"
        "print('OK', n)\n")
    r = subprocess.run([sys.executable, "-c", code], cwd="/tmp",
                       capture_output=True, text=True, timeout=300,
                       env={**__import__('os').environ,
                            "PYTHONPATH": ""})
    assert r.returncode == 0 and "OK" in r.stdout, r.stdout + r.stderr[-2000:]


def test_bigram_logprob_penalizes_shuffled_order(spark):
    """The order-aware property the unigram model lacks: a doc whose
    common words appear in corpus-typical ADJACENCY outscores the same
    bag of words shuffled, while the unigram model ties them."""
    from flink_realtime_data_eng_spark.functions import text as T
    base = [(i, "the cat sat on the mat") for i in range(1, 9)]
    docs = base + [(9, "the cat sat on the mat"), (10, "mat the on sat cat the")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bg = {r["doc_id"]: r["mean_logprob"] for r in T.bigram_logprob(df).collect()}
    ug = {r["doc_id"]: r["mean_logprob"] for r in T.unigram_logprob(df).collect()}
    assert bg[9] > bg[10]          # adjacency matters
    assert ug[9] == ug[10]         # bag-of-words cannot tell them apart
    # empty/one-token docs score 0
    df2 = spark.createDataFrame([(1, ""), (2, "hello")], "doc_id long, text string")
    z = {r["doc_id"]: (r["n_bigrams"], r["logprob_e6"]) for r in
         T.bigram_logprob(df2).collect()}
    assert z == {1: (0, 0), 2: (0, 0)}


def test_token_entropy_hand_values(spark):
    import math
    from flink_realtime_data_eng_spark.functions import text as T
    d = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, ""), (4, "a a b b")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.token_entropy(d).collect()}
    assert out[1]["entropy_e6"] == 0 and out[1]["n_tokens"] == 4
    assert out[2]["entropy"] == round(4 * round(0.25 * math.log(4) * 1e6) / 1e6, 6)
    assert out[3]["n_tokens"] == 0 and out[3]["entropy"] == 0.0
    assert out[4]["entropy"] == round(2 * round(0.5 * math.log(2) * 1e6) / 1e6, 6)


def test_gopher_rules_verdicts(spark):
    long_good = " ".join(["the quick brown fox and the lazy dog run to it"] * 6)
    df = spark.createDataFrame(
        [(1, long_good),              # 66 words, stopwords, alpha — keep
         (2, "short text"),           # under the 50-word floor
         (3, " ".join(["#"] * 60)),   # symbols, no alpha words, no stops
         (4, "")],                    # empty
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.gopher_rules(df).collect()}
    assert out[1]["keep"]
    assert out[1]["n_words"] == 66 and out[1]["r_stopwords"]
    assert not out[2]["keep"] and not out[2]["r_word_count"]
    assert not out[3]["r_alpha_words"] and not out[3]["r_symbol_ratio"]
    assert not out[3]["keep"]
    assert out[4]["n_words"] == 0 and not out[4]["keep"]


def test_bpe_pair_counts_weighted_and_single_char_guard(spark):
    # "ab" occurs 3x (pair 'a b' weight 3), "abc" once ('a b' + 'b c'),
    # single-char "x" contributes NO pair (sequence(1,0) would descend).
    df = spark.createDataFrame(
        [(1, "ab ab x"), (2, "ab abc")], "doc_id long, text string")
    got = {r["pair"]: (r["cnt"], r["rk"])
           for r in text.bpe_pair_counts(df, k=10).collect()}
    assert got["a b"] == (4, 1)
    assert got["b c"] == (1, 2)
    assert len(got) == 2


def test_png_codec_roundtrip_all_encode_filters():
    from flink_realtime_data_eng_spark.functions import png
    rows = [bytes([(r * 31 + c * 7) % 256 for c in range(5)])
            for r in range(4)]
    for ftype in (0, 1, 2):
        payload = png.encode_gray(rows, filter_type=ftype)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        assert png.decode_gray(payload) == rows


def test_png_decoder_unfilters_average_and_paeth():
    """Filters 3/4 never come out of our encoder; build the filtered
    scanlines by hand (independent arithmetic) and require the decoder
    to invert them."""
    import struct
    import zlib
    from flink_realtime_data_eng_spark.functions import png
    rows = [bytes([10, 20, 30]), bytes([40, 50, 60])]
    raw = bytearray()
    # row 0: Average filter (prev row = zeros)
    raw.append(3)
    prev = bytes(3)
    out = []
    for i, x in enumerate(rows[0]):
        left = rows[0][i - 1] if i else 0
        raw.append((x - (left + prev[i]) // 2) & 0xFF)
    # row 1: Paeth filter
    raw.append(4)
    prev = rows[0]
    for i, x in enumerate(rows[1]):
        a = rows[1][i - 1] if i else 0
        b = prev[i]
        c = prev[i - 1] if i else 0
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        raw.append((x - pred) & 0xFF)

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    payload = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(bytes(raw)))
               + chunk(b"IEND", b""))
    assert png.decode_gray(payload) == rows


def test_png_decoder_rejects_corruption():
    import pytest as _pytest
    from flink_realtime_data_eng_spark.functions import png
    payload = bytearray(png.encode_gray([bytes([1, 2, 3])]))
    payload[20] ^= 0xFF  # flip a byte inside IHDR -> CRC mismatch
    with _pytest.raises(ValueError, match="CRC|profile"):
        png.decode_gray(bytes(payload))
    with _pytest.raises(ValueError, match="signature"):
        png.decode_gray(b"notapng" + bytes(payload))


def test_dsir_weights_favors_target_slice(spark):
    from flink_realtime_data_eng_spark.functions import text as T
    # target slice (lang=en) speaks 'alpha beta'; raw background speaks
    # 'gamma delta' -> en-style docs must score higher than raw-style.
    rows = [(i, "alpha beta alpha beta", "en") for i in range(5)] + \
           [(i + 5, "gamma delta gamma delta", "de") for i in range(5)] + \
           [(10, "alpha beta", "de"),          # de doc with en-style text
            (11, "", "en")]                    # empty doc -> weight 0
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in
           T.dsir_weights(df, buckets=64).collect()}
    assert len(out) == 12                      # every doc present
    assert out[11]["weight_e6"] == 0 and out[11]["n_tokens"] == 0
    # en-vocabulary docs weigh more than de-vocabulary docs, regardless
    # of their own label (content decides, not the label):
    assert out[0]["weight_e6"] > out[5]["weight_e6"]
    assert out[10]["weight_e6"] > out[5]["weight_e6"]
    assert out[0]["target_like"] and not out[5]["target_like"]


def test_dsir_weights_additive_in_tokens(spark):
    from flink_realtime_data_eng_spark.functions import text as T
    df = spark.createDataFrame(
        [(0, "word", "en"), (1, "word word", "en"), (2, "other", "de")],
        "doc_id long, text string, lang string")
    out = {r["doc_id"]: r["weight_e6"]
           for r in T.dsir_weights(df, buckets=16).collect()}
    # weight is a per-occurrence sum: doubling the token doubles the score
    assert out[1] == 2 * out[0]


def test_wav_codec_roundtrip_and_chunk_walk():
    import struct
    from flink_realtime_data_eng_spark.functions import wav
    s = [0, 1, -1, 32767, -32768, 100, -200, 5]
    p = wav.encode_pcm16(s, 8000)
    assert p[:4] == b"RIFF" and p[8:12] == b"WAVE"
    assert wav.decode_pcm16(p) == (8000, 1, s)
    # interleaved stereo round trip
    p2 = wav.encode_pcm16([1, 2, 3, 4], 44100, channels=2)
    assert wav.decode_pcm16(p2) == (44100, 2, [1, 2, 3, 4])
    # unknown odd-size chunk before fmt: skipped via the spec pad byte
    extra = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
    body = b"WAVE" + extra + p[12:]
    padded = b"RIFF" + struct.pack("<I", len(body)) + body
    assert wav.decode_pcm16(padded) == (8000, 1, s)
    # fmt chunk with the cbSize extension (size 18) still parses
    fmt = struct.pack("<HHIIHHH", 1, 1, 8000, 16000, 2, 16, 0)
    data = struct.pack("<4h", 9, -9, 3, 4)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    ext = b"RIFF" + struct.pack("<I", len(body)) + body
    assert wav.decode_pcm16(ext) == (8000, 1, [9, -9, 3, 4])


def test_wav_codec_rejects_bad_profiles():
    import struct
    import pytest as _pytest
    from flink_realtime_data_eng_spark.functions import wav
    p = wav.encode_pcm16([1, 2], 8000)
    with _pytest.raises(ValueError, match="RIFF"):
        wav.decode_pcm16(b"RIFX" + p[4:])
    with _pytest.raises(ValueError, match="truncated|RIFF"):
        wav.decode_pcm16(p[:14])
    with _pytest.raises(ValueError, match="s16 range"):
        wav.encode_pcm16([70000])
    with _pytest.raises(ValueError, match="frame-aligned"):
        wav.encode_pcm16([1, 2, 3], channels=2)
    # float PCM (format tag 3) rejected, not silently misread
    fmt3 = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt3
            + b"data" + struct.pack("<I", 0))
    f32 = b"RIFF" + struct.pack("<I", len(body)) + body
    with _pytest.raises(ValueError, match="format tag"):
        wav.decode_pcm16(f32)
    # 8-bit PCM rejected
    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt8
            + b"data" + struct.pack("<I", 0))
    u8 = b"RIFF" + struct.pack("<I", len(body)) + body
    with _pytest.raises(ValueError, match="bit depth"):
        wav.decode_pcm16(u8)


def test_wav_stages_roundtrip_stats(spark):
    from flink_realtime_data_eng_spark.functions import multimodal
    d = spark.createDataFrame(
        [(1, [0, 5, -5, 32767]), (2, [-32768, 7])],
        "media_id long, samples array<int>")
    media = multimodal.encode_wav_audio(d, sample_rate=16000)
    got = {r["media_id"]: r for r in multimodal.decode_wav_stats(media).collect()}
    assert got[1]["sample_rate"] == 16000 and got[1]["n_channels"] == 1
    assert (got[1]["n_samples"], got[1]["smp_min"], got[1]["smp_max"],
            got[1]["smp_sum"]) == (4, -5, 32767, 32767)
    assert (got[2]["n_samples"], got[2]["smp_min"], got[2]["smp_max"],
            got[2]["smp_sum"]) == (2, -32768, 7, -32761)
    mimes = {r["mime"] for r in media.select("mime").collect()}
    assert mimes == {"audio/wav"}


def test_audio_energy_wav_codec_real_samples(spark):
    import pytest as _pytest
    from flink_realtime_data_eng_spark.functions import multimodal
    d = spark.createDataFrame(
        [(1, [3, -4] * 8 + [10] * 8)],  # 24 samples -> 3 full 8-frames
        "media_id long, samples array<int>")
    media = multimodal.encode_wav_audio(d)
    rows = {(r["media_id"], r["frame_no"]): r["energy"]
            for r in multimodal.audio_energy(
                media, frame_samples=8, codec="wav").collect()}
    assert rows == {(1, 0): 4 * (9 + 16), (1, 1): 4 * (9 + 16),
                    (1, 2): 8 * 100}
    with _pytest.raises(ValueError, match="unknown codec"):
        multimodal.audio_energy(media, codec="flac")
