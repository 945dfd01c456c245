"""Text analysis and multimodal decoding operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s", 43),
        (1, "the quick brown fox jumps over the lazy dog", "en", "s", 43),  # exact dup of 0
        (2, "the quick brown fox jumps over a lazy dog", "en", "s", 41),  # near dup
        (3, "completely different content about spark engines", "en", "s", 48),
        (4, "el perro la casa de madrid", "es", "s", 26),
        (5, "", "en", "s", 0),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_text_features(docs):
    from rdfshape_api_spark.functions.textops import text_features

    rows = {r["doc_id"]: r for r in text_features(docs).collect()}
    assert rows[0]["n_tokens"] == 9
    assert rows[0]["lang_pred"] == "en"
    assert rows[4]["lang_pred"] == "es"
    assert rows[0]["fp"] == rows[1]["fp"]
    assert rows[0]["fp"] != rows[2]["fp"]
    assert 0.0 <= rows[3]["quality"] <= 1.0


def test_lm_score(docs):
    import math
    from collections import Counter

    from rdfshape_api_spark.functions.textops import lm_score

    texts = {
        0: "the quick brown fox jumps over the lazy dog",
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumps over a lazy dog",
        3: "completely different content about spark engines",
        4: "el perro la casa de madrid",
    }
    counts = Counter(w for t in texts.values() for w in t.split())
    tot = sum(counts.values())
    expect = {
        d: (
            len(t.split()),
            math.floor(
                sum(math.log(counts[w] / tot) for w in t.split()) / len(t.split()) * 100
            ),
        )
        for d, t in texts.items()
    }
    got = {r["doc_id"]: (r["n_words"], r["lm_bucket"]) for r in lm_score(docs).collect()}
    assert got == expect  # doc 5 (empty) absent
    assert got[0] == got[1]  # identical docs, identical signal
    assert got[3][1] < got[0][1]  # rare-token doc scores lower


def test_multimodal_plumbing(docs):
    from rdfshape_api_spark.functions.multimodal import (
        attach_binary,
        extract_features,
        frame_sample,
        payload_metadata,
    )

    b = attach_binary(docs)
    meta = {r["doc_id"]: r for r in payload_metadata(docs).collect()}
    assert meta[0]["n_bytes"] == 43
    feats = {r["doc_id"]: r["features"] for r in extract_features(b).collect()}
    assert len(feats[0]) == 8
    assert feats[0] == feats[1]  # deterministic fake features
    assert feats[5] == [0.0] * 8  # empty payload guard
    frames = frame_sample(b, every_n_bytes=16)
    assert frames.filter(F.col("doc_id") == 0).count() == 3  # ceil(43/16)


def test_real_decoder_stub_raises(docs):
    from rdfshape_api_spark.functions.multimodal import attach_binary, extract_features

    with pytest.raises(Exception, match="(?i)decode|NotImplemented"):
        extract_features(attach_binary(docs), use_real_decoder=True).collect()


def test_extract_features_counts_mode(docs):
    from rdfshape_api_spark.functions.multimodal import attach_binary, extract_features

    feats = {
        r["doc_id"]: r["features"]
        for r in extract_features(attach_binary(docs), normalize=False).collect()
    }
    assert sum(feats[0]) == 43  # counts sum to payload length
    assert all(f == int(f) for f in feats[0])
    assert feats[5] == [0.0] * 8


def test_redact_pii(spark):
    from rdfshape_api_spark.functions.textops import redact_pii

    rows = [
        (0, "mail me at alice.doe+x@example.org or call +32-468-123456"),
        (1, "server at 192.168.0.1 responded"),
        (2, "nothing sensitive here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert "<EMAIL>" in out[0]["clean_text"] and "<PHONE>" in out[0]["clean_text"]
    assert out[0]["n_redactions"] == 2
    assert out[1]["clean_text"] == "server at <IP> responded"
    assert out[1]["n_redactions"] == 1
    assert out[2]["n_redactions"] == 0 and out[2]["clean_text"] == rows[2][1]


def test_repetition_signals(spark):
    from rdfshape_api_spark.functions.textops import repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "a b a b c\nx y\nx y"),
            (2, "one two three"),
            (3, ""),
            (4, None),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in repetition_signals(docs).collect()}
    r1 = out[1]
    # lines: ["a b a b c", "x y", "x y"] → 1 dup line of 3 chars
    assert r1["n_lines"] == 3 and r1["n_dup_lines"] == 1 and r1["n_dup_line_chars"] == 3
    # words: a b a b c x y x y → 9 words, distinct 5 → 4 dups
    assert r1["n_words"] == 9 and r1["n_dup_words"] == 4
    # bigrams: "a b","b a","a b","b c","c x","x y","y x","x y" → "a b"/"x y" ×2
    assert r1["top_bigram_count"] == 2
    r2 = out[2]
    assert r2["n_words"] == 3 and r2["n_dup_words"] == 0 and r2["top_bigram_count"] == 1
    for d in (3, 4):
        assert out[d]["n_words"] == 0 and out[d]["top_bigram_count"] == 0


def test_quality_filter(spark):
    from rdfshape_api_spark.functions.textops import quality_filter

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over one lazy dog and then "
                "naps beside the river bank for a while longer today ok"),
            (2, "short doc"),                       # too few words
            (3, "spam " * 50),                      # repetitive
            (4, "a b c d e f g h i j k l m n o p q r s t u v"),  # mean too short
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in quality_filter(docs).collect()}
    assert out[1]["keep"] and out[1]["drop_reasons"] == ""
    assert not out[2]["keep"] and "too_few_words" in out[2]["drop_reasons"]
    assert not out[3]["keep"] and "repetitive" in out[3]["drop_reasons"]
    assert not out[4]["keep"] and "mean_word_too_short" in out[4]["drop_reasons"]


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _make_png(pixels, color_type: int, filters=None) -> bytes:
    """Encode an (H, W, C) uint8 array as a PNG, filtering each scanline
    with the given filter types (defaults to 0/None)."""
    import struct
    import zlib

    import numpy as np

    h, w, c = pixels.shape
    bpp = c
    filters = filters or [0] * h
    raw = bytearray()
    prev = bytes(w * c)
    for y, ft in zip(range(h), filters):
        line = bytearray(pixels[y].tobytes())
        enc = bytearray(line)
        if ft == 1:  # Sub
            for i in range(len(line) - 1, bpp - 1, -1):
                enc[i] = (line[i] - line[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(len(line)):
                enc[i] = (line[i] - prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(len(line)):
                left = line[i - bpp] if i >= bpp else 0
                enc[i] = (line[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            from rdfshape_api_spark.functions.multimodal import _paeth

            for i in range(len(line)):
                left = line[i - bpp] if i >= bpp else 0
                ul = prev[i - bpp] if i >= bpp else 0
                enc[i] = (line[i] - _paeth(left, prev[i], ul)) & 0xFF
        raw += bytes([ft]) + bytes(enc)
        prev = bytes(line)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def test_decode_png_rgb_all_filters():
    import numpy as np

    from rdfshape_api_spark.functions.multimodal import decode_png

    rng = np.random.RandomState(7)
    pixels = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
    for filters in ([0] * 5, [1] * 5, [2] * 5, [3] * 5, [4] * 5, [0, 1, 2, 3, 4]):
        png = _make_png(pixels, color_type=2, filters=filters)
        out = decode_png(png)
        assert out.shape == (5, 4, 3)
        assert (out == pixels).all(), f"filters={filters}"


def test_decode_png_greyscale_and_rgba():
    import numpy as np

    from rdfshape_api_spark.functions.multimodal import decode_png

    grey = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    assert (decode_png(_make_png(grey, 0, [4, 2, 1])) == grey).all()
    rgba = np.arange(48, dtype=np.uint8).reshape(3, 4, 4)
    assert (decode_png(_make_png(rgba, 6, [3, 4, 0])) == rgba).all()


def test_decode_png_rejects_non_png():
    import pytest

    from rdfshape_api_spark.functions.multimodal import decode_png

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"GIF89a....")


def test_extract_features_real_png_decoder(spark):
    """The real-decoder path runs end-to-end on PNG payloads without
    Pillow: decode → pixel histogram features (mapInPandas batch)."""
    import numpy as np

    from rdfshape_api_spark.functions.multimodal import (
        _fake_features,
        extract_features,
    )

    rng = np.random.RandomState(11)
    imgs = {i: rng.randint(0, 256, size=(4, 3, 3), dtype=np.uint8) for i in range(3)}
    rows = [(i, _make_png(img, 2, [0, 1, 2, 4])) for i, img in imgs.items()]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r["features"] for r in
           extract_features(df, use_real_decoder=True, normalize=False).collect()}
    for i, img in imgs.items():
        assert out[i] == _fake_features(img.tobytes(), normalize=False)


def test_top_ngrams(docs):
    from rdfshape_api_spark.functions.textops import top_ngrams

    # bigrams at 50% support over the 6-doc corpus (empty doc counts in N):
    # docs 0-2 share "the quick", "quick brown", ... -> df=3 = 50% of 6
    out = {r["gram"]: r["df"] for r in top_ngrams(docs, n=2, support=0.5).collect()}
    assert out["the quick"] == 3
    assert out["quick brown"] == 3
    assert out["lazy dog"] == 3
    # "over the" appears only in docs 0,1 (doc 2 has "over a") -> below support
    assert "over the" not in out
    # unigram mode
    uni = {r["gram"]: r["df"] for r in top_ngrams(docs, n=1, support=0.5).collect()}
    assert uni["the"] == 3 and "el" not in uni
    with pytest.raises(ValueError, match="unigrams and bigrams"):
        top_ngrams(docs, n=3)


def test_tfidf_topk(docs):
    import math

    from rdfshape_api_spark.functions.textops import tfidf_topk

    out = tfidf_topk(docs, k=3).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 5 docs have words (empty doc 5 excluded), each capped at k=3
    assert set(by_doc) == {0, 1, 2, 3, 4}
    assert all(len(v) == 3 for v in by_doc.values())
    for rows in by_doc.values():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3]
    # doc 4's Spanish terms are unique to it: df=1, tf=1 -> score ln(5)*1e6
    top4 = min(by_doc[4], key=lambda r: r["rank"])
    assert top4["df"] == 1 and top4["tf"] == 1
    assert top4["score_micro"] == round(math.log(5.0) * 1e6)
    # ties broken by term asc: all doc-4 terms share the same score
    terms4 = [r["term"] for r in sorted(by_doc[4], key=lambda r: r["rank"])]
    assert terms4 == sorted(terms4)
    # identical docs 0/1 get identical signatures
    sig = lambda d: sorted((r["term"], r["tf"], r["df"], r["score_micro"]) for r in by_doc[d])  # noqa: E731
    assert sig(0) == sig(1)


def test_decode_wav_and_signal():
    import io
    import wave as wavemod

    import numpy as np

    from rdfshape_api_spark.functions.multimodal import _audio_signal, decode_wav

    # 16-bit stereo sine + ramp, 16 kHz — a REAL decode through stdlib wave
    t = np.arange(64)
    left = (np.sin(2 * np.pi * t / 16) * 20000).astype("<i2")
    right = np.linspace(-30000, 30000, 64).astype("<i2")
    inter = np.empty(128, dtype="<i2")
    inter[0::2], inter[1::2] = left, right
    buf = io.BytesIO()
    with wavemod.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(inter.tobytes())
    payload = buf.getvalue()
    samples, rate = decode_wav(payload)
    assert rate == 16000 and samples.shape == (64, 2)
    assert (samples[:, 0] == left).all() and (samples[:, 1] == right).all()
    # 8-bit mono recentres unsigned -> signed
    buf8 = io.BytesIO()
    with wavemod.open(buf8, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([128, 255, 0, 128]))
    s8, r8 = decode_wav(buf8.getvalue())
    assert r8 == 8000 and s8[:, 0].tolist() == [0, 127, -128, 0]
    # _audio_signal dispatch: RIFF -> real decode; other bytes -> fake PCM
    sig, nch, rate = _audio_signal(payload)
    assert nch == 2 and rate == 16000 and (sig == left).all()
    fake, nch_f, rate_f = _audio_signal(b"\x80\xff\x00")
    assert (nch_f, rate_f) == (1, 8000) and fake.tolist() == [0, 127, -128]
    with pytest.raises(ValueError, match="not a WAV"):
        decode_wav(b"plain text")


def test_audio_features(spark, docs):
    from rdfshape_api_spark.functions.multimodal import attach_binary, audio_features

    out = {r["doc_id"]: r for r in audio_features(attach_binary(docs)).collect()}
    # empty doc 5 dropped; the rest present
    assert set(out) == {0, 1, 2, 3, 4}
    r0 = out[0]
    data = [b - 128 for b in b"the quick brown fox jumps over the lazy dog"]
    assert r0["n_samples"] == len(data)
    assert r0["n_channels"] == 1 and r0["sample_rate"] == 8000
    assert r0["energy_ssq"] == sum(v * v for v in data)
    assert r0["zero_crossings"] == sum(
        1 for a, b in zip(data, data[1:]) if a * b < 0
    )
    assert out[0]["energy_ssq"] == out[1]["energy_ssq"]  # identical docs


def test_normalize_text(spark):
    """NFC composition, accent folding, digit/punct/ws folding, control
    strip — the CCNet-style pre-dedup normalization (textops.normalize_text)."""
    from rdfshape_api_spark.functions.textops import normalize_text

    decomposed = "Café No1!"        # e + combining acute (NFD)
    composed = "Café No2?"           # precomposed é
    docs = spark.createDataFrame(
        [
            ("d1", decomposed),
            ("d2", composed),
            ("d3", "Café   No9\t."),
            ("d4", "plain\x07text\x0b!"),  # BEL + VT control chars
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r for r in normalize_text(docs).collect()}
    # NFC: the decomposed form composes; both collapse to one key after
    # accent-strip + digit-fold + punct-drop + ws-collapse
    assert out["d1"]["norm_text"] == "Café No1!"
    assert out["d1"]["dedup_key"] == out["d2"]["dedup_key"] == out["d3"]["dedup_key"]
    # control chars removed from norm_text and flagged
    assert out["d4"]["norm_text"] == "plaintext!"
    assert out["d4"]["had_control_chars"] is True
    assert out["d1"]["had_control_chars"] is False


def test_corpus_stats(spark):
    from rdfshape_api_spark.functions.textops import corpus_stats

    docs = spark.createDataFrame(
        [
            (0, "a b c", "en", "s1", 5),
            (1, "d e", "en", "s1", 3),
            (2, "f g h i", "en", "s2", 7),
            (3, "x y z", "de", "s1", 5),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {(r["lang"], r["source"]): r for r in corpus_stats(docs).collect()}
    assert out[("en", "s1")]["n_docs"] == 2
    assert out[("en", "s1")]["n_tokens"] == 5
    assert out[("en", "s2")]["n_chars"] == 7
    assert out[("de", "s1")]["docs_ppm"] == 250000
    # ppm shares are integral and sum to <= 1e6
    assert sum(r["tokens_ppm"] for r in out.values()) <= 1_000_000
    assert out[("en", "s1")]["tokens_ppm"] == (5 * 1_000_000) // 12


def _make_bmp(img, bpp=24, bottom_up=True):
    """Reference BMP writer (BITMAPINFOHEADER, BI_RGB)."""
    import struct

    import numpy as np

    h, w, ch = img.shape
    stride = (w * (bpp // 8) + 3) & ~3
    rows = []
    order = range(h - 1, -1, -1) if bottom_up else range(h)
    for y in order:
        row = img[y][:, [2, 1, 0] + ([3] if ch == 4 else [])]  # RGB(A)->BGR(A)
        raw = row.astype(np.uint8).tobytes()
        rows.append(raw + b"\x00" * (stride - len(raw)))
    pix = b"".join(rows)
    hh = h if bottom_up else -h
    info = struct.pack("<IiiHHIIiiII", 40, w, hh, 1, bpp, 0, len(pix), 2835, 2835, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 14 + 40)
    return hdr + info + pix


def test_decode_bmp_24_and_32bit():
    import numpy as np

    from rdfshape_api_spark.functions.multimodal import decode_bmp

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (5, 3, 3), dtype=np.uint8)
    assert (decode_bmp(_make_bmp(img)) == img).all()
    # top-down (negative height) variant
    assert (decode_bmp(_make_bmp(img, bottom_up=False)) == img).all()
    rgba = rng.randint(0, 256, (2, 7, 4), dtype=np.uint8)
    assert (decode_bmp(_make_bmp(rgba, bpp=32)) == rgba).all()


def test_decode_bmp_rejects():
    import pytest as pt

    from rdfshape_api_spark.functions.multimodal import decode_bmp

    with pt.raises(ValueError):
        decode_bmp(b"nope" + b"\x00" * 60)
    # RLE compression -> clean subset reject
    import struct

    import numpy as np

    img = np.zeros((2, 2, 3), dtype=np.uint8)
    raw = bytearray(_make_bmp(img))
    struct.pack_into("<I", raw, 30, 1)  # biCompression = BI_RLE8
    with pt.raises(NotImplementedError):
        decode_bmp(bytes(raw))


# --- GIF decode (pure-stdlib LZW, functions/multimodal.decode_gif) --------


def _make_gif(indices, palette, clear_every=None):
    """Build a GIF89a from 2-D index array + RGB palette with an
    INDEPENDENT LZW writer: literal codes only, CLEAR emitted often
    enough that the decoder's code width never grows — correct by the
    spec's width-growth rule, sharing no logic with the decoder."""
    import struct

    import numpy as np

    indices = np.asarray(indices, dtype=np.uint8)
    h, w = indices.shape
    n_pal = len(palette)
    pal_bits = max(1, (n_pal - 1).bit_length())
    mcs = max(2, pal_bits)
    clear, end = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    if clear_every is None:
        clear_every = (1 << mcs) - 3
    out = bytearray()
    acc = nacc = 0

    def emit(code):
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    emit(clear)
    cnt = 0
    for ix in indices.ravel():
        if cnt == clear_every:
            emit(clear)
            cnt = 0
        emit(int(ix))
        cnt += 1
    emit(end)
    if nacc:
        out.append(acc & 0xFF)

    gct_bits = max(1, pal_bits)
    gct_n = 1 << gct_bits
    gct = bytearray()
    for i in range(gct_n):
        r, g, b = palette[i] if i < n_pal else (0, 0, 0)
        gct += bytes([r, g, b])
    buf = bytearray(b"GIF89a")
    buf += struct.pack("<HHBBB", w, h, 0x80 | (gct_bits - 1), 0, 0)
    buf += gct
    # a graphic-control extension the decoder must skip
    buf += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    buf += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    buf += bytes([mcs])
    for off in range(0, len(out), 255):
        blk = out[off : off + 255]
        buf += bytes([len(blk)]) + blk
    buf += b"\x00\x3b"
    return bytes(buf)


def test_decode_gif_roundtrip():
    import numpy as np

    from rdfshape_api_spark.functions.multimodal import decode_gif

    rng = np.random.RandomState(11)
    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    idx = rng.randint(0, 4, size=(7, 5))
    img = decode_gif(_make_gif(idx, palette))
    assert img.shape == (7, 5, 3)
    expect = np.array(palette, dtype=np.uint8)[idx]
    assert (img == expect).all()
    # frequent CLEARs (every 2 codes) must decode identically
    img2 = decode_gif(_make_gif(idx, palette, clear_every=2))
    assert (img2 == expect).all()


def test_decode_gif_kwkwk_case():
    """Hand-packed stream exercising the code==next_code (KwKwK) branch:
    mcs=2, codes [CLEAR=4, 1, 6, END=5] at width 3 decode to pixels
    [1, 1, 1] (code 6 == table size -> entry 'prev + prev[0]')."""
    import struct

    import numpy as np

    from rdfshape_api_spark.functions.multimodal import decode_gif

    codes, width = [4, 1, 6, 5], 3
    acc = nacc = 0
    data = bytearray()
    for c in codes:
        acc |= c << nacc
        nacc += width
        while nacc >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
    if nacc:
        data.append(acc & 0xFF)
    buf = bytearray(b"GIF87a")
    buf += struct.pack("<HHBBB", 3, 1, 0x80 | 1, 0, 0)  # 4-color GCT
    buf += bytes([0, 0, 0, 9, 9, 9, 0, 0, 0, 0, 0, 0])
    buf += b"\x2c" + struct.pack("<HHHHB", 0, 0, 3, 1, 0)
    buf += bytes([2, len(data)]) + data + b"\x00\x3b"
    img = decode_gif(bytes(buf))
    assert (img == np.array([[[9, 9, 9]] * 3], dtype=np.uint8)).all()


def test_decode_gif_rejects():
    import numpy as np
    import pytest as pt

    from rdfshape_api_spark.functions.multimodal import decode_gif

    with pt.raises(ValueError, match="not a GIF"):
        decode_gif(b"PNG!" + b"\x00" * 20)
    gif = bytearray(_make_gif(np.zeros((2, 2), dtype=np.uint8), [(1, 2, 3), (0, 0, 0)]))
    # flip the image descriptor's interlace bit -> clean subset reject
    pos = gif.index(b"\x2c")
    gif[pos + 9] |= 0x40
    with pt.raises(NotImplementedError, match="non-interlaced"):
        decode_gif(bytes(gif))


def test_decode_gif_truncated_raises_valueerror():
    """Truncated/corrupt payloads must raise the documented ValueError
    clean-reject, never IndexError, at every cut point — callers route
    decode errors by catching ValueError."""
    import numpy as np
    import pytest as pt

    from rdfshape_api_spark.functions.multimodal import _gif_lzw, decode_gif

    full = _make_gif(
        np.array([[0, 1], [1, 0]], dtype=np.uint8), [(1, 2, 3), (4, 5, 6)]
    )
    # a cut past the last data sub-block still decodes (trailer optional);
    # any earlier cut must clean-reject — never IndexError / struct.error
    for cut in range(14, len(full)):
        try:
            img = decode_gif(full[:cut])
            assert img.shape == (2, 2, 3)
        except (ValueError, NotImplementedError):
            pass
    # first code after CLEAR beyond the table -> clean reject, not IndexError
    with pt.raises(ValueError, match="truncated/corrupt"):
        _gif_lzw(2, bytes([0x04 | (0x07 << 3)]))  # CLEAR=4 then code 7 > table


def test_decode_image_real_dispatches_gif():
    import numpy as np

    from rdfshape_api_spark.functions.multimodal import _decode_image_real

    idx = np.array([[0, 1], [1, 0]], dtype=np.uint8)
    img = _decode_image_real(_make_gif(idx, [(5, 5, 5), (7, 7, 7)]))
    assert img.shape == (2, 2, 3) and img[0, 1, 0] == 7
