"""Audio tier (operators/audio.py): WAV/PCM16 codec truth tables,
feature math, gate behavior, and the Arrow stage shape."""

from __future__ import annotations

import math
import struct

import pytest

from mongo_analyser_spark.operators.audio import (
    decode_wav,
    encode_wav,
    wav_features,
    wav_features_frame,
)


def test_roundtrip_exact():
    samples = [0, 1, -1, 32767, -32768, 12345, -54, 64]
    rate, out = decode_wav(encode_wav(8000, samples))
    assert rate == 8000
    assert out == samples


def test_roundtrip_empty_and_clamp():
    rate, out = decode_wav(encode_wav(44100, []))
    assert (rate, out) == (44100, [])
    # out-of-range inputs clamp to int16 at encode time
    _, out = decode_wav(encode_wav(8000, [99999, -99999]))
    assert out == [32767, -32768]


def test_decode_chunk_order_and_alignment():
    """Decoder must walk chunks, not assume fmt-then-data at fixed
    offsets: insert an odd-length junk chunk (word alignment) first."""
    base = encode_wav(16000, [5, -3, 2])
    junk = b"JUNK" + struct.pack("<I", 3) + b"abc" + b"\x00"  # padded
    body = b"WAVE" + junk + base[12:]
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, out = decode_wav(payload)
    assert (rate, out) == (16000, [5, -3, 2])


def test_gates():
    with pytest.raises(ValueError):
        decode_wav(b"\x00" * 20)
    # stereo payload: rewrite the channel count in the fmt chunk
    b = bytearray(encode_wav(8000, [1, 2]))
    # fmt chunk body starts at offset 20; channels at +2
    b[22:24] = struct.pack("<H", 2)
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(b))
    # float PCM (format tag 3)
    b = bytearray(encode_wav(8000, [1, 2]))
    b[20:22] = struct.pack("<H", 3)
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(b))


def test_features_truth_table():
    # samples: [5,-3,0,2,-1,-4,6] -> zc pairs with product<0:
    # (5,-3), (2,-1), (-4,6) = 3; (−3,0),(0,2) do NOT count (product 0)
    s = [5, -3, 0, 2, -1, -4, 6]
    f = wav_features(encode_wav(8000, s))
    assert f["n_samples"] == 7
    assert f["zero_crossings"] == 3
    assert f["peak"] == 6
    assert f["duration_s"] == math.floor(7 / 8000 * 1e4 + 0.5) / 1e4
    assert f["rms"] == math.floor(math.sqrt(91 / 7) * 1e4 + 0.5) / 1e4


def test_features_empty():
    f = wav_features(encode_wav(8000, []))
    assert f == {
        "sample_rate": 8000,
        "n_samples": 0,
        "duration_s": 0.0,
        "rms": 0.0,
        "peak": 0,
        "zero_crossings": 0,
    }


def test_frame_stage(spark):
    rows = [
        (1, bytearray(encode_wav(8000, [100, -100, 100]))),
        (2, bytearray(encode_wav(16000, list(range(-50, 50))))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r.asDict()
        for r in wav_features_frame(df, "payload", "doc_id").collect()
    }
    assert out[1]["zero_crossings"] == 2
    assert out[1]["peak"] == 100
    assert out[2]["sample_rate"] == 16000
    assert out[2]["n_samples"] == 100
    # one sign flip (-1 -> 0 doesn't count; -1*0 == 0)
    assert out[2]["zero_crossings"] == 0


def test_frame_features_truth_table():
    """Frame windowing: 5 samples at frame_len=2 -> frames [2,2,1];
    frame-local ZC doesn't count across frame boundaries."""
    from mongo_analyser_spark.operators.audio import (
        encode_wav,
        wav_frame_features,
    )

    s = [100, -100, 100, -100, 100]
    frames = wav_frame_features(encode_wav(8000, s), frame_len=2)
    assert [f["n_samples"] for f in frames] == [2, 2, 1]
    assert [f["frame_idx"] for f in frames] == [0, 1, 2]
    # within-frame sign flips only: [100,-100]=1, [100,-100]=1, [100]=0
    assert [f["zero_crossings"] for f in frames] == [1, 1, 0]
    assert all(f["peak"] == 100 for f in frames)
    assert frames[0]["rms"] == 100.0


def test_frame_features_empty_clip():
    from mongo_analyser_spark.operators.audio import (
        encode_wav,
        wav_frame_features,
    )

    frames = wav_frame_features(encode_wav(8000, []), frame_len=64)
    assert frames == [
        {"frame_idx": 0, "n_samples": 0, "rms": 0.0, "peak": 0,
         "zero_crossings": 0}
    ]


def test_resample_decimate():
    from mongo_analyser_spark.operators.audio import (
        decode_wav,
        encode_wav,
        resample_decimate,
    )

    clip = encode_wav(8000, list(range(10)))
    rate, s = decode_wav(resample_decimate(clip, 4))
    assert rate == 2000
    assert s == [0, 4, 8]
    # factor 1 is the identity
    rate1, s1 = decode_wav(resample_decimate(clip, 1))
    assert (rate1, s1) == (8000, list(range(10)))
    import pytest

    with pytest.raises(ValueError):
        resample_decimate(clip, 0)


def test_wav_ex_float_stereo_roundtrip():
    """float32 stereo: encode -> decode_wav_ex de-interleaves exactly
    (dyadic k/128 samples are float32-exact)."""
    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ex,
    )

    c0 = [(k - 64) / 128.0 for k in range(1, 60, 7)]
    c1 = [-(k - 60) / 128.0 for k in range(1, 60, 7)]
    rate, chans = decode_wav_ex(encode_wav_ex(8000, [c0, c1]))
    assert rate == 8000 and len(chans) == 2
    assert chans[0] == c0 and chans[1] == c1


def test_wav_ex_pcm16_quad_channel():
    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ex,
    )

    chans = [[float(100 * c + i) for i in range(5)] for c in range(4)]
    rate, back = decode_wav_ex(encode_wav_ex(16000, chans, fmt=1))
    assert rate == 16000 and back == chans


def test_wav_ex_gates_and_validation():
    import pytest

    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ex,
    )

    with pytest.raises(ValueError):
        decode_wav_ex(b"RIFF\x00\x00\x00\x00WAVE")  # no fmt/data
    with pytest.raises(ValueError):
        encode_wav_ex(8000, [[0.0, 1.0], [0.0]])  # ragged channels
    # width/format flags are mutually exclusive with the wrong fmt tag
    with pytest.raises(ValueError):
        encode_wav_ex(8000, [[0.0]], fmt=3, bits24=True)
    with pytest.raises(ValueError):
        encode_wav_ex(8000, [[0.0]], fmt=1, bits64=True)
    # the codec gate now covers ONLY genuinely compressed audio: a
    # format-tag 0x55 (MP3) container must still raise
    payload = bytearray(encode_wav_ex(8000, [[0.0] * 4], fmt=1))
    # fmt chunk starts at offset 20; format tag is its first u16
    payload[20:22] = (0x55).to_bytes(2, "little")
    with pytest.raises(NotImplementedError):
        decode_wav_ex(bytes(payload))


def test_wav_pcm24_roundtrip_and_clamp():
    """PCM24 encode/decode round trip (round-13, verdict-r12 #1/#2):
    values round-trip exactly across the full signed 24-bit range,
    out-of-range inputs clamp at the rails, and negative samples use
    3-byte two's complement."""
    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ex,
        wav_pcm24_features,
    )

    smp = [0, 1, -1, 8388607, -8388608, 12345, -54321, 4096]
    payload = encode_wav_ex(44100, [smp], fmt=1, bits24=True)
    rate, chans = decode_wav_ex(payload)
    assert rate == 44100
    assert len(chans) == 1
    assert chans[0] == [float(v) for v in smp]
    # fmt chunk advertises 24 bits / block align 3
    assert payload[34:36] == (24).to_bytes(2, "little")
    assert payload[32:34] == (3).to_bytes(2, "little")
    # clamping at the rails (values beyond the width clamp, not wrap)
    clamped = encode_wav_ex(8000, [[8388608, -8388609]], fmt=1, bits24=True)
    _r, ch = decode_wav_ex(clamped)
    assert ch[0] == [8388607.0, -8388608.0]
    # truncated data chunk (size field larger than payload) must raise
    import pytest

    with pytest.raises(ValueError):
        decode_wav_ex(payload[:-1])
    # feature helper: exact-integer sums, shared q4 quantization
    ft = wav_pcm24_features(encode_wav_ex(8000, [[4096, -4096, 4096]],
                                          fmt=1, bits24=True))
    assert ft["n_samples"] == 3
    assert ft["peak"] == 4096
    assert ft["zero_crossings"] == 2
    import math

    assert ft["mean"] == math.floor(4096 / 3 * 1e4 + 0.5) / 1e4
    assert ft["rms"] == math.floor(4096.0 * 1e4 + 0.5) / 1e4
    # empty clip: all-zero features, no division blowup
    ft0 = wav_pcm24_features(encode_wav_ex(8000, [[]], fmt=1, bits24=True))
    assert ft0 == {"n_samples": 0, "mean": 0.0, "rms": 0.0, "peak": 0,
                   "zero_crossings": 0}


def test_clip_features_law():
    """clip_features is the one statement of the clip law: (n, q4 mean,
    q4 rms, raw peak, zero crossings), summed in sample order."""
    from mongo_analyser_spark.operators.audio import clip_features

    def q(x):
        return math.floor(x * 10000.0 + 0.5) / 10000.0

    ints = [(c - 64) * 256 for c in b"Hello, world! 0"]
    floats = [(c - 64) / 128.0 for c in b"Hello"]
    for s in (ints, floats, [5], [0, 3, -3, 0, -1]):
        n = len(s)
        assert clip_features(s) == (
            n,
            q(sum(s) / n),
            q(math.sqrt(sum(v * v for v in s) / n)),
            max(abs(v) for v in s),
            sum(1 for i in range(1, n) if s[i - 1] * s[i] < 0),
        )
    assert clip_features([]) == (0, 0.0, 0.0, 0, 0)
    assert clip_features([0, 3, -3, 0, -1])[4] == 1  # a zero breaks a crossing


def test_wav_multichannel_features_exact():
    import math

    from mongo_analyser_spark.operators.audio import (
        encode_wav_ex,
        wav_multichannel_features,
    )

    c0 = [1 / 128.0, -2 / 128.0, 3 / 128.0]
    c1 = [0.0, 5 / 128.0, -5 / 128.0]
    out = wav_multichannel_features(encode_wav_ex(8000, [c0, c1]))
    assert [o["channel"] for o in out] == [0, 1]
    f0 = out[0]
    assert f0["n_samples"] == 3
    assert f0["zero_crossings"] == 2
    exp_rms = math.floor(
        math.sqrt((1 + 4 + 9) / 16384.0 / 3) * 1e4 + 0.5
    ) / 1e4
    assert f0["rms"] == exp_rms
    assert f0["peak"] == math.floor(3 / 128.0 * 1e4 + 0.5) / 1e4
    f1 = out[1]
    assert f1["zero_crossings"] == 1  # 0*x pairs don't count, 5,-5 does


def test_wav_ex_float64_roundtrip():
    """IEEE float64 WAV: exact round trip of arbitrary doubles (no
    float32 narrowing)."""
    import math

    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ex,
    )

    c0 = [0.1, -0.2, math.pi, 1e-300]
    c1 = [0.0, 1.5, -2.25, 3.0]
    rate, chans = decode_wav_ex(encode_wav_ex(44100, [c0, c1], bits64=True))
    assert rate == 44100
    assert chans[0] == c0 and chans[1] == c1  # bit-exact doubles


# ---- G.711 mu-law / A-law (round 13) --------------------------------------


def test_g711_expand_compress_identity_all_codes():
    """compress(expand(c)) == c for every A-law code; mu-law's single
    exception is the spec's two zero codes (0x7F and 0xFF both expand
    to 0, compress picks 0xFF) — expand(compress(expand(c))) is still
    exact for ALL codes, which is what the decode path relies on."""
    from mongo_analyser_spark.operators.audio import (
        alaw_compress, alaw_expand, mulaw_compress, mulaw_expand,
    )

    assert all(alaw_compress(alaw_expand(c)) == c for c in range(256))
    assert all(
        mulaw_compress(mulaw_expand(c)) == c
        for c in range(256) if c != 0x7F
    )
    assert mulaw_expand(0x7F) == mulaw_expand(0xFF) == 0
    assert all(
        mulaw_expand(mulaw_compress(mulaw_expand(c))) == mulaw_expand(c)
        for c in range(256)
    )
    # public anchor values: full-scale and zero, both laws
    assert (mulaw_expand(0x00), mulaw_expand(0x80)) == (-32124, 32124)
    assert (alaw_expand(0x2A), alaw_expand(0xAA)) == (-32256, 32256)
    assert (alaw_expand(0xD5), alaw_expand(0x55)) == (8, -8)


def test_g711_wav_roundtrip_and_gate_narrowing():
    from mongo_analyser_spark.operators.audio import (
        alaw_expand, decode_wav_ex, encode_wav_g711, mulaw_expand,
    )

    ul = [mulaw_expand(c) for c in range(1, 128)]
    rate, chans = decode_wav_ex(encode_wav_g711(8000, [ul], law="mulaw"))
    assert rate == 8000 and chans == [[float(v) for v in ul]]
    al = [alaw_expand(c) for c in range(0, 256, 3)]
    rate, chans = decode_wav_ex(
        encode_wav_g711(16000, [al, al[::-1]], law="alaw")
    )
    assert rate == 16000
    assert chans[0] == [float(v) for v in al]
    assert chans[1] == [float(v) for v in al[::-1]]
    # arbitrary linear input quantizes through the compander
    import random

    rng = random.Random(3)
    raw = [rng.randint(-32000, 32000) for _ in range(200)]
    _, out = decode_wav_ex(encode_wav_g711(8000, [raw]))
    # mu-law max quantization error is bounded by the top-segment step
    assert all(abs(a - b) <= 1024 for a, b in zip(raw, out[0]))


# ------------------------------------------------------------- ADPCM


def test_ima_adpcm_encode_decode_snr():
    """Real sample-domain round trip through the greedy encoder and the
    production decoder: ADPCM is lossy, so the contract is SNR (>= 20 dB
    on a smooth signal — measured 28.6 on this seed) and exact length."""
    import math
    import random

    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ima_adpcm,
    )

    rng = random.Random(5)
    n = 700
    samples = [
        int(8000 * math.sin(i / 12.0) + rng.randint(-200, 200))
        for i in range(n)
    ]
    rate, chans = decode_wav_ex(encode_wav_ima_adpcm(8000, samples, 256))
    dec = [int(v) for v in chans[0]]
    assert (rate, len(dec)) == (8000, n)
    num = sum((a - b) ** 2 for a, b in zip(samples, dec))
    den = sum(a * a for a in samples)
    assert 10 * math.log10(den / num) >= 20.0


def test_ms_adpcm_encode_decode_snr():
    import math
    import random

    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ms_adpcm,
    )

    rng = random.Random(5)
    n = 700
    samples = [
        int(8000 * math.sin(i / 12.0) + rng.randint(-200, 200))
        for i in range(n)
    ]
    rate, chans = decode_wav_ex(encode_wav_ms_adpcm(8000, samples, 256))
    dec = [int(v) for v in chans[0]]
    assert (rate, len(dec)) == (8000, n)
    num = sum((a - b) ** 2 for a, b in zip(samples, dec))
    den = sum(a * a for a in samples)
    assert 10 * math.log10(den / num) >= 20.0


def test_ima_adpcm_stream_decode_matches_recurrence():
    """The oracle construction: a WAV built from an explicit nibble
    stream must decode to EXACTLY the table recurrence's samples."""
    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ima_adpcm_stream,
        ima_adpcm_step,
    )

    nib = [3, 7, 12, 9, 0, 15, 8, 1, 14, 2, 5, 11] * 2
    rate, chans = decode_wav_ex(
        encode_wav_ima_adpcm_stream(8000, -123, 42, nib)
    )
    p, x = -123, 42
    want = [-123]
    for c in nib:
        p, x = ima_adpcm_step(p, x, c)
        want.append(p)
    assert [int(v) for v in chans[0]] == want


def test_ima_adpcm_clamps_and_index_bounds():
    """Saturating arithmetic: max-magnitude codes from the top step must
    clamp at int16 bounds and pin the index at 88 / 0, never wrap."""
    from mongo_analyser_spark.operators.audio import ima_adpcm_step

    p, x = 32000, 88
    for _ in range(4):
        p, x = ima_adpcm_step(p, x, 7)  # +max diff at top step
        assert -32768 <= p <= 32767 and 0 <= x <= 88
    assert p == 32767 and x == 88
    p, x = -32000, 88
    p, x = ima_adpcm_step(p, x, 15)  # -max diff at top step
    assert p == -32768 and x == 88
    # index floor: down-codes at index 0 must pin at 0
    p, x = ima_adpcm_step(0, 0, 0)
    assert x == 0


def test_adpcm_malformed_payloads_raise_valueerror():
    """Untrusted-input quarantine: structural lies must be ValueError
    through the production dispatch, never struct.error/IndexError."""
    import struct

    import pytest

    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ima_adpcm,
        encode_wav_ima_adpcm_stream,
        encode_wav_ms_adpcm,
    )

    base = encode_wav_ima_adpcm(8000, list(range(100)), 256)
    # step index beyond 88 inside the block header
    bad = bytearray(base)
    doff = base.find(b"data") + 8
    bad[doff + 2] = 89
    with pytest.raises(ValueError, match="out of range"):
        decode_wav_ex(bytes(bad))
    # fact declaring more samples than the blocks carry
    lying = bytearray(base)
    foff = base.find(b"fact") + 8
    struct.pack_into("<I", lying, foff, 10_000)
    with pytest.raises(ValueError, match="fact"):
        decode_wav_ex(bytes(lying))
    # MS: predictor index out of the coefficient table
    msbase = encode_wav_ms_adpcm(8000, list(range(100)), 256)
    mbad = bytearray(msbase)
    mdoff = msbase.find(b"data") + 8
    mbad[mdoff] = 9
    with pytest.raises(ValueError, match="predictor index"):
        decode_wav_ex(bytes(mbad))
    # MS: zero initial delta
    mzero = bytearray(msbase)
    struct.pack_into("<h", mzero, mdoff + 1, 0)
    with pytest.raises(ValueError, match="delta"):
        decode_wav_ex(bytes(mzero))
    # stream writer rejects bad inputs
    with pytest.raises(ValueError):
        encode_wav_ima_adpcm_stream(8000, 0, 89, [0, 0])
    with pytest.raises(ValueError):
        encode_wav_ima_adpcm_stream(8000, 0, 0, [0, 16])
    with pytest.raises(ValueError):
        encode_wav_ima_adpcm_stream(8000, 0, 0, [0])


def test_ms_adpcm_coefs_read_from_fmt_extension():
    """The decoder must honor the coefficient table carried in the fmt
    chunk extension, not assume the standard seven: patch coef pair 0
    in the payload and the decode must change accordingly."""
    import struct

    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ms_adpcm,
        ms_adpcm_decode_block,
    )

    samples = [100, 200, 400, 800, 900, 700, 300, -100, -500, -200]
    base = encode_wav_ms_adpcm(8000, samples, 256)
    _r, chans = decode_wav_ex(base)
    # patch c1 of predictor 0 from 256 -> 512 in the fmt extension
    patched = bytearray(base)
    foff = base.find(b"fmt ") + 8
    struct.pack_into("<h", patched, foff + 22, 512)
    _r2, chans2 = decode_wav_ex(bytes(patched))
    doff = base.find(b"data") + 8
    blk = base[doff:]
    assert [int(v) for v in chans2[0]][: len(samples)] == \
        ms_adpcm_decode_block(blk, [(512, 0)] + [(0, 0)] * 6)[: len(samples)]
    assert chans2[0] != chans[0]


def test_ima_adpcm_stereo_word_interleave_roundtrip():
    """Multichannel IMA (round 14): per-channel block headers + 4-byte
    nibble words round-robin across channels. Both channels must
    round-trip independently (SNR >= 20 dB each, exact lengths), in
    both the one-block and multi-block layouts."""
    import math
    import random

    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ima_adpcm_multi,
    )

    rng = random.Random(9)
    n = 500
    left = [
        int(6000 * math.sin(i / 10.0) + rng.randint(-150, 150))
        for i in range(n)
    ]
    right = [
        int(4000 * math.cos(i / 14.0) + rng.randint(-150, 150))
        for i in range(n)
    ]
    for ba in (None, 4 * 2 + 4 * 2 * 8):
        rate, chans = decode_wav_ex(
            encode_wav_ima_adpcm_multi(44100, [left, right], ba)
        )
        assert rate == 44100 and len(chans) == 2
        for orig, dec in ((left, chans[0]), (right, chans[1])):
            dec = [int(v) for v in dec]
            assert len(dec) == n
            num = sum((a - b) ** 2 for a, b in zip(orig, dec))
            den = sum(a * a for a in orig)
            assert 10 * math.log10(den / num) >= 20.0


def test_ima_adpcm_stereo_channels_not_swapped():
    """Constant-vs-ramp channels: de-interleave must keep channel
    identity (a swapped word order would mix them)."""
    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ima_adpcm_multi,
    )

    a = [1000] * 33
    b = list(range(0, 3300, 100))
    _r, chans = decode_wav_ex(encode_wav_ima_adpcm_multi(8000, [a, b]))
    assert int(chans[0][0]) == 1000 and int(chans[1][0]) == 0
    assert max(abs(int(v) - 1000) for v in chans[0]) <= 200
    assert int(chans[1][-1]) > 2000


def test_ima_adpcm_multi_long_payload_spans_blocks():
    """A payload whose one-block default would overflow the 16-bit
    nBlockAlign field gets the largest block that fits and spans
    several; an explicit block_align above 65535 raises ValueError."""
    import pytest

    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ima_adpcm_multi,
    )

    n = 70000
    a = [(i * 37) % 2001 - 1000 for i in range(n)]
    b = [0] * n
    _r, chans = decode_wav_ex(encode_wav_ima_adpcm_multi(8000, [a, b]))
    assert [len(c) for c in chans] == [n, n]
    assert all(int(v) == 0 for v in chans[1])
    with pytest.raises(ValueError, match="16-bit"):
        encode_wav_ima_adpcm_multi(8000, [b, b], 4 * 2 * 8192)


def test_ima_adpcm_stereo_malformed_raises():
    import struct

    import pytest

    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ima_adpcm_multi,
    )

    base = encode_wav_ima_adpcm_multi(8000, [[0] * 17, [0] * 17])
    # second channel's step index out of range
    bad = bytearray(base)
    doff = base.find(b"data") + 8
    bad[doff + 4 + 2] = 91
    with pytest.raises(ValueError, match="out of range"):
        decode_wav_ex(bytes(bad))
    # block align not whole words per channel
    odd = bytearray(base)
    foff = base.find(b"fmt ") + 8
    struct.pack_into("<H", odd, foff + 12, 4 * 2 + 4)  # one word total
    with pytest.raises(ValueError, match="whole 4-byte"):
        decode_wav_ex(bytes(odd))


def test_ms_adpcm_fact_counts_real_samples_only():
    """Round-14 review find: a 1-sample trailing chunk is padded to the
    2-seed block minimum; fact must count the REAL sample, so the round
    trip is length-exact (was one long)."""
    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ms_adpcm,
    )

    spb = (256 - 7) * 2 + 2  # 500
    n = spb + 1
    _r, chans = decode_wav_ex(
        encode_wav_ms_adpcm(8000, list(range(n)), 256)
    )
    assert len(chans[0]) == n


def test_ima_adpcm_stereo_truncated_block_raises():
    """Round-14 review find: a trailing fragment that is not whole
    4-byte words per channel must quarantine as ValueError, not return
    ragged channels."""
    import struct

    import pytest

    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ima_adpcm_multi,
    )

    base = encode_wav_ima_adpcm_multi(8000, [[0] * 17, [0] * 17])
    doff = base.find(b"data")
    (dsize,) = struct.unpack("<I", base[doff + 4 : doff + 8])
    # append a 12-byte fragment (stereo headers + one lone word) and
    # grow the data/RIFF sizes accordingly
    frag = struct.pack("<hBB", 0, 0, 0) * 2 + b"\x11\x22\x33\x44"
    out = bytearray(base[: doff + 8 + dsize] + frag + base[doff + 8 + dsize:])
    struct.pack_into("<I", out, doff + 4, dsize + len(frag))
    struct.pack_into("<I", out, 4, len(out) - 8)
    with pytest.raises(ValueError, match="whole 4-byte"):
        decode_wav_ex(bytes(out))


def test_ms_adpcm_stereo_roundtrip_and_identity():
    """Multichannel MS ADPCM (round 14, the last ADPCM gate): by-kind
    interleaved headers + channel-alternating nibbles round-trip both
    channels independently (SNR >= 20 dB, exact lengths, identity
    preserved), in one-block and multi-block layouts."""
    import math
    import random

    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ms_adpcm_multi,
    )

    rng = random.Random(13)
    n = 600
    left = [
        int(7000 * math.sin(i / 11.0) + rng.randint(-150, 150))
        for i in range(n)
    ]
    right = [
        int(3000 * math.cos(i / 17.0) + rng.randint(-150, 150))
        for i in range(n)
    ]
    for ba in (512, 64):
        rate, chans = decode_wav_ex(
            encode_wav_ms_adpcm_multi(8000, [left, right], ba)
        )
        assert rate == 8000 and len(chans) == 2
        for orig, dec in ((left, chans[0]), (right, chans[1])):
            dec = [int(v) for v in dec]
            assert len(dec) == n
            num = sum((a - b) ** 2 for a, b in zip(orig, dec))
            den = sum(a * a for a in orig)
            assert 10 * math.log10(den / num) >= 20.0
    # channel identity: constant-vs-ramp must not swap
    a = [2000] * 40
    b = list(range(0, 4000, 100))
    _r, ch = decode_wav_ex(encode_wav_ms_adpcm_multi(8000, [a, b], 64))
    assert max(abs(int(v) - 2000) for v in ch[0]) <= 300
    assert int(ch[1][-1]) > 3000


def test_ms_adpcm_stereo_malformed_raises():
    import struct

    import pytest

    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ms_adpcm_multi,
        ms_adpcm_decode_block_multi,
    )

    base = encode_wav_ms_adpcm_multi(8000, [[0] * 20, [0] * 20], 64)
    doff = base.find(b"data") + 8
    # channel-1 predictor index out of range
    bad = bytearray(base)
    bad[doff + 1] = 7
    with pytest.raises(ValueError, match="predictor index"):
        decode_wav_ex(bytes(bad))
    # channel-1 initial delta zero
    zero = bytearray(base)
    struct.pack_into("<h", zero, doff + 2 + 2, 0)
    with pytest.raises(ValueError, match="delta"):
        decode_wav_ex(bytes(zero))
    # block shorter than the stereo header
    with pytest.raises(ValueError, match="header"):
        ms_adpcm_decode_block_multi(b"\x00" * 10, 2)


# ------------------------------------------------- MPEG-1 Layer I (round 15)


def _mp1_fixture(seed_codes):
    alloc = [1 + (seed_codes[sb % len(seed_codes)] % 3) for sb in range(32)]
    sfidx = [3 * (seed_codes[(sb + 7) % len(seed_codes)] % 21)
             for sb in range(32)]
    codes = [
        [seed_codes[(g * 32 + sb) % len(seed_codes)]
         % ((1 << (alloc[sb] + 1)) - 1) for sb in range(32)]
        for g in range(12)
    ]
    return alloc, sfidx, codes


def test_mp1_scalefactor_is_the_spec_table():
    """Table 3-B.1 IS 2·2^(−i/3): spot values from the spec's own list
    (2.0, 1.58740105…, 1.25992105…, 1.0 at i=3, 2^-20 tail), exact
    powers of two at every i ≡ 0 (mod 3), strictly decreasing."""
    import math

    from mongo_analyser_spark.operators.audio import mp1_scalefactor

    assert mp1_scalefactor(0) == 2.0
    assert abs(mp1_scalefactor(1) - 1.5874010519681994) < 1e-15
    assert abs(mp1_scalefactor(2) - 1.2599210498948732) < 1e-15
    assert mp1_scalefactor(3) == 1.0
    assert mp1_scalefactor(60) == 2.0 / (1 << 20)
    for i in range(0, 63, 3):
        assert mp1_scalefactor(i) == 2.0 / (1 << (i // 3))
    vals = [mp1_scalefactor(i) for i in range(63)]
    assert vals == sorted(vals, reverse=True)
    for bad in (-1, 63):
        with pytest.raises(ValueError):
            mp1_scalefactor(bad)


def test_mp1_dequant_bounds_and_midpoints():
    """The Layer I quantizer has 2^nb − 1 steps: legal codes 0..2^nb−2
    dequantize to a SYMMETRIC level set with an exact zero at code
    2^(nb−1)−1 and extremes ±(2^nb−2)/(2^nb−1) — strictly inside
    (−1, 1). The all-ones code (whose formula value would exceed 1.0)
    is forbidden, like allocation 15 and scalefactor 63."""
    from mongo_analyser_spark.operators.audio import mp1_dequant

    for nb in (2, 5, 15):
        lo = mp1_dequant(0, nb, 3)                 # sf(3) == 1.0
        hi = mp1_dequant((1 << nb) - 2, nb, 3)     # top legal code
        want = ((1 << nb) - 2) / ((1 << nb) - 1)
        assert -1.0 < lo < 0 < hi < 1.0
        assert lo == -hi and abs(hi - want) < 1e-15
        assert mp1_dequant((1 << (nb - 1)) - 1, nb, 3) == 0.0
    with pytest.raises(ValueError, match="2\\^nb - 1 steps"):
        mp1_dequant(3, 2, 0)   # the forbidden all-ones code
    with pytest.raises(ValueError):
        mp1_dequant(4, 2, 0)   # code exceeds width
    with pytest.raises(ValueError):
        mp1_dequant(0, 1, 0)   # nb below the legal 2..15
    with pytest.raises(ValueError):
        mp1_dequant(0, 16, 0)


def test_mp1_roundtrip_single_and_multiframe():
    """encode→decode returns exactly mp1_dequant of every written code,
    and a two-frame stream concatenates granules per subband lane."""
    from mongo_analyser_spark.operators.audio import (
        decode_mp1,
        encode_mp1,
        mp1_dequant,
    )

    alloc, sfidx, codes = _mp1_fixture(list(range(5, 90, 7)))
    one = encode_mp1(44100, alloc, sfidx, codes)
    rate, lanes = decode_mp1(one)
    assert rate == 44100 and len(lanes) == 32
    for sb in range(32):
        assert len(lanes[sb]) == 12
        for g in range(12):
            want = mp1_dequant(codes[g][sb], alloc[sb] + 1, sfidx[sb])
            assert lanes[sb][g] == want

    rate2, lanes2 = decode_mp1(one + one)
    assert rate2 == 44100
    for sb in range(32):
        assert lanes2[sb] == lanes[sb] + lanes[sb]

    # a silent subband (alloc 0) contributes exact zeros and no
    # scalefactor field
    alloc0 = list(alloc)
    alloc0[5] = 0
    b0 = encode_mp1(32000, alloc0, sfidx, codes)
    _, l0 = decode_mp1(b0)
    assert l0[5] == [0.0] * 12


def test_mp1_malformed_and_gated_inputs():
    from mongo_analyser_spark.operators.audio import decode_mp1, encode_mp1

    alloc, sfidx, codes = _mp1_fixture([9, 40, 77])
    good = bytearray(encode_mp1(48000, alloc, sfidx, codes))

    with pytest.raises(ValueError, match="sync"):
        decode_mp1(b"\x00" * 16)
    with pytest.raises(ValueError, match="too short"):
        decode_mp1(b"\xff")
    with pytest.raises(ValueError, match="past the payload"):
        decode_mp1(bytes(good[:-10]))

    # layer II / III and stereo modes raise BY NAME (permanent gates)
    lay2 = bytearray(good)
    lay2[1] = (lay2[1] & ~0b110) | 0b100  # layer code 2 = Layer II
    with pytest.raises(NotImplementedError, match="layer II"):
        decode_mp1(bytes(lay2))
    lay3 = bytearray(good)
    lay3[1] = (lay3[1] & ~0b110) | 0b010
    with pytest.raises(NotImplementedError, match="layer III"):
        decode_mp1(bytes(lay3))
    stereo = bytearray(good)
    stereo[3] &= ~0xC0  # mode 0 = stereo
    with pytest.raises(NotImplementedError, match="stereo"):
        decode_mp1(bytes(stereo))

    # encoder guards
    with pytest.raises(ValueError, match="0..14"):
        encode_mp1(32000, [15] + [1] * 31, sfidx, codes)
    with pytest.raises(ValueError, match="rates"):
        encode_mp1(8000, alloc, sfidx, codes)
    big = [[(1 << 15) - 1] * 32 for _ in range(12)]
    with pytest.raises(ValueError, match="exceeds"):
        encode_mp1(32000, [14] * 32, [0] * 32, big)


def test_mp1_crc_frame_is_skipped():
    """protection_bit 0 ⇒ a 16-bit CRC sits between header and audio
    data; the decoder must skip it and read the same lanes (assembled
    by hand — the encoder always writes protection-off frames)."""
    from mongo_analyser_spark.operators.audio import decode_mp1, encode_mp1

    alloc, sfidx, codes = _mp1_fixture([3, 11, 29, 64])
    b = encode_mp1(48000, alloc, sfidx, codes)
    _, want = decode_mp1(b)
    hdr = bytearray(b[:4])
    hdr[1] &= ~1  # protection_bit 0 = CRC present
    crc_frame = bytes(hdr) + b"\xde\xad" + b[4:-2]  # same frame_len
    assert len(crc_frame) == len(b)
    rate, got = decode_mp1(crc_frame)
    assert rate == 48000 and got == want


def test_ima_adpcm_wsamples_per_block_trims_without_fact():
    """ADVICE r14: a foreign multichannel file may pad EVERY block's
    nibble area and omit 'fact' — wSamplesPerBlock from the fmt
    extension must cap per-block decoded samples (it also keeps n_ch>=3
    odd-nibble padding from returning ragged channels)."""
    import struct

    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ima_adpcm_multi,
    )

    chans = [[100 * c + i * 7 for i in range(9)] for c in range(2)]
    base = encode_wav_ima_adpcm_multi(8000, chans)
    rate, want = decode_wav_ex(base)

    # strip the fact chunk: header spb must do the trimming alone
    def drop_fact(b: bytes) -> bytes:
        pos, out = 12, bytearray(b[:12])
        while pos + 8 <= len(b):
            cid = b[pos:pos + 4]
            (size,) = struct.unpack("<I", b[pos + 4:pos + 8])
            chunk = b[pos:pos + 8 + size + (size & 1)]
            if cid != b"fact":
                out += chunk
            pos += 8 + size + (size & 1)
        out[4:8] = struct.pack("<I", len(out) - 8)
        return bytes(out)

    nofact = drop_fact(base)
    rate2, got = decode_wav_ex(nofact)
    assert rate2 == rate
    # the full-block capacity equals the written spb here, so only the
    # final padded block differs from the fact-trimmed truth — every
    # channel must still be equal-length and a prefix-match of the
    # capacity decode
    assert len({len(ch) for ch in got}) == 1
    for c in range(2):
        assert got[c][: len(want[c])] == want[c]

    # a header spb SMALLER than capacity trims every block
    small = bytearray(nofact)
    fmt_off = small.find(b"fmt ") + 8
    (spb_now,) = struct.unpack_from("<H", small, fmt_off + 18)
    struct.pack_into("<H", small, fmt_off + 18, spb_now - 2)
    _, trimmed = decode_wav_ex(bytes(small))
    n_blocks = 1  # single-block payloads here
    assert all(len(ch) == (spb_now - 2) * n_blocks for ch in trimmed)
    for c in range(2):
        assert trimmed[c] == got[c][: spb_now - 2]

    # spb beyond the block's nibble capacity is malformed
    over = bytearray(nofact)
    struct.pack_into("<H", over, fmt_off + 18, spb_now + 1)
    with pytest.raises(ValueError, match="wSamplesPerBlock"):
        decode_wav_ex(bytes(over))


def test_ms_adpcm_wsamples_per_block_trims_without_fact():
    import struct

    from mongo_analyser_spark.operators.audio import (
        decode_wav_ex,
        encode_wav_ms_adpcm_multi,
    )

    chans = [[37 * c + i * 11 for i in range(10)] for c in range(2)]
    base = encode_wav_ms_adpcm_multi(8000, chans)
    rate, want = decode_wav_ex(base)
    fmt_off = base.find(b"fmt ") + 8
    (spb_now,) = struct.unpack_from("<H", base, fmt_off + 18)

    # cap BELOW the fact count (fact=10 here, the block itself is padded
    # to spb 500): the cap wins and fact becomes unsatisfiable, which
    # the decoder reports rather than returning short data silently
    smaller = bytearray(base)
    struct.pack_into("<H", smaller, fmt_off + 18, 6)
    with pytest.raises(ValueError, match="fact chunk declares more"):
        decode_wav_ex(bytes(smaller))

    # cap between fact and capacity: trims padding, fact still the truth
    mid = bytearray(base)
    struct.pack_into("<H", mid, fmt_off + 18, 12)
    _, got = decode_wav_ex(bytes(mid))
    assert got == want

    over = bytearray(base)
    struct.pack_into("<H", over, fmt_off + 18, spb_now + 1)
    with pytest.raises(ValueError, match="wSamplesPerBlock"):
        decode_wav_ex(bytes(over))


# --- ID3 tags (round 15) -----------------------------------------------------


def test_id3v2_both_majors_roundtrip():
    from mongo_analyser_spark.operators.audio import encode_id3v2, parse_id3

    f = {"title": "Söng", "artist": "Ärtist", "album": "Al",
         "year": "2026", "track": "7"}
    for major in (3, 4):
        out = parse_id3(encode_id3v2(f, major=major, audio=b"\xff\xfbx"))
        assert out == {"version": f"2.{major}", **f}, major


def test_id3v1_trailer_and_absence():
    from mongo_analyser_spark.operators.audio import encode_id3v1, parse_id3

    p = encode_id3v1(
        {"title": "T", "artist": "A", "album": "B", "year": "2026",
         "track": 7},
        audio=b"x" * 200,
    )
    assert parse_id3(p) == {
        "version": "1", "title": "T", "artist": "A", "album": "B",
        "year": "2026", "track": "7",
    }
    assert parse_id3(b"\xff\xfbjunk" * 40) is None


def test_id3_armor_and_gates():
    import random

    import pytest as _pytest

    from mongo_analyser_spark.operators.audio import encode_id3v2, parse_id3

    base = encode_id3v2({"title": "T"}, major=4)
    # unsupported major raises by name
    v22 = bytearray(base)
    v22[3] = 2
    with _pytest.raises(NotImplementedError, match="ID3v2.2"):
        parse_id3(bytes(v22))
    # a tag size overrunning the payload is malformed
    trunc = base[: len(base) // 2]
    with _pytest.raises(ValueError):
        parse_id3(trunc)
    # byte-flip fuzz: ValueError/NotImplementedError only
    rng = random.Random(3)
    for _ in range(300):
        buf = bytearray(base)
        buf[rng.randrange(len(buf))] = rng.randrange(256)
        try:
            parse_id3(bytes(buf))
        except (ValueError, NotImplementedError):
            pass


# --- AIFF (round 15) ---------------------------------------------------------


def test_aiff_roundtrip_and_f80():
    import random

    from mongo_analyser_spark.operators.audio import (
        _f80_decode,
        _f80_encode,
        decode_aiff,
        encode_aiff,
    )

    for r in (1, 8000, 11025, 22050, 44100, 48000, 96000, 192000):
        assert _f80_decode(_f80_encode(float(r))) == float(r), r
    rng = random.Random(2)
    for n_ch in (1, 2, 4):
        chans = [
            [rng.randrange(-32768, 32768) for _ in range(50)]
            for _ in range(n_ch)
        ]
        rate, out = decode_aiff(encode_aiff(44100, chans))
        assert rate == 44100 and len(out) == n_ch
        for c in range(n_ch):
            for i in range(50):
                assert out[c][i] == chans[c][i] / 32768.0
    # 8-bit PCM
    ch8 = [[rng.randrange(-128, 128) for _ in range(30)]]
    rate, out = decode_aiff(encode_aiff(8000, ch8, bits=8))
    assert rate == 8000
    assert all(out[0][i] == ch8[0][i] / 128.0 for i in range(30))


def test_aiff_gates_and_armor():
    import pytest as _pytest

    from mongo_analyser_spark.operators.audio import decode_aiff, encode_aiff

    with _pytest.raises(NotImplementedError, match="AIFC"):
        decode_aiff(b"FORM\x00\x00\x00\x04AIFC")
    good = encode_aiff(44100, [[1] * 10])
    for bad in (b"nope", b"FORMxxxxAIFF", good[:-6]):
        with _pytest.raises(ValueError):
            decode_aiff(bad)
    # byte-flip fuzz
    import random

    rng = random.Random(4)
    for _ in range(200):
        buf = bytearray(good)
        buf[rng.randrange(len(buf))] = rng.randrange(256)
        try:
            decode_aiff(bytes(buf))
        except (ValueError, NotImplementedError):
            pass


# --- Sun AU / .snd (round 15) -------------------------------------------------


def test_au_roundtrips_all_encodings():
    import random

    from mongo_analyser_spark.operators.audio import (
        decode_au,
        encode_au,
        mulaw_compress,
        mulaw_expand,
    )

    rng = random.Random(6)
    ch = [[rng.randrange(-32768, 32768) for _ in range(40)]
          for _ in range(2)]
    rate, out = decode_au(encode_au(8000, ch))
    assert rate == 8000
    for c in range(2):
        assert all(out[c][i] == ch[c][i] / 32768.0 for i in range(40))
    # 8-bit linear is SIGNED in AU (unlike WAV)
    ch8 = [[rng.randrange(-128, 128) for _ in range(30)]]
    rate, out = decode_au(encode_au(11025, ch8, encoding=2))
    assert rate == 11025
    assert all(out[0][i] == ch8[0][i] / 128.0 for i in range(30))
    # mu-law rides the shared compander; annotation shifts the offset
    lin = [rng.randrange(-30000, 30000) for _ in range(50)]
    _, out = decode_au(
        encode_au(8000, [lin], encoding=1, annotation=b"note")
    )
    assert all(
        out[0][i] == mulaw_expand(mulaw_compress(lin[i])) / 32768.0
        for i in range(50)
    )


def test_au_gates_and_armor():
    import random
    import struct as _struct

    import pytest as _pytest

    from mongo_analyser_spark.operators.audio import decode_au, encode_au

    # encoding 7 (A-law-in-AU) gated by name
    hdr = b".snd" + _struct.pack(">IIIII", 24, 0xFFFFFFFF, 7, 8000, 1)
    with _pytest.raises(NotImplementedError, match="AU encoding 7"):
        decode_au(hdr)
    good = encode_au(8000, [[1000] * 20])
    for bad in (b"nope", good[:10],
                b".snd" + _struct.pack(">IIIII", 5, 0, 3, 8000, 1)):
        with _pytest.raises(ValueError):
            decode_au(bad)
    rng = random.Random(8)
    for _ in range(200):
        buf = bytearray(good)
        buf[rng.randrange(len(buf))] = rng.randrange(256)
        try:
            decode_au(bytes(buf))
        except (ValueError, NotImplementedError):
            pass


def test_audio_feature_dispatch_covers_all_containers():
    """The CLI audio entry point routes by magic: WAV, FLAC, AIFF and
    Sun AU all land on the same per-channel feature law."""
    from mongo_analyser_spark.operators.audio import (
        audio_multichannel_features,
        encode_aiff,
        encode_au,
        encode_wav,
    )
    from mongo_analyser_spark.operators.flac import encode_flac

    f = audio_multichannel_features(
        encode_aiff(8000, [[256 * 10] * 20, [256 * -5] * 20])
    )
    assert [x["channel"] for x in f] == [0, 1]
    assert f[0]["mean"] == 0.0781 and f[1]["mean"] == -0.0391
    f = audio_multichannel_features(encode_au(8000, [[1000] * 15]))
    assert f[0]["n_samples"] == 15
    f = audio_multichannel_features(encode_wav(8000, [100] * 10))
    assert f[0]["n_samples"] == 10
    f = audio_multichannel_features(
        encode_flac(8000, [[50] * 32, [-50] * 32])
    )
    assert len(f) == 2 and f[0]["n_samples"] == 32


def test_wav_writers_byte_pin():
    """Every WAV writer's bytes on fixed inputs, pinned by sha256: the
    shared RIFF/WAVE framing (fmt, optional fact, unpadded data) must
    not move a byte. The odd-sized data chunks (59, 73 and 77-byte
    files) pin that WAV writes no pad byte."""
    import hashlib

    from mongo_analyser_spark.operators import audio as A

    def ramp(n, k=1):
        return [((i * 7919 * k) % 4001) * 16 - 32000 for i in range(n)]

    pins = {
        "b3b7043fcbd94f38621a42b3f6e71d2d93f17e7dd10a5cc00410a28c99a7a6cf":
            A.encode_wav(8000, ramp(33)),
        "5482193fbf555f797fb7d6532435d78ce80717412fe63e6eee3f6f32634e46cd":
            A.encode_wav_ex(
                8000, [[0.5, -0.25, 0.125], [1.0, 0.0, -1.0]]
            ),
        "cfd7fad33ff2242db4b925a980f29d1b3813502101bfbd9fe363e0ccae942a46":
            A.encode_wav_ex(8000, [ramp(5)], fmt=1, bits24=True),
        "68f51cf631c4b806b3238afdf8cab4bedde57973f31339a8ffc459a5550c9c0f":
            A.encode_wav_g711(8000, [ramp(33)], law="alaw"),
        "69761abe7d171cfbbc901b61be47ce82143b2810df822bbc76ca162b292ea9da":
            A.encode_wav_ima_adpcm(8000, ramp(101), block_align=32),
        "5b5316f7d3629556454b12155fbc80732edec6dda641fbfb44a68df8c2e82aa9":
            A.encode_wav_ms_adpcm(8000, ramp(101), block_align=32),
        "88a6f1e28a5ab14a4829b62ca27191ad1bfdb383074a82e6f804c4f6c6f1fa03":
            A.encode_wav_ima_adpcm_stream(
                8000, 100, 7, [i % 16 for i in range(18)]
            ),
        "32d6c05568b4a53b26f03991eb7b9c183f721c31c4879c9831c89b87cf4dc394":
            A.encode_wav_ima_adpcm_multi(8000, [ramp(41), ramp(41, 3)]),
        "13f11ec808731a676b2709946449cb329d09ca676738c9730a9a452070b6ee45":
            A.encode_wav_ms_adpcm_multi(
                8000, [ramp(41), ramp(41, 3)], block_align=64
            ),
    }
    for want, payload in pins.items():
        assert hashlib.sha256(payload).hexdigest() == want
    assert sorted(len(p) % 2 for p in pins.values()).count(1) == 3

    # the mono ADPCM writers are the one-channel case of the _multi
    # writers (default block aligns 256 and 512 here), a 3-channel IMA
    # block, an MS ADPCM stream whose last block holds one sample
    # (52 samples per block at block_align 32), and the PNG/APNG
    # writers' shared filter-0 scanlines
    from mongo_analyser_spark.operators import frames as F
    from mongo_analyser_spark.operators import pixels as P

    more = {
        "6fabfc20ef28e68bac49be7674b6a6ef356972414cdb9750f11265b57e291f18":
            A.encode_wav_ima_adpcm_multi(8000, [ramp(300)]),
        "012ecd9e761687c9a63c787b46017faa5521c89fa9fe9113b6ba87d113549609":
            A.encode_wav_ms_adpcm_multi(8000, [ramp(300)]),
        "d9413c7c994ce1cfa796c139146d0081dd99dbdbf344d2acd61040e506588e5d":
            A.encode_wav_ima_adpcm_multi(
                8000, [ramp(41), ramp(41, 3), ramp(41, 5)]
            ),
        "efef77d687c1d706fe0cf64cd7b46f2a5e11a73c4bde73d5cd98f87eee602474":
            A.encode_wav_ms_adpcm(8000, ramp(105), block_align=32),
        "076fbc9c8b8becd621cbc707a504bb68be2a3012c386ff95a1358893cdf5733c":
            P.encode_png(5, 3, 3, bytes(range(0, 225, 5))),
        "2cbdf8c3c516fac783a7f411c4ce8d2036d8ad6f6df64319cf7fa7dd790c24f2":
            F.encode_apng(
                5, 3, 4,
                [(0, 0, 5, 3, bytes(range(0, 240, 4))),
                 (1, 1, 3, 2, bytes(range(100, 124)))],
                dispose=1, blend=[0, 1],
            ),
    }
    for want, payload in more.items():
        assert hashlib.sha256(payload).hexdigest() == want
