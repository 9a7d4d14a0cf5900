"""Pure-stdlib media codec laws (operators/multimodal.py).

These run without Spark: encode→decode round-trips for the real
uncompressed codecs (24-bpp BMP, binary PPM, RIFF/WAV), including the
row-padding edge cases that make BMP parsing non-trivial.
"""

from __future__ import annotations

import ast
import pathlib
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import duckdb_data_eng_proj_spark
from duckdb_data_eng_proj_spark.operators.multimodal import (
    bmp_stride,
    decode_audio,
    decode_image,
    dhash_bmp,
    encode_bmp,
    encode_bmp_pattern,
    encode_wav,
    encode_wav_wave,
    resample_wav_linear,
    resize_bmp_nearest,
)


@given(
    width=st.integers(1, 64),
    height=st.integers(1, 32),
    fill=st.integers(0, 255),
)
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip(width, height, fill):
    payload = encode_bmp(width, height, fill)
    assert len(payload) == 54 + bmp_stride(width) * height
    f = decode_image(payload)
    assert (f["format"], f["width"], f["height"]) == ("bmp", width, height)
    # mean over pixel bytes only — zero padding must be excluded
    assert f["mean_pixel"] == float(fill)


def test_bmp_padding_is_excluded():
    # width 1 → 3 pixel bytes + 1 padding byte per row; a naive
    # whole-row mean would be 255*3/4, not 255
    f = decode_image(encode_bmp(1, 4, 255))
    assert f["mean_pixel"] == 255.0


@given(width=st.integers(1, 40), height=st.integers(1, 24), seed=st.integers(0, 300))
@settings(max_examples=60, deadline=None)
def test_bmp_pattern_roundtrip(width, height, seed):
    payload = encode_bmp_pattern(width, height, seed)
    f = decode_image(payload)
    assert (f["format"], f["width"], f["height"]) == ("bmp", width, height)
    total = sum(
        (seed * 31 + x * 97 + y * 13) % 251 for x in range(width) for y in range(height)
    )
    assert f["mean_pixel"] == total / (width * height)
    # same-size nearest-neighbor resize is the identity on the bytes
    assert resize_bmp_nearest(payload, width, height) == payload


def _with_header_field(payload: bytes, fmt: str, offset: int, value: int) -> bytes:
    return payload[:offset] + struct.pack(fmt, value) + payload[offset + struct.calcsize(fmt) :]


@pytest.mark.parametrize(
    "read",
    [decode_image, dhash_bmp, lambda p: resize_bmp_nearest(p, 4, 4)],
    ids=["decode_image", "dhash_bmp", "resize_bmp_nearest"],
)
def test_bmp_readers_reject_unsupported_layouts(read):
    """Every BMP reader goes through one header check: anything but a
    whole uncompressed 24-bpp raster raises ValueError."""
    good = encode_bmp_pattern(9, 9, 3)
    for bad in (
        _with_header_field(good, "<H", 28, 32),  # 32 bpp
        _with_header_field(good, "<I", 30, 1),  # BI_RLE8 compression
        good[:-1],  # truncated raster
        good[:20],  # truncated header
    ):
        with pytest.raises(ValueError):
            read(bad)


def test_ppm_roundtrip():
    raster = bytes(range(12))  # 2×2 RGB
    payload = b"P6\n2 2\n255\n" + raster
    f = decode_image(payload)
    assert (f["format"], f["width"], f["height"]) == ("ppm", 2, 2)
    assert f["mean_pixel"] == sum(raster) / 12


def test_unsupported_image_rejected():
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n....")


@given(
    n_samples=st.integers(0, 1000),
    amplitude=st.integers(-32768, 32767),
    rate=st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip(n_samples, amplitude, rate):
    payload = encode_wav(n_samples, amplitude, rate)
    assert len(payload) == 44 + 2 * n_samples  # canonical header
    f = decode_audio(payload)
    assert f["n_channels"] == 1
    assert f["sample_rate"] == rate
    assert f["n_samples"] == n_samples
    assert f["duration_ms"] == n_samples * 1000 // rate
    if n_samples:
        assert f["peak_amp"] == amplitude


@given(
    width=st.integers(1, 16).map(lambda v: 2 * v),
    height=st.integers(1, 12).map(lambda v: 2 * v),
    n_frames=st.integers(0, 40),
    seed=st.integers(0, 255),
)
@settings(max_examples=60, deadline=None)
def test_y4m_roundtrip(width, height, n_frames, seed):
    from duckdb_data_eng_proj_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    payload = encode_y4m(width, height, n_frames, seed)
    header = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420\n" % (width, height)
    assert payload.startswith(header)
    assert len(payload) == len(header) + n_frames * (
        6 + width * height * 3 // 2
    )
    f = decode_y4m(payload)  # every_n=1 → scan ALL frames
    assert (f["width"], f["height"], f["n_frames"]) == (width, height, n_frames)
    assert f["frame_means"] == {
        k: float((seed + 11 * k) % 256) for k in range(n_frames)
    }


@given(n_frames=st.integers(1, 90), every_n=st.integers(1, 30))
@settings(max_examples=40, deadline=None)
def test_y4m_sampling_is_offset_exact(n_frames, every_n):
    """Sampling at every_n must return exactly the frames a full decode
    returns at those indices — the random-access-by-offset law that
    makes uncompressed frame sampling cheap."""
    from duckdb_data_eng_proj_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    payload = encode_y4m(4, 2, n_frames, 123)
    full = decode_y4m(payload)["frame_means"]
    sampled = decode_y4m(payload, every_n=every_n)["frame_means"]
    assert sampled == {k: full[k] for k in range(0, n_frames, every_n)}


def test_y4m_rejects_corruption():
    from duckdb_data_eng_proj_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    good = encode_y4m(4, 4, 3, 10)
    with pytest.raises(ValueError):  # not a Y4M stream
        decode_y4m(b"RIFF" + good[4:])
    with pytest.raises(ValueError):  # truncated mid-frame
        decode_y4m(good[:-5])
    # clobber the second frame's marker
    off = good.index(b"\n") + 1 + (6 + 4 * 4 * 3 // 2)
    with pytest.raises(ValueError):
        decode_y4m(good[:off] + b"XRAME\n" + good[off + 6 :])
    with pytest.raises(ValueError):  # 4:2:2 chroma unsupported
        decode_y4m(b"YUV4MPEG2 W4 H4 F25:1 C422\n")
    with pytest.raises(ValueError):  # odd dims can't be 4:2:0 encoded
        encode_y4m(3, 4, 1, 0)


@given(n_samples=st.integers(1, 200), seed=st.integers(0, 65535))
@settings(max_examples=60, deadline=None)
def test_wav_wave_dsp_roundtrip(n_samples, seed):
    """encode_wav_wave → decode_wav_dsp must reproduce the features an
    independent pure-formula replay predicts — sample-exact, through
    the real RIFF container."""
    from duckdb_data_eng_proj_spark.operators.multimodal import (
        decode_wav_dsp,
        encode_wav_wave,
    )

    payload = encode_wav_wave(n_samples, seed)
    assert len(payload) == 44 + 2 * n_samples
    s = [((seed + 97 * k) % 65536) - 32768 for k in range(n_samples)]
    f = decode_wav_dsp(payload)
    assert f["sample_rate"] == 8000
    assert f["n_samples"] == n_samples
    assert f["sum_abs"] == sum(abs(v) for v in s)
    assert f["n_zero_cross"] == sum(
        1 for a, b in zip(s, s[1:]) if a * b < 0
    )
    assert f["rs_n"] == (n_samples + 1) // 2
    assert f["rs_sum_abs"] == sum(abs(v) for v in s[::2])


@given(
    n_samples=st.integers(1, 120),
    seed=st.integers(0, 65535),
    decimate=st.integers(1, 5),
)
@settings(max_examples=40, deadline=None)
def test_wav_dsp_decimation_law(n_samples, seed, decimate):
    """decimate:1 resample features must equal the features of the
    signal re-encoded from every decimate-th sample — the resample is
    a true subsequence, not an approximation."""
    from duckdb_data_eng_proj_spark.operators.multimodal import (
        decode_wav_dsp,
        encode_wav_wave,
    )

    payload = encode_wav_wave(n_samples, seed)
    f = decode_wav_dsp(payload, decimate=decimate)
    s = [((seed + 97 * k) % 65536) - 32768 for k in range(n_samples)]
    kept = s[::decimate]
    assert f["rs_n"] == len(kept)
    assert f["rs_sum_abs"] == sum(abs(v) for v in kept)


def test_wav_dsp_rejects_unsupported_layouts():
    import io
    import struct
    import wave

    from duckdb_data_eng_proj_spark.operators.multimodal import decode_wav_dsp

    def make(channels, sampwidth):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(sampwidth)
            w.setframerate(8000)
            w.writeframes(b"\x00" * (channels * sampwidth * 4))
        return buf.getvalue()

    with pytest.raises(ValueError):
        decode_wav_dsp(make(2, 2))  # stereo
    with pytest.raises(ValueError):
        decode_wav_dsp(make(1, 1))  # 8-bit


def test_y4m_rejects_bad_header_params():
    from duckdb_data_eng_proj_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    with pytest.raises(ValueError):  # negative dims must not "decode"
        decode_y4m(b"YUV4MPEG2 W-2 H-2 C420\n")
    with pytest.raises(ValueError):  # zero dims likewise
        decode_y4m(b"YUV4MPEG2 W0 H4 C420\n")
    with pytest.raises(ValueError):  # every_n=0 fails fast, not deep
        decode_y4m(encode_y4m(4, 4, 2, 0), every_n=0)


def test_wav_dsp_rejects_truncated_payload():
    from duckdb_data_eng_proj_spark.operators.multimodal import (
        decode_wav_dsp,
        encode_wav_wave,
    )

    good = encode_wav_wave(100, 7)
    with pytest.raises(ValueError):  # data chunk shorter than header n
        decode_wav_dsp(good[:-10])


@given(n_samples=st.integers(2, 300), seed=st.integers(0, 65535))
@settings(max_examples=40, deadline=None)
def test_resample_at_source_rate_is_identity(n_samples, seed):
    f = resample_wav_linear(encode_wav_wave(n_samples, seed), 8000)
    assert (f["src_rate"], f["dst_rate"]) == (8000, 8000)
    assert f["n_out"] == f["n_in"] == n_samples
    assert f["sum_u_out"] == sum((seed + 97 * k) % 65536 for k in range(n_samples))
    assert f["rs_bytes"] == 44 + 2 * n_samples


def test_map_in_pandas_only_in_the_two_stage_primitives():
    """The Arrow batch-to-frame contract lives in
    ``operators/multimodal.synthesize`` and ``decode``; any other
    ``mapInPandas`` call is a second copy of it."""
    root = pathlib.Path(duckdb_data_eng_proj_spark.__file__).parent
    sites = set()
    for path in sorted(root.rglob("*.py")):
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInPandas"
                ):
                    sites.add((path.relative_to(root).as_posix(), getattr(top, "name", None)))
    assert sites == {
        ("operators/multimodal.py", "synthesize"),
        ("operators/multimodal.py", "decode"),
    }
