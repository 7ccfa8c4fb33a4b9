"""Property-based codec invariants (round-6): hypothesis drives random
image shapes/contents through the pure-stdlib codecs. No Spark in the
loop, so examples are cheap — these run many more cases than the
fixed fixtures and hunt the corner geometry (1-pixel edges, extreme
aspect ratios) humans don't write by hand.

Invariants:
- PNG / GIF / BMP are lossless: decode(encode(x)) == x exactly.
- JPEG progressive is a lossless re-packaging of baseline's quantized
  coefficients: decode(progressive(x)) == decode(baseline(x)) exactly.
- resize_nearest(x, w, h) has the requested geometry and only pixels
  drawn from x.
"""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from insight_gp_import_spark.bmp_codec import decode_bmp, encode_bmp
from insight_gp_import_spark.gif_codec import decode_gif, encode_gif
from insight_gp_import_spark.jpeg_codec import (
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)
from insight_gp_import_spark.png_codec import (
    decode_png,
    encode_png,
    resize_nearest,
)
from insight_gp_import_spark.tiff_codec import (
    decode_tiff,
    encode_tiff,
    lzw_decode,
    lzw_encode,
)
from insight_gp_import_spark.flac_codec import decode_flac, encode_flac
from insight_gp_import_spark.vp8l_codec import decode_webp, encode_webp

SETTINGS = settings(max_examples=25, deadline=None)

dims = st.tuples(st.integers(1, 40), st.integers(1, 40))
seeds = st.integers(0, 2**31 - 1)
channels = st.sampled_from([1, 2, 3, 4])


def _img(seed, h, w, c):
    return (
        np.random.RandomState(seed)
        .randint(0, 256, (h, w, c), dtype=np.int64)
        .astype(np.uint8)
    )


@given(dims=dims, seed=seeds, c=channels)
@SETTINGS
def test_png_roundtrip_lossless(dims, seed, c):
    h, w = dims
    img = _img(seed, h, w, c)
    assert np.array_equal(decode_png(encode_png(img)), img)


@given(dims=dims, seed=seeds, colors=st.integers(2, 256))
@SETTINGS
def test_gif_roundtrip_lossless(dims, seed, colors):
    h, w = dims
    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, (colors, 3)).astype(np.uint8)
    img = pal[rng.randint(0, colors, (h, w))]
    assert np.array_equal(decode_gif(encode_gif(img)), img)


@given(dims=dims, seed=seeds)
@SETTINGS
def test_bmp_roundtrip_lossless(dims, seed):
    h, w = dims
    img = _img(seed, h, w, 3)
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)


@given(dims=dims, seed=seeds,
       quality=st.integers(30, 95), sub=st.booleans())
@SETTINGS
def test_jpeg_progressive_equals_baseline(dims, seed, quality, sub):
    """The strongest JPEG invariant, across random geometry/quality:
    progressive decode must match baseline decode bit-for-bit. (sub
    only affects the baseline encoder — progressive is 4:4:4 — so
    compare progressive against the 4:4:4 baseline.)"""
    h, w = dims
    img = _img(seed, h, w, 3)
    base = decode_jpeg(encode_jpeg(img, quality))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality))
    assert np.array_equal(base, prog)


@given(dims=dims, seed=seeds, out=dims)
@SETTINGS
def test_resize_nearest_geometry_and_provenance(dims, seed, out):
    h, w = dims
    ow, oh = out
    img = _img(seed, h, w, 3)
    res = resize_nearest(img, ow, oh)
    assert res.shape == (oh, ow, 3)
    # every output pixel exists somewhere in the source
    src = {tuple(p) for p in img.reshape(-1, 3)}
    assert all(tuple(p) in src for p in res.reshape(-1, 3))


@given(dims=dims, seed=seeds,
       comp=st.sampled_from([1, 5, 8, 32773]),
       pred=st.sampled_from([1, 2]),
       rps=st.one_of(st.none(), st.integers(1, 8)))
@SETTINGS
def test_tiff_roundtrip_lossless(dims, seed, comp, pred, rps):
    """TIFF is lossless under every (compression, predictor, strip)
    combination the codec claims: none/LZW/Deflate/PackBits x identity/
    horizontal-differencing x single- or multi-strip."""
    h, w = dims
    img = _img(seed, h, w, 3)
    data = encode_tiff(img, compression=comp, rows_per_strip=rps,
                       predictor=pred)
    assert np.array_equal(decode_tiff(data), img)


@given(seed=seeds, n=st.integers(0, 30000),
       alphabet=st.integers(2, 256))
@example(seed=9802, n=9802, alphabet=40)  # last code bumps the width before EOI
@SETTINGS
def test_tiff_lzw_stream_roundtrip(seed, n, alphabet):
    """Raw LZW stream invariant across code-width transitions (511/
    1023/2047 next-free slots) and the 4094 table-full Clear: small
    alphabets compress deep (many long table entries), large alphabets
    stay literal-heavy; both must survive n large enough to cross
    every width boundary several times."""
    buf = bytes(
        np.random.RandomState(seed).randint(0, alphabet, n, dtype=np.int64)
        % 256
    )
    assert lzw_decode(lzw_encode(buf)) == buf


@given(dims=dims, seed=seeds,
       sg=st.booleans(),
       pred=st.one_of(st.none(), st.integers(0, 13)),
       cache=st.sampled_from([0, 3, 8]),
       lz=st.booleans())
@SETTINGS
def test_webp_lossless_roundtrip(dims, seed, sg, pred, cache, lz):
    """VP8L is lossless under every encoder-knob combination: subtract
    green x 14 predictor modes x color cache x LZ77."""
    h, w = dims
    img = _img(seed, h, w, 3)
    data = encode_webp(img, subtract_green=sg, predictor_mode=pred,
                       cache_bits=cache, use_lz77=lz)
    assert np.array_equal(decode_webp(data), img)


@given(seed=seeds, n=st.integers(1, 2500),
       ch=st.integers(1, 2),
       bps=st.sampled_from([8, 16, 24]),
       bsz=st.sampled_from([192, 576, 4096]),
       ls=st.booleans(), fv=st.booleans())
@SETTINGS
def test_flac_roundtrip_lossless(seed, n, ch, bps, bsz, ls, fv):
    """FLAC is lossless across bit depths, block sizes, stereo
    decorrelation, and the verbatim/predicted paths — incl. the
    STREAMINFO MD5 self-check the decoder runs."""
    lim = 1 << (bps - 1)
    s = np.random.RandomState(seed).randint(-lim, lim, (n, ch)).astype(np.int64)
    data = encode_flac(s, 16000, bps=bps, blocksize=bsz,
                       left_side=(ls and ch == 2), force_verbatim=fv)
    out, rate = decode_flac(data)
    assert rate == 16000
    assert np.array_equal(out, s)


@given(dims=dims, seed=seeds, q=st.integers(30, 95))
@SETTINGS
def test_jpeg_420_same_shape_and_bounded_error(dims, seed, q):
    """4:2:0 subsampled roundtrip: exact geometry and pixel values
    within the quantization-error envelope of the source (JPEG is
    lossy but bounded; a desync produces garbage far beyond this)."""
    h, w = dims
    img = _img(seed, h, w, 3)
    out = decode_jpeg(encode_jpeg(img, q, subsample=True))
    assert out.shape == img.shape
    # random noise at q>=30 stays within gross bounds; desyncs don't
    err = np.abs(out.astype(int) - img.astype(int)).mean()
    assert err < 80, err
