"""Hypothesis property tests for the from-scratch kernels (SURVEY §5.2 —
the reference has none; the engine adds them as a hardening layer)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from cog3pio_spark.cells import h3x, s2

lat_st = st.floats(min_value=-84.9, max_value=84.9, allow_nan=False)
lng_st = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)
level_st = st.integers(min_value=1, max_value=29)
res_st = st.integers(min_value=1, max_value=14)


@settings(max_examples=60, deadline=None)
@given(lat_st, lng_st, level_st)
def test_s2_parent_contains_leaf(lat, lng, level):
    leaf = s2.latlng_to_cell(np.array([lat]), np.array([lng]), 30)
    p = s2.parent(leaf, level)
    assert s2.range_min(p)[0] <= leaf[0] <= s2.range_max(p)[0]
    assert int(s2.level_of(p)[0]) == level


@settings(max_examples=60, deadline=None)
@given(lat_st, lng_st, level_st)
def test_s2_center_reassigns_to_same_cell(lat, lng, level):
    c = s2.latlng_to_cell(np.array([lat]), np.array([lng]), level)
    clat, clng = s2.cell_center_latlng(c)
    c2 = s2.latlng_to_cell(clat, clng, level)
    assert c2[0] == c[0]


@settings(max_examples=60, deadline=None)
@given(lat_st, lng_st, res_st)
def test_hex_children_partition(lat, lng, res):
    c = h3x.latlng_to_cell(np.array([lat]), np.array([lng]), res)
    ch = h3x.children(c)
    assert ch.shape == (1, 7)
    assert len(set(ch.ravel().tolist())) == 7
    back = h3x.parent(ch.ravel())
    assert np.all(back == c[0])


@settings(max_examples=60, deadline=None)
@given(lat_st, lng_st, res_st, st.integers(min_value=1, max_value=3))
def test_hex_ring_distance_bound(lat, lng, res, k):
    c = h3x.latlng_to_cell(np.array([lat]), np.array([lng]), res)
    ring = h3x.k_ring(c, k)
    assert ring.shape[1] == 3 * k * (k + 1) + 1
    d = h3x.hex_distance(np.repeat(c, ring.shape[1]), ring.ravel())
    assert d.max() <= k


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=3, max_value=12),
    st.integers(min_value=0, max_value=10_000),
    st.floats(min_value=0.2, max_value=1.0),
)
def test_pip_raycast_matches_scalar_oracle(k, seed, spike):
    """Vectorized even-odd PIP ≡ independent scalar implementation, on
    random (possibly non-convex) star rings and random points."""
    import pyarrow as pa

    from cog3pio_spark.operators.pip_join import _pack_layer, _pip_candidates

    rng = np.random.RandomState(seed)
    ang = np.sort(rng.uniform(0, 2 * np.pi, 2 * k))
    rad = np.where(np.arange(2 * k) % 2 == 0, 10.0, 10.0 * spike)
    ring = list(zip(rad * np.cos(ang), rad * np.sin(ang)))
    ring.append(ring[0])
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    pack = _pack_layer(pa.Table.from_pylist([{
        "polygon_id": "r", "ring": [{"x": x, "y": y} for x, y in ring],
        "bbox": {"xmin": min(xs), "ymin": min(ys), "xmax": max(xs), "ymax": max(ys)},
    }]))
    px = rng.uniform(-11, 11, 300)
    py = rng.uniform(-11, 11, 300)
    pt, _ = _pip_candidates(px, py, pack)
    got = set(pt.tolist())

    def oracle(x, y):
        inside = False
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            cr = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
            if (
                abs(cr) < 1e-9
                and min(x1, x2) - 1e-9 <= x <= max(x1, x2) + 1e-9
                and min(y1, y2) - 1e-9 <= y <= max(y1, y2) + 1e-9
            ):
                return True
            if (y1 > y) != (y2 > y) and x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
                inside = not inside
        return inside

    want = {i for i in range(300) if oracle(px[i], py[i])}
    assert got == want


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=0, max_value=10_000), st.floats(min_value=0.1, max_value=0.95))
def test_minhash_estimates_true_jaccard(seed, overlap):
    """Signature-agreement rate ≈ true shingle Jaccard (±0.1 with 1,024
    hashes). With 64 hashes the estimate's sd, √(J(1−J)/m) ≈ 0.05, made a
    ±0.2 bound fail ~1% of 25-example runs; with 1,024 the error has mean
    ≈ −0.007 (the linear family's bias) and sd ≈ 0.018, so ±0.1 is > 5σ
    out."""
    import pandas as pd

    from cog3pio_spark.operators.dedupe import _shingle_hashes

    rng = np.random.RandomState(seed)
    words = [f"w{rng.randint(0, 5000):04d}" for _ in range(300)]
    n_shared = int(len(words) * overlap)
    a = " ".join(words)
    b = " ".join(words[:n_shared] + [f"x{rng.randint(0, 5000):04d}" for _ in range(300 - n_shared)])

    sh = _shingle_hashes(pd.Series([a, b]), 5)
    inter = np.intersect1d(sh[0], sh[1]).size
    union = np.union1d(sh[0], sh[1]).size
    true_j = inter / union

    P = np.uint64((1 << 61) - 1)
    r2 = np.random.RandomState(1234)
    A = r2.randint(1, 1 << 31, size=1024).astype(np.uint64)
    B = r2.randint(0, 1 << 31, size=1024).astype(np.uint64)
    sigs = []
    for s in sh:
        with np.errstate(over="ignore"):
            hv = (s[:, None] * A[None, :] + B[None, :]) % P
        sigs.append(hv.min(axis=0))
    est = (sigs[0] == sigs[1]).mean()
    assert abs(est - true_j) < 0.1, (est, true_j)


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=2, max_value=40),
    st.integers(min_value=2, max_value=40),
    st.sampled_from(["uint8", "int16", "float32", "float64"]),
    st.booleans(),
    st.booleans(),
)
def test_tiff_roundtrip_any_shape(h, w, dtype, tiled, deflate):
    import tempfile

    from cog3pio_spark.tiff.reader import CogReader
    from cog3pio_spark.tiff.writer import write_tiff

    rng = np.random.RandomState(h * 41 + w)
    arr = (rng.rand(1, h, w) * 100).astype(dtype)
    with tempfile.NamedTemporaryFile(suffix=".tif") as f:
        write_tiff(
            f.name, arr, tiled=tiled, tile_size=16,
            compression="deflate" if deflate else "none",
        )
        got = CogReader(open(f.name, "rb").read()).to_numpy()
    np.testing.assert_array_equal(got, arr)


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_lzw_roundtrip_property(data):
    """Arbitrary bytes survive TIFF-LZW encode→decode (hypothesis)."""
    from cog3pio_spark.tiff.reader import _lzw_decode
    from cog3pio_spark.tiff.writer import lzw_encode

    assert _lzw_decode(lzw_encode(data), len(data)) == data


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_packbits_roundtrip_property(data):
    """Arbitrary bytes survive PackBits encode→decode (hypothesis)."""
    from cog3pio_spark.tiff.reader import _packbits_decode
    from cog3pio_spark.tiff.writer import packbits_encode

    assert _packbits_decode(packbits_encode(data)) == data


# -- TIFF codec roundtrip fuzz (r3) ------------------------------------------
_dtypes = st.sampled_from(["uint8", "uint16", "int16", "int32", "float32", "float64"])
_comps = st.sampled_from(["none", "deflate", "lzw", "packbits"])


@settings(max_examples=40, deadline=None)
@given(
    _dtypes,
    _comps,
    st.integers(min_value=1, max_value=3),   # bands
    st.integers(min_value=1, max_value=21),  # height
    st.integers(min_value=1, max_value=23),  # width
    st.booleans(),                           # tiled
    st.booleans(),                           # predictor 2 (ints only)
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_tiff_roundtrip_any_shape_dtype_compression(
    dtype, comp, bands, h, w, tiled, predict, seed
):
    """write_tiff → CogReader must be the identity for every dtype ×
    compression × layout × shape the writer claims to support — including
    ragged edge tiles (shape not a multiple of tile_size) and single-pixel
    images."""
    import io

    from cog3pio_spark.tiff.reader import CogReader
    from cog3pio_spark.tiff.writer import write_tiff

    rng = np.random.RandomState(seed)
    if np.dtype(dtype).kind == "f":
        arr = rng.randn(bands, h, w).astype(dtype)
        predictor = 1  # predictor 2 is int-only (documented reject)
    else:
        info = np.iinfo(dtype)
        arr = rng.randint(info.min, info.max, size=(bands, h, w)).astype(dtype)
        predictor = 2 if predict else 1
    buf = io.BytesIO()
    write_tiff(buf, arr, tiled=tiled, tile_size=16, compression=comp, predictor=predictor)
    back = CogReader(buf.getvalue()).to_numpy()
    np.testing.assert_array_equal(back, arr)
    assert back.dtype == arr.dtype


# -- embedding_dupes plane-count recall invariant (r3) ------------------------
@settings(max_examples=80, deadline=None)
@given(
    st.integers(min_value=2, max_value=10**12),       # n_rows
    st.floats(min_value=0.05, max_value=0.999),       # threshold
    st.integers(min_value=2, max_value=64),           # n_tables
    st.floats(min_value=0.5, max_value=0.999),        # recall_target
)
def test_dupes_plane_count_invariants(n_rows, threshold, n_tables, recall_target):
    """Whenever more than one plane is chosen, the all-tables miss
    probability for pairs AT the threshold must stay within 1 −
    recall_target (the k=1 floor is the documented table-limited
    exception); count is always ≥ 1 and ≤ the size-based value."""
    from cog3pio_spark.operators.ann import dupes_plane_count

    k = dupes_plane_count(n_rows, threshold, n_tables, recall_target)
    size_based = min(30, max(2, int(np.ceil(np.log2(max(2.0, n_rows / 256.0))))))
    assert 1 <= k <= size_based
    p = 1.0 - np.arccos(threshold) / np.pi
    if k > 1:
        assert (1.0 - p**k) ** n_tables <= (1.0 - recall_target) + 1e-12


# -- RangeCache equivalence (r3) ----------------------------------------------
@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=5000),           # object size
    st.integers(min_value=16, max_value=512),           # block size
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=6000),
                  st.integers(min_value=0, max_value=1200)),
        min_size=1, max_size=12,
    ),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_range_cache_reads_equal_byte_slices(size, block, reads, seed):
    """RangeCache.read(off, n) must equal buf[off:off+n] for ANY read
    pattern (cached small reads, direct large reads, EOF-clipped reads,
    block-boundary straddles), and never fetch a byte twice for reads the
    block cache covers."""
    from cog3pio_spark.tiff.reader import RangeCache

    rng = np.random.RandomState(seed)
    buf = rng.bytes(size)

    def fetch(off, n):
        return buf[off : off + n]

    rc = RangeCache(fetch, block_size=block)
    for off, n in reads:
        assert rc.read(off, n) == buf[off : off + n]
    # re-reading the same small ranges is served from cache: zero new fetches
    before = rc.ranges
    for off, n in reads:
        if n < block:
            rc.read(off, n)
    assert rc.ranges == before


# -- r4: corrupt-input taxonomy fuzz (binary parsers) -------------------------
# The operators' narrowed catches rely on every parser/decoder surfacing
# malformed input ONLY through its documented error family — arbitrary
# bytes (including ones prefixed with valid magic numbers) must never
# escape with a bare IndexError/ZeroDivisionError/KeyError/struct.error.

_MAGICS = [
    b"", b"\xff\xd8", b"\xff\xd8\xff\xc0", b"\x89PNG\r\n\x1a\n", b"GIF89a",
    b"II*\x00", b"MM\x00*", b"RIFF", b"RIFF\x10\x00\x00\x00WAVE",
    b"RIFF\x10\x00\x00\x00WEBP", b"\x00\x00\x00\x18ftypisom",
    # directed chunk/box shells: the random tail lands INSIDE a declared
    # fmt/moov/VP8L payload, exercising short-field struct paths
    b"RIFF\x24\x00\x00\x00WAVEfmt \x02\x00\x00\x00",
    b"RIFF\x24\x00\x00\x00WAVEfmt \x10\x00\x00\x00",
    b"RIFF\x18\x00\x00\x00WEBPVP8L\x05\x00\x00\x00",
    b"RIFF\x18\x00\x00\x00WEBPVP8 \x0c\x00\x00\x00",
    b"\x00\x00\x00\x10ftypisom\x00\x00\x00\x10moov",
    b"\x00\x00\x00\x18ftypisom\x00\x00\x00\x00\x00\x00\x00\x20moov\x00\x00\x00\x0cmvhd",
    b"\xff\xd8\xff\xdb\x00\x04",
    b"\x89PNG\r\n\x1a\n\x00\x00\x00\x0dIHDR",
]


@settings(max_examples=120, deadline=None)
@given(
    prefix=st.sampled_from(_MAGICS),
    junk=st.binary(min_size=0, max_size=160),
)
def test_binary_parsers_error_taxonomy_fuzz(prefix, junk):
    from cog3pio_spark import gif, jpeg, png
    from cog3pio_spark.gif import GifDecodeError, decode_gif
    from cog3pio_spark.jpeg import JpegDecodeError, decode_jpeg
    from cog3pio_spark.operators.multimodal import _parse_mp4, _parse_wav, _webp_header
    from cog3pio_spark.png import PngDecodeError, decode_png
    from cog3pio_spark.tiff.reader import CogReader, TiffDecodeError

    raw = prefix + junk
    for fn, allowed in (
        (decode_jpeg, (JpegDecodeError,)),
        (decode_png, (PngDecodeError,)),
        (decode_gif, (GifDecodeError,)),
        (jpeg.header, (JpegDecodeError,)),
        (png.header, (PngDecodeError,)),
        (gif.header, (GifDecodeError,)),
        (_webp_header, (ValueError,)),
        (_parse_wav, (ValueError,)),
        (_parse_mp4, (ValueError,)),
    ):
        try:
            fn(raw)
        except allowed:
            pass  # documented taxonomy (codec errors subclass ValueError)
    try:
        CogReader(raw)
    except TiffDecodeError:
        # CogReader wraps every crash class of its tag walk into
        # TiffDecodeError itself; operators add no wrapping of their own
        pass
