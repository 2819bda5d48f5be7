"""Property-based invariants (FIXTURES.md §4) via hypothesis."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from raster_functions_spark import codec, grid
from raster_functions_spark.operators import stack as S


@st.composite
def _tiles(draw):
    dtype = draw(st.sampled_from([np.uint8, np.uint16, np.float32]))
    bands = draw(st.integers(1, 4))
    h = draw(st.integers(1, 40))
    w = draw(st.integers(1, 40))
    if dtype is np.float32:
        a = draw(arrays(np.float32, (bands, h, w),
                        elements=st.floats(-1e5, 1e5, width=32)))
    else:
        info = np.iinfo(dtype)
        a = draw(arrays(dtype, (bands, h, w),
                        elements=st.integers(0, int(info.max))))
    return a


@given(_tiles(), st.sampled_from(["raw", "rle", "zlib"]))
@settings(max_examples=60, deadline=None)
def test_lossless_roundtrip_property(px, fmt):
    assert np.array_equal(codec.decode(codec.encode(px, fmt)), px)


@given(arrays(np.uint8, (1, 24, 24), elements=st.integers(0, 255)))
@settings(max_examples=30, deadline=None)
def test_dct_psnr_property(px):
    out = codec.decode(codec.encode(px, "dct"))
    assert codec.psnr(px, out) >= 40.0


@given(st.floats(-180, 180), st.floats(-90, 90), st.integers(1, 15))
@settings(max_examples=200, deadline=None)
def test_grid_parent_law(lon, lat, res):
    """encode at res then take parent p == encode directly at p."""
    c = grid.encode_np(np.array([lon]), np.array([lat]), res)
    for p in range(res, -1, -max(1, res // 3 or 1)):
        assert grid.parent(c, p)[0] == grid.encode_np(
            np.array([lon]), np.array([lat]), p)[0]


@given(st.floats(-179.9, 179.9), st.floats(-89.9, 89.9), st.integers(1, 14))
@settings(max_examples=200, deadline=None)
def test_grid_bounds_contain_point(lon, lat, res):
    c = grid.encode_np(np.array([lon]), np.array([lat]), res)
    x0, y0, x1, y1 = grid.cell_bounds(c)
    # ±1e-9° slack: points within 1 ulp of a cell edge legitimately round
    # into the adjacent cell ((lon+180)/360 loses ~2e-16 of absolute
    # precision); the mapping stays deterministic and identical across the
    # NumPy / Column / SQL implementations, which is the real invariant
    assert x0[0] - 1e-9 <= lon < x1[0] + 1e-9
    assert y0[0] - 1e-9 <= lat < y1[0] + 1e-9


@given(arrays(np.float64, (7, 6, 6), elements=st.floats(0, 1000)))
@settings(max_examples=30, deadline=None)
def test_percentile50_equals_median(stack):
    """percentile(50) == median path equivalence
    (LandsatMedianImage.py:178-179 documents both)."""
    assert np.allclose(np.percentile(stack, 50.0, axis=0),
                       np.median(stack, axis=0))


@given(arrays(np.uint8, (3, 8, 8), elements=st.integers(0, 255)))
@settings(max_examples=30, deadline=None)
def test_phash_deterministic_property(px):
    assert codec.phash64(px) == codec.phash64(px.copy())


@given(st.integers(0, 10_000))
@settings(max_examples=100, deadline=None)
def test_fixture_purity(i):
    """Fixture rows are pure functions of the index (parallelism-proof)."""
    from raster_functions_spark import fixtures
    a = fixtures.images_pdf(np.array([i]))
    b = fixtures.images_pdf(np.array([i]))
    assert a.iloc[0].bytes == b.iloc[0].bytes
    assert a.iloc[0].caption == b.iloc[0].caption
    assert a.iloc[0].phash == b.iloc[0].phash


# ------------------------------------------------ formats.py codecs --------

@st.composite
def _u8_images(draw):
    bands = draw(st.sampled_from([1, 3]))
    h = draw(st.integers(1, 24))
    w = draw(st.integers(1, 24))
    return draw(arrays(np.uint8, (bands, h, w),
                       elements=st.integers(0, 255)))


@given(_u8_images())
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip_property(px):
    from raster_functions_spark import formats
    out = formats.decode_bmp(formats.encode_bmp(px))
    # grey RGB palettes collapse: a 3-band image whose channels are all
    # equal decodes as 1 band (same pixels)
    if px.shape[0] == 3 and (px[0] == px[1]).all() and (px[1] == px[2]).all():
        assert np.array_equal(out[0], px[0])
    else:
        assert np.array_equal(out, px)


@given(_u8_images())
@settings(max_examples=60, deadline=None)
def test_pnm_roundtrip_property(px):
    from raster_functions_spark import formats
    assert np.array_equal(formats.decode_pnm(formats.encode_pnm(px)), px)


@given(st.integers(1, 2), st.integers(1, 500),
       st.sampled_from([8000, 16000, 44100]))
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_property(ch, n, rate):
    from raster_functions_spark import formats
    rng = np.random.default_rng(n * ch)
    s = rng.integers(-32768, 32767, (ch, n), dtype=np.int16)
    out, r = formats.decode_wav(formats.encode_wav(s, rate))
    assert r == rate and np.array_equal(out, s)


@given(st.integers(1, 3), st.integers(1, 12), st.integers(0, 10 ** 6),
       st.integers(1, 5))
@settings(max_examples=60, deadline=None)
def test_topk_assoc_decomposition_property(k, n_members, seed, n_chunks):
    """The map-side-combine algebra of stack_topk_assoc: for ANY split of
    the members into partition chunks, (per-chunk top-k + min guard) →
    merge equals the direct whole-stack FindMax reduction — including the
    cap-to-−1 validity rule and the n_members < k edge."""
    rng = np.random.default_rng(seed)
    h = w = 4
    cap = 100.0
    stack = rng.integers(0, 150, (n_members, h, w)).astype(np.float64)
    capped = np.where(stack > cap, -1.0, stack)
    # direct (reference semantics: the FindMax whole-stack sort)
    srt = np.sort(capped, axis=0)
    direct = srt[-k] if n_members >= k else srt[0]
    direct = np.where(~(capped != -1.0).any(axis=0), -1.0, direct)
    # partial + merge (the stack_topk_assoc algebra)
    cuts = np.sort(rng.integers(0, n_members + 1, max(0, n_chunks - 1)))
    chunks = np.split(capped, cuts) if n_chunks > 1 else [capped]
    mins, tops, n_total = [], [], 0
    for c in chunks:
        if c.shape[0] == 0:
            continue
        cs = np.sort(c, axis=0)
        mins.append(cs[0])
        tops.append(cs[-min(k, c.shape[0]):])
        n_total += c.shape[0]
    tops_all = np.concatenate(tops)
    srt2 = np.sort(tops_all, axis=0)
    merged = srt2[-k] if n_total >= k else np.stack(mins).min(axis=0)
    merged = np.where(~(tops_all != -1.0).any(axis=0), -1.0, merged)
    assert np.array_equal(merged, direct)


@given(st.integers(1, 12), st.integers(0, 10 ** 6), st.integers(1, 5),
       st.booleans())
@settings(max_examples=60, deadline=None)
def test_mean_assoc_decomposition_property(n_members, seed, n_chunks,
                                           with_nan):
    """stack_mean_assoc's [Σ, count] partials reproduce the whole-stack
    NaN-skipping mean for any member split (integer-valued rasters ⇒
    exact sums, the documented exactness condition)."""
    rng = np.random.default_rng(seed)
    h = w = 4
    stack = rng.integers(0, 4000, (n_members, h, w)).astype(np.float64)
    if with_nan:
        stack[rng.random((n_members, h, w)) < 0.3] = np.nan
    with np.errstate(all="ignore"):
        direct = np.nanmean(stack, axis=0)
    cuts = np.sort(rng.integers(0, n_members + 1, max(0, n_chunks - 1)))
    chunks = np.split(stack, cuts) if n_chunks > 1 else [stack]
    s_tot = np.zeros((h, w))
    n_tot = np.zeros((h, w))
    for c in chunks:
        if c.shape[0] == 0:
            continue
        valid = ~np.isnan(c)
        s_tot += np.where(valid, c, 0.0).sum(axis=0)
        n_tot += valid.sum(axis=0)
    with np.errstate(invalid="ignore", divide="ignore"):
        merged = np.where(n_tot > 0, s_tot / n_tot, np.nan)
    assert np.allclose(merged, direct, equal_nan=True)


# ----------------------------------------- round-6 sketch/geo properties ---

@st.composite
def _bboxes(draw):
    xmin = draw(st.floats(-180.0, 179.0))
    ymin = draw(st.floats(-90.0, 89.0))
    xmax = draw(st.floats(min_value=xmin, max_value=180.0))
    ymax = draw(st.floats(min_value=ymin, max_value=90.0))
    res = draw(st.integers(0, 9))
    return (xmin, ymin, xmax, ymax, res)


def _sibling_merge(cells, res):
    """Iterated complete-sibling merging of a res-``res`` cell set."""
    from collections import Counter
    cells, final = set(cells), set()
    for r in range(res, 0, -1):
        cur = {c for c in cells if (c & 15) == r}
        rest = cells - cur
        par = Counter(int(grid.parent(np.array([c]), r - 1)[0]) for c in cur)
        merged = set()
        for c in cur:
            pp = int(grid.parent(np.array([c]), r - 1)[0])
            (merged.add(pp) if par[pp] == 4 else final.add(c))
        cells = rest | merged
    return final | cells


@given(_bboxes())
@settings(max_examples=40, deadline=None)
def test_compact_cover_property(bbox):
    """Closed-form compaction == iterated complete-sibling merging, and
    the compact set's res-R descendants tile the cover exactly."""
    comp = grid.compact_cover_np(*bbox)
    cells = set(grid.cover_bbox(*bbox).tolist())
    assert set(comp.tolist()) == _sibling_merge(cells, bbox[4])


@st.composite
def _rings(draw):
    """Random rings, self-intersecting allowed, with a resolution."""
    nv = draw(st.integers(3, 12))
    cx = draw(st.floats(-170.0, 170.0))
    cy = draw(st.floats(-80.0, 80.0))
    span = draw(st.floats(0.05, 6.0))
    off = st.lists(st.floats(-1.0, 1.0), min_size=nv, max_size=nv)
    xs = cx + span * np.array(draw(off))
    ys = cy + span * np.array(draw(off))
    return xs, ys, draw(st.integers(4, 10))


@given(_rings())
@settings(max_examples=60, deadline=None)
def test_polygon_runs_compact_runs_property(ring):
    """Scanline runs hold exactly the bbox cell centres the even-odd test
    puts inside, and compact_runs of them == iterated sibling merging."""
    from raster_functions_spark import spatial
    xs, ys, res = ring
    n = 1 << res
    i0, j0 = grid.lonlat_to_ij(float(xs.min()), float(ys.min()), res)
    i1, j1 = grid.lonlat_to_ij(float(xs.max()), float(ys.max()), res)
    gi, gj = np.meshgrid(np.arange(int(i0), int(i1) + 1),
                         np.arange(int(j0), int(j1) + 1), indexing="ij")
    gi, gj = gi.reshape(-1), gj.reshape(-1)
    inside = spatial.point_in_polygon_np((gi + 0.5) / n * 360.0 - 180.0,
                                         (gj + 0.5) / n * 180.0 - 90.0, xs, ys)
    kept = set(grid.ij_to_cell(gi[inside], gj[inside], res).tolist())
    runs = spatial.polygon_runs(xs, ys, res)
    cells = [int(grid.ij_to_cell(np.array([i]), np.array([j]), res)[0])
             for j, lo, hi in zip(*runs) for i in range(lo, hi)]
    assert len(cells) == len(kept) and set(cells) == kept
    assert set(grid.compact_runs(runs, res).tolist()) == _sibling_merge(kept, res)


@given(st.lists(st.integers(0, 50), min_size=1, max_size=120),
       st.integers(1, 6), st.integers(1, 6), st.integers(0, 2**20))
@settings(max_examples=40, deadline=None)
def test_winnow_reference_property(word_ids, k, w, seed):
    """The SQL-shaped winnowing (window-ends formulation) equals the
    direct sliding-window reference for arbitrary k, w, seed."""
    import hashlib
    doc = " ".join(f"w{i}" for i in word_ids)
    toks = doc.split(" ")
    n = max(len(toks) - k + 1, 1)
    grams = [" ".join(toks[i:i + k]) for i in range(n)]
    hs = [int(hashlib.md5(f"{g}:{seed}".encode()).hexdigest()[:15], 16)
          for g in grams]
    # direct reference: rightmost min of each (possibly truncated) window
    ref = set()
    for t in range(len(hs)):
        lo = max(0, t - w + 1)
        mh = min(hs[lo:t + 1])
        ref.add((max(i for i in range(lo, t + 1) if hs[i] == mh), mh))
    # window-ends formulation (what the Spark plan computes)
    got = set()
    for p, h in enumerate(hs):
        for t in range(p, min(p + w, len(hs))):
            lo = max(0, t - w + 1)
            mh = min(hs[lo:t + 1])
            sel = max(i for i in range(lo, t + 1) if hs[i] == mh)
            if sel == p:
                got.add((p, h))
    assert got == ref


@given(st.lists(st.floats(-50.0, 1050.0, allow_nan=False), min_size=1,
                max_size=400),
       st.integers(2, 64))
@settings(max_examples=40, deadline=None)
def test_quantile_register_merge_property(vals, bins):
    """Register build is a count vector homomorphism: registers(A) +
    registers(B) == registers(A∪B) for any split (pure NumPy replay of
    the engine's bin arithmetic)."""
    lo, hi = 0.0, 1000.0
    arr = np.asarray(vals, dtype=np.float64)
    b = np.clip(np.floor((arr - lo) / (hi - lo) * bins), 0,
                bins - 1).astype(np.int64)
    full = np.bincount(b, minlength=bins)
    half = len(arr) // 2
    ba = np.bincount(b[:half], minlength=bins)
    bb = np.bincount(b[half:], minlength=bins)
    assert (ba + bb == full).all()
