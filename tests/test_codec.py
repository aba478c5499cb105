"""Deterministic codec contract: roundtrip, lossy PSNR bounds, phash."""

import numpy as np
import pytest

from archive_query_log_spark.crawler import codec


def test_png_roundtrip_exact():
    px = codec.synth_pixels("img00000001", 32, 32)
    fmt, w, h, dec = codec.decode(codec.encode(px, "png"))
    assert (fmt, w, h) == ("png", 32, 32)
    assert np.array_equal(px, dec)


def test_jpeg_lossy_psnr_above_gate():
    px = codec.synth_pixels("img00000002", 32, 32)
    _, _, _, dec = codec.decode(codec.encode(px, "jpeg"))
    assert not np.array_equal(px, dec)  # genuinely lossy
    p = codec.psnr(px, dec)
    assert codec.PSNR_GATE_DB < p < 60.0


def test_phash_stability_and_sensitivity():
    px = codec.synth_pixels("img00000003", 32, 32)
    h1 = codec.phash(px)
    assert h1 == codec.phash(px.copy())
    other = codec.synth_pixels("img00000004", 32, 32)
    assert h1 != codec.phash(other)
    # lossy decode keeps the phash (the validation invariant)
    _, _, _, dec = codec.decode(codec.encode(px, "jpeg"))
    assert codec.phash(dec) == codec.phash(codec.decode(codec.encode(px, "jpeg"))[3])


def test_validate_row_verdicts():
    iid = "img00000005"
    px = codec.synth_pixels(iid, 32, 32)
    buf = codec.encode(px, "jpeg")
    dec = codec.decode(buf)[3]
    ok = codec.validate_row(
        buf, iid, 32, 32, "jpeg", codec.synth_caption(iid), codec.phash(dec)
    )
    assert ok[0] == 200 and ok[2] and ok[3] and ok[4]
    bad = codec.validate_row(
        buf, iid, 32, 32, "jpeg", "wrong caption", codec.phash(dec)
    )
    assert bad[0] == 200 and not bad[3]
    garbage = codec.validate_row(b"nope", iid, 32, 32, "png", "c", 0)
    assert garbage[0] == 422
    # regression: stored w/h disagreeing with the payload (shape-mismatch
    # psnr) must be a 422 verdict, never an exception out of the UDF
    mismatched = codec.validate_row(buf, iid, 16, 16, "jpeg", "c", 0)
    assert mismatched[0] == 422


def _parity_rows():
    """Rows covering every verdict path of validate_row."""
    rows = []
    for i in range(600):
        iid = f"img-par-{i % 60:05d}"
        fmt = "jpeg" if i % 2 else "png"
        w = h = [16, 32, 40, 20][i % 4]  # 20: not a multiple of 8
        px = codec.synth_pixels(iid, w, h)
        buf = codec.encode(px, fmt)
        ph = codec.phash(codec.decode(buf)[3])
        cap = codec.synth_caption(iid)
        kind = i % 17
        if kind == 13:
            buf = None  # dead link -> 404 row untouched
        elif kind == 14:
            buf = b"XXXX" + buf[4:]  # bad magic
        elif kind == 15:
            buf = buf[: len(buf) // 2]  # truncated zlib
        elif kind == 16:
            w, h = w + 8, h  # stored shape mismatch
        elif kind == 5:
            cap = cap + " WRONG"
        elif kind == 7:
            ph = ph ^ 1
        elif kind == 9:  # corrupt a pixel -> psnr/phash must react
            px2 = px.copy()
            px2[0, 0] ^= 0xFF
            buf = codec.encode(px2, fmt)
        rows.append((iid, buf, w, h, fmt, cap, ph))
    return rows


def _assert_matches_scalar(rows, chunk=None):
    status, psnr_db, psnr_ok, caption_ok, phash_ok = codec.validate_rows(
        [r[1] for r in rows],
        [r[0] for r in rows],
        [r[2] for r in rows],
        [r[3] for r in rows],
        [r[4] for r in rows],
        [r[5] for r in rows],
        [r[6] for r in rows],
        chunk=chunk,
    )
    for j, (iid, buf, w, h, fmt, cap, ph) in enumerate(rows):
        if buf is None:
            exp = (404, 0.0, False, False, False)
        else:
            exp = codec.validate_row(bytes(buf), iid, w, h, fmt, cap, ph)
        got = (
            int(status[j]),
            float(psnr_db[j]),
            bool(psnr_ok[j]),
            bool(caption_ok[j]),
            bool(phash_ok[j]),
        )
        assert got == exp, (j, iid, fmt, got, exp)


def test_validate_rows_matches_scalar_verdicts():
    """Differential gate for the vectorized batch validator (two-stage
    block sums, packbits phash, adaptive chunking): every verdict column
    must equal the scalar validate_row path across formats, image sizes
    (incl. non-multiple-of-8), and every fallback edge — dead link, bad
    magic, truncated zlib, stored-shape mismatch, wrong caption/phash,
    corrupted pixels."""
    _assert_matches_scalar(_parity_rows())


def test_validate_rows_multi_chunk_parity():
    """A chunk size that splits every (w, h) group into several numpy
    passes, with a ragged last chunk, yields the scalar verdicts too."""
    _assert_matches_scalar(_parity_rows(), chunk=7)


def test_validate_rows_rejects_non_positive_chunk():
    """chunk=0 is not "adaptive": only None is."""
    rows = _parity_rows()[:3]
    args = [[r[i] for r in rows] for i in (1, 0, 2, 3, 4, 5, 6)]
    for bad in (0, -1):
        with pytest.raises(ValueError):
            codec.validate_rows(*args, chunk=bad)
