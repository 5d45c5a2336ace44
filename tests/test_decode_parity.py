"""The fused decode UDF equals its parts: `full_decode_batches` rows must be
the `decode_meta` row plus the band-0 zonal partials of `_decode_full`, for
every generated TIFF variant and for truncated or corrupt buffers; the shared
`decoded_images` loop yields exactly the buffers that decode."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from aira_spark.functions.cells import DEFAULT_RES
from aira_spark.functions.udfs import (
    _decode_full,
    _meta_row,
    _zonal_partials,
    decode_pixels,
    decoded_images,
    full_decode_batches,
    zonal_pixel_batches,
)
from aira_spark.sources.images import VARIANTS, synthesize_row
from aira_spark.tiff import tags as T
from aira_spark.tiff.meta import TiffError, decode_metadata


def _patched(buf: bytes, tag: int, at: int, value: bytes) -> bytes:
    """Classic TIFF with `value` written at byte `at` of `tag`'s first-IFD
    entry record (0 = tag, 2 = dtype, 4 = count, 8 = value/pointer)."""
    bo = "<" if buf[:2] == b"II" else ">"
    (ifd,) = struct.unpack_from(bo + "I", buf, 4)
    (n,) = struct.unpack_from(bo + "H", buf, ifd)
    for i in range(n):
        pos = ifd + 2 + 12 * i
        if struct.unpack_from(bo + "H", buf, pos)[0] == tag:
            out = bytearray(buf)
            out[pos + at : pos + at + len(value)] = value
            return bytes(out)
    raise AssertionError(f"tag {tag} not in first IFD")


def _cases() -> list[tuple[str, bytes]]:
    cases = []
    for k in range(2 * len(VARIANTS)):
        iid, buf = synthesize_row(k)[:2]
        cases.append((iid, buf))
        cases += [(f"{iid}-cut{c}", buf[:c]) for c in (4, 12, len(buf) // 2, len(buf) - 1)]
        if buf[2:4] in (b"\x2b\x00", b"\x00\x2b"):
            continue  # BigTIFF: the patches below address classic records
        bo = "<" if buf[:2] == b"II" else ">"
        (ifd,) = struct.unpack_from(bo + "I", buf, 4)
        count_overflow = bytearray(buf)
        count_overflow[ifd : ifd + 2] = struct.pack(bo + "H", 0xFFFF)
        cases += [
            (f"{iid}-count", bytes(count_overflow)),
            (f"{iid}-ptr", _patched(buf, T.IMAGE_DESCRIPTION, 8, struct.pack(bo + "I", len(buf)))),
            (f"{iid}-comp", _patched(buf, T.COMPRESSION, 8, struct.pack(bo + "H", 7))),
            # scalar entry with no value, one-value geotransform scale
            (f"{iid}-w0", _patched(buf, T.IMAGE_WIDTH, 4, struct.pack(bo + "I", 0))),
            (f"{iid}-scale1", _patched(buf, T.MODEL_PIXEL_SCALE, 4, struct.pack(bo + "I", 1))),
        ]
    return cases


def _expected(iid: str, buf: bytes) -> tuple:
    row = _meta_row(buf)
    if row["error"] is not None:
        return iid, row, []
    try:
        m, px = _decode_full(buf, max_bands=1)
        return iid, row, _zonal_partials(m, px, DEFAULT_RES)
    except TiffError as exc:
        return iid, dict(row, error=str(exc)), []


def test_full_decode_equals_meta_plus_decode_full():
    cases = _cases()
    pdf = pd.DataFrame(cases, columns=["image_id", "bytes"])
    (got,) = list(full_decode_batches(DEFAULT_RES)(iter([pdf])))
    rows = list(got.itertuples(index=False, name=None))
    assert rows == [_expected(iid, buf) for iid, buf in cases]

    errors = {r[1]["error"] for r in rows}
    assert None in errors
    assert "Directory entries out of bounds" in errors
    assert f"Entry value for tag {T.IMAGE_DESCRIPTION} out of bounds" in errors
    assert "Buffer too small for TIFF header" in errors
    assert "Unsupported compression 7" in errors
    assert f"Invalid tag {T.IMAGE_WIDTH}: Expected 1 value, found 0" in errors
    assert f"Invalid tag {T.MODEL_PIXEL_SCALE}: expected at least 2 values, found 1" in errors
    for r in rows:
        if r[0].endswith(("-w0", "-scale1")):
            assert r[1]["error"] is not None and r[2] == []
    # a pixel-stage failure keeps the decoded metadata next to its error
    comp = next(r for r in rows if r[0].endswith("-comp"))
    assert comp[1]["width"] is not None and comp[2] == []


def test_decoded_images_yields_exactly_the_decodable_cases():
    cases = _cases()
    pdf = pd.DataFrame(cases, columns=["image_id", "bytes"])
    want = []
    for iid, buf in cases:
        try:
            m = decode_metadata(buf)
            want.append((iid, m, decode_pixels(buf, m)))
        except TiffError:
            continue
    got = [(rec.image_id, m, px) for rec, m, px in decoded_images(pdf)]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (iid, gm, gpx), (_, wm, wpx) in zip(got, want):
        assert gm == wm, iid
        assert gpx.dtype == wpx.dtype and np.array_equal(gpx, wpx), iid

    # zonal_pixel_batches emits partials for exactly the band-0 decodable
    # images; the count-0 and one-value-scale buffers drop out
    band0 = {rec.image_id for rec, _, _ in decoded_images(pdf, max_bands=1)}
    (zon,) = list(zonal_pixel_batches(DEFAULT_RES)(iter([pdf])))
    assert set(zon["image_id"]) == band0
    bad = {iid for iid, _ in cases if iid.endswith(("-w0", "-scale1"))}
    assert bad and not bad & band0
