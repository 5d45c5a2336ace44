"""TIFF / BigTIFF structure decoder (pure stdlib).

From-scratch reimplementation of the *semantics* of the reference decoder:

- header / version handshake    -> /root/reference/crates/aira-tiff/src/decoder.rs:52-75
- IFD directory chain           -> decoder.rs:117-174 (cycle detection as in
                                   crates/aira-cli/src/cmd/tiffdump.rs:190-193)
- packed entry records          -> decoder.rs:226-283 (12 B classic / 20 B BigTIFF)
- inline-vs-offset value rule   -> decoder.rs:251-266 (<=4 / <=8 bytes inline)
- per-tag dispatch + widenings  -> metadata.rs:348-573
- validation + defaults         -> metadata.rs:576-761
- chunk grid arithmetic         -> metadata.rs:190-198,219-243 (incl. planar
                                   zero-size clipping of overflow chunks)

The whole buffer is in memory (it arrives as one Arrow binary cell), so the
reference's seek() calls become struct.unpack_from over the same offsets.
"""

from __future__ import annotations

import re
import struct
from dataclasses import dataclass, field
from typing import Any

from . import tags as T


class TiffError(ValueError):
    """Decode failure; message mirrors the reference's error strings."""


# packed entry records (tag, dtype, count, value-or-pointer) per byte order
_ENTRY = {
    (bo, big): struct.Struct(bo + ("HHQ8s" if big else "HHI4s"))
    for bo in "<>"
    for big in (False, True)
}

_DATETIME_RE = re.compile(r"^\d{4}:\d{2}:\d{2} \d{2}:\d{2}:\d{2}$")

# dtype-compat matrix of the sealed Decode trait (decoder.rs:435-513)
_UNSIGNED_SCALAR = {
    T.DTYPE_SHORT: "H",
    T.DTYPE_LONG: "I",
    T.DTYPE_IFD: "I",
    T.DTYPE_BIG_LONG: "Q",
    T.DTYPE_BIG_IFD: "Q",
}


@dataclass
class RawEntry:
    tag: int
    dtype: int
    count: int
    raw: bytes  # resolved value bytes (inline or dereferenced), file byteorder


@dataclass
class Directory:
    index: int
    offset: int
    entries: list[RawEntry] = field(default_factory=list)


def read_header(buf: bytes) -> tuple[str, int, int]:
    """Returns (byteorder '<'|'>', version 42|43, first IFD offset)."""
    if len(buf) < 8:
        raise TiffError("Buffer too small for TIFF header")
    sig = bytes(buf[:2])
    if sig == b"II":
        bo = "<"
    elif sig == b"MM":
        bo = ">"
    else:
        raise TiffError(f"Invalid byte order signature {sig!r}")
    (version,) = struct.unpack_from(bo + "H", buf, 2)
    if version == 42:
        (first,) = struct.unpack_from(bo + "I", buf, 4)
        return bo, 42, first
    if version == 43:
        if len(buf) < 16:
            raise TiffError("Buffer too small for BigTIFF header")
        offsize, pad, first = struct.unpack_from(bo + "HHQ", buf, 4)
        if offsize != 8 or pad != 0:
            raise TiffError("Invalid BigTIFF offset size / padding")
        return bo, 43, first
    raise TiffError(f"Unsupported TIFF version {version}")


def _read_directory(buf: bytes, bo: str, big: bool, offset: int, index: int) -> tuple[Directory, int]:
    """Parses one IFD; returns (directory, next_offset)."""
    n = len(buf)
    ptr_fmt = bo + ("Q" if big else "I")
    if big:
        if offset + 8 > n:
            raise TiffError("Directory offset out of bounds")
        (count,) = struct.unpack_from(ptr_fmt, buf, offset)
        ent_off = offset + 8
        inline_max = 8
    else:
        if offset + 2 > n:
            raise TiffError("Directory offset out of bounds")
        (count,) = struct.unpack_from(bo + "H", buf, offset)
        ent_off = offset + 2
        inline_max = 4
    rec = _ENTRY[bo, big]
    end = ent_off + count * rec.size
    if end + (8 if big else 4) > n:
        raise TiffError("Directory entries out of bounds")

    # one struct pass over the packed entry array (SURVEY.md S3)
    (next_off,) = struct.unpack_from(ptr_fmt, buf, end)

    entries: list[RawEntry] = []
    for tag, dtype, cnt, vbytes in rec.iter_unpack(memoryview(buf)[ent_off:end]):
        size = T.DTYPE_SIZE.get(dtype)
        if size is None:
            raise TiffError(f"Unknown entry dtype {dtype}")
        nbytes = size * cnt
        if nbytes <= inline_max:
            raw = vbytes[:nbytes]
        else:
            (ptr,) = struct.unpack(ptr_fmt, vbytes)
            if ptr + nbytes > n:
                raise TiffError(f"Entry value for tag {tag} out of bounds")
            raw = bytes(buf[ptr : ptr + nbytes])
        entries.append(RawEntry(tag, dtype, cnt, raw))
    return Directory(index, offset, entries), next_off


def walk_directories(buf: bytes, max_pages: int = 1024) -> tuple[str, int, list[Directory]]:
    """Follows the IFD linked list (offset 0 terminates); detects cycles."""
    bo, version, off = read_header(buf)
    big = version == 43
    seen: set[int] = set()
    dirs: list[Directory] = []
    idx = 0
    while off != 0 and idx < max_pages:
        if off in seen:
            raise TiffError("Directory chain cycle detected")
        seen.add(off)
        d, off = _read_directory(buf, bo, big, off, idx)
        dirs.append(d)
        idx += 1
    return bo, version, dirs


def _first(e: RawEntry, bo: str, kind: str) -> Any:
    # a scalar read of an entry that carries no value is corrupt input
    if e.count == 0:
        raise TiffError("Expected 1 value, found 0")
    return struct.unpack_from(bo + kind, e.raw)[0]


def _decode_scalar_u32(e: RawEntry, bo: str) -> int:
    # 'decode! as u32': Short widened, Long exact (metadata.rs:428-433)
    if e.dtype == T.DTYPE_SHORT:
        return _first(e, bo, "H")
    if e.dtype == T.DTYPE_LONG:
        return _first(e, bo, "I")
    raise TiffError(f"Unexpected dtype {e.dtype} for tag {e.tag}")


def _decode_scalar_u16(e: RawEntry, bo: str) -> int:
    if e.dtype != T.DTYPE_SHORT:
        raise TiffError(f"Unexpected dtype {e.dtype} for tag {e.tag}")
    return _first(e, bo, "H")


def _decode_only_u32(e: RawEntry, bo: str) -> int:
    # 'decode! into u32': Long only (NEW_SUBFILE_TYPE)
    if e.dtype != T.DTYPE_LONG:
        raise TiffError(f"Unexpected dtype {e.dtype} for tag {e.tag}")
    return _first(e, bo, "I")


def _decode_vec_u16(e: RawEntry, bo: str) -> list[int]:
    if e.dtype != T.DTYPE_SHORT:
        raise TiffError(f"Unexpected dtype {e.dtype} for tag {e.tag}")
    return list(struct.unpack_from(f"{bo}{e.count}H", e.raw))


def _decode_vec_u64(e: RawEntry, bo: str) -> list[int]:
    # 'decode! as Vec<u64>': Short | Long | Ifd | BigLong | BigIfd widened
    kind = _UNSIGNED_SCALAR.get(e.dtype)
    if kind is None:
        raise TiffError(f"Unexpected dtype {e.dtype} for tag {e.tag}")
    return list(struct.unpack_from(f"{bo}{e.count}{kind}", e.raw))


def _decode_rational(e: RawEntry, bo: str) -> tuple[int, int]:
    if e.dtype != T.DTYPE_RATIONAL:
        raise TiffError(f"Unexpected dtype {e.dtype} for tag {e.tag}")
    if e.count == 0:
        raise TiffError("Expected 1 value, found 0")
    return struct.unpack_from(bo + "II", e.raw)


def _decode_string(e: RawEntry, bo: str) -> str:
    # Ascii: NUL-terminated, no interior NUL, valid UTF-8 (entry.rs:73-81)
    if e.dtype != T.DTYPE_ASCII:
        raise TiffError(f"Unexpected dtype {e.dtype} for tag {e.tag}")
    raw = e.raw
    if not raw or raw[-1] != 0:
        raise TiffError("Invalid string: missing NUL terminator")
    body = raw[:-1]
    if b"\x00" in body:
        raise TiffError("Invalid string: interior NUL")
    try:
        return body.decode("utf-8")
    except UnicodeDecodeError as exc:  # pragma: no cover - rare
        raise TiffError(f"Invalid UTF-8 string: {exc}") from exc


_SIMPLE_FMT = {
    T.DTYPE_BYTE: "B",
    T.DTYPE_UNDEFINED: "B",
    T.DTYPE_SBYTE: "b",
    T.DTYPE_SHORT: "H",
    T.DTYPE_LONG: "I",
    T.DTYPE_IFD: "I",
    T.DTYPE_BIG_LONG: "Q",
    T.DTYPE_BIG_IFD: "Q",
    T.DTYPE_SSHORT: "h",
    T.DTYPE_SLONG: "i",
    T.DTYPE_BIG_SLONG: "q",
    T.DTYPE_FLOAT: "f",
    T.DTYPE_DOUBLE: "d",
}


def entry_value(dtype: int, count: int, raw: bytes, bo: str) -> Any:
    """Materializes a dynamic entry value (SURVEY.md S6; entry.rs:42-84)."""
    if dtype == T.DTYPE_ASCII:
        e = RawEntry(0, dtype, count, raw)
        return _decode_string(e, bo)
    simple = _SIMPLE_FMT.get(dtype)
    if simple is not None:
        return list(struct.unpack_from(f"{bo}{count}{simple}", raw))
    if dtype in (T.DTYPE_RATIONAL, T.DTYPE_SRATIONAL):
        kind = "I" if dtype == T.DTYPE_RATIONAL else "i"
        v = struct.unpack_from(f"{bo}{2 * count}{kind}", raw)
        return list(zip(v[::2], v[1::2]))
    raise TiffError(f"Unknown entry dtype {dtype}")


def _geo_values(custom: dict[int, tuple[int, int, bytes]], tag: int, need: int, bo: str) -> list:
    dtype, count, raw = custom[tag]
    if dtype not in _SIMPLE_FMT:
        raise TiffError(f"Invalid tag {tag}: non-numeric dtype {dtype}")
    if count < need:
        raise TiffError(f"Invalid tag {tag}: expected at least {need} values, found {count}")
    return entry_value(dtype, count, raw, bo)


# tag -> (field name, decoder fn); everything else becomes a custom entry
_STRING_TAGS = {
    T.ARTIST: "artist",
    T.COPYRIGHT: "copyright",
    T.HOST_COMPUTER: "host_computer",
    T.IMAGE_DESCRIPTION: "description",
    T.SOFTWARE: "software",
}


def build_metadata(directory: Directory, bo: str) -> dict[str, Any]:
    """Folds entries and validates, mirroring MetadataBuilder (metadata.rs:348-761).

    Returns a plain dict (UDF-friendly). Raises TiffError on invalid input with
    messages matching the reference's intents.
    """
    b: dict[str, Any] = {}
    custom: dict[int, tuple[int, int, bytes]] = {}

    for e in directory.entries:
        try:
            if e.tag == T.IMAGE_WIDTH:
                b["image_width"] = _decode_scalar_u32(e, bo)
            elif e.tag == T.IMAGE_LENGTH:
                b["image_length"] = _decode_scalar_u32(e, bo)
            elif e.tag == T.PHOTOMETRIC_INTERPRETATION:
                b["interpretation"] = _decode_scalar_u16(e, bo)
            elif e.tag == T.ROWS_PER_STRIP:
                b["rows_per_strip"] = _decode_scalar_u32(e, bo)
            elif e.tag == T.STRIP_OFFSETS:
                b["strip_offsets"] = _decode_vec_u64(e, bo)
            elif e.tag == T.STRIP_BYTE_COUNTS:
                b["strip_byte_counts"] = _decode_vec_u64(e, bo)
            elif e.tag == T.TILE_WIDTH:
                b["tile_width"] = _decode_scalar_u32(e, bo)
            elif e.tag == T.TILE_LENGTH:
                b["tile_length"] = _decode_scalar_u32(e, bo)
            elif e.tag == T.TILE_OFFSETS:
                b["tile_offsets"] = _decode_vec_u64(e, bo)
            elif e.tag == T.TILE_BYTE_COUNTS:
                b["tile_byte_counts"] = _decode_vec_u64(e, bo)
            elif e.tag == T.COMPRESSION:
                b["compression"] = _decode_scalar_u16(e, bo)
            elif e.tag == T.PREDICTOR:
                b["predictor"] = _decode_scalar_u16(e, bo)
            elif e.tag == T.NEW_SUBFILE_TYPE:
                b["subfile_type"] = _decode_only_u32(e, bo)
            elif e.tag == T.PLANAR_CONFIGURATION:
                b["planar"] = _decode_scalar_u16(e, bo)
            elif e.tag == T.XRESOLUTION:
                b["xresolution"] = _decode_rational(e, bo)
            elif e.tag == T.YRESOLUTION:
                b["yresolution"] = _decode_rational(e, bo)
            elif e.tag == T.RESOLUTION_UNIT:
                b["resolution_unit"] = _decode_scalar_u16(e, bo)
            elif e.tag == T.DATE_TIME:
                dt = _decode_string(e, bo)
                if not _DATETIME_RE.match(dt):
                    raise TiffError(
                        "Invalid date and time format, expected 'YYYY:MM:DD HH:MM:SS'"
                    )
                b["datetime"] = dt
            elif e.tag == T.SAMPLES_PER_PIXEL:
                b["samples_per_pixel"] = _decode_scalar_u16(e, bo)
            elif e.tag == T.BITS_PER_SAMPLE:
                b["bits_per_sample"] = _decode_vec_u16(e, bo)
            elif e.tag == T.SAMPLE_FORMAT:
                b["sample_format"] = _decode_vec_u16(e, bo)
            elif e.tag in _STRING_TAGS:
                b[_STRING_TAGS[e.tag]] = _decode_string(e, bo)
            else:
                custom[e.tag] = (e.dtype, e.count, e.raw)
        except TiffError as exc:
            # context wrapping as in metadata.rs:70-73 ("Invalid {tag}")
            raise TiffError(f"Invalid tag {e.tag}: {exc}") from exc

    # ---- validation + defaults (metadata.rs:576-761) ----
    width = b.get("image_width")
    if width is None:
        raise TiffError("Missing required tag ImageWidth")
    if width == 0:
        raise TiffError("Image width cannot be zero")
    height = b.get("image_length")
    if height is None:
        raise TiffError("Missing required tag ImageLength")
    if height == 0:
        raise TiffError("Image length cannot be zero")
    if "interpretation" not in b:
        raise TiffError("Missing required tag PhotometricInterpretation")

    has_strips = ("rows_per_strip" in b, "strip_offsets" in b, "strip_byte_counts" in b)
    has_tiles = (
        "tile_width" in b,
        "tile_length" in b,
        "tile_offsets" in b,
        "tile_byte_counts" in b,
    )
    if all(has_strips) and not any(has_tiles):
        if b["rows_per_strip"] == 0:
            raise TiffError("Rows per strip cannot be zero")
        layout = ("strips", width, b["rows_per_strip"])
        offsets, byte_counts = b["strip_offsets"], b["strip_byte_counts"]
    elif all(has_tiles) and not any(has_strips):
        if b["tile_width"] == 0:
            raise TiffError("Tile width cannot be zero")
        if b["tile_length"] == 0:
            raise TiffError("Tile length cannot be zero")
        layout = ("tiles", b["tile_width"], b["tile_length"])
        offsets, byte_counts = b["tile_offsets"], b["tile_byte_counts"]
    else:
        raise TiffError("Image layout is not clearly defined by image tags")

    if len(offsets) != len(byte_counts):
        raise TiffError("Number of strip/tiles offsets does not match number of byte counts")

    cw, ch = layout[1], layout[2]
    expected = _div_ceil(height, ch) * (1 if layout[0] == "strips" else _div_ceil(width, cw))
    if len(offsets) < expected:
        raise TiffError(
            "Number of strip/tiles offsets does not match expected chunk counts "
            f"for the given image dimensions: actual {len(offsets)}, expected {expected}"
        )

    spp = b.get("samples_per_pixel", 1)
    bits = b.get("bits_per_sample", [1] * spp)
    fmts = b.get("sample_format", [T.SAMPLE_UNSIGNED] * spp)
    if len(bits) != spp:
        raise TiffError(
            f"Number of bits per sample ({len(bits)}) does not match "
            f"number of samples per pixel ({spp})"
        )
    if len(fmts) != spp:
        raise TiffError(
            f"Number of sample formats ({len(fmts)}) does not match "
            f"number of samples per pixel ({spp})"
        )

    xres, yres = b.get("xresolution"), b.get("yresolution")
    if (xres is None) != (yres is None):
        raise TiffError("X and Y resolution must be both present or both absent")
    resolution = None
    if xres is not None:
        resolution = {
            "x_num": xres[0],
            "x_den": xres[1],
            "y_num": yres[0],
            "y_den": yres[1],
            "unit": b.get("resolution_unit", T.RESUNIT_INCH),
        }

    # GeoTIFF transform (ModelPixelScale, ModelTiepoint), parsed and checked
    # once here: consumers index scale[0:2] and tiepoint[0:2], [3:5] of
    # meta["geo"], which is None unless both tags are present
    geo = None
    if T.MODEL_PIXEL_SCALE in custom and T.MODEL_TIEPOINT in custom:
        geo = (
            _geo_values(custom, T.MODEL_PIXEL_SCALE, 2, bo),
            _geo_values(custom, T.MODEL_TIEPOINT, 5, bo),
        )

    return {
        "byteorder": bo,
        "width": width,
        "height": height,
        "interpretation": b["interpretation"],
        "layout_kind": layout[0],
        "chunk_w": cw,
        "chunk_h": ch,
        "offsets": offsets,
        "byte_counts": byte_counts,
        "expected_chunks": expected,
        "compression": b.get("compression", T.COMPRESSION_NONE),
        "predictor": b.get("predictor", T.PREDICTOR_NONE),
        "subfile_type": b.get("subfile_type", 0),
        "planar": b.get("planar", T.PLANAR_CHUNKY),
        "spp": spp,
        "bits": bits,
        "formats": fmts,
        "resolution": resolution,
        "artist": b.get("artist"),
        "copyright": b.get("copyright"),
        "host_computer": b.get("host_computer"),
        "description": b.get("description"),
        "software": b.get("software"),
        "datetime": b.get("datetime"),
        "custom": custom,
        "geo": geo,
    }


def _div_ceil(a: int, d: int) -> int:
    return -(-a // d)


def pixel_chunks(meta: dict[str, Any]) -> list[dict[str, int]]:
    """Chunk enumeration for *pixel decode*: planar-aware.

    Unlike chunk_grid (which is byte-faithful to the reference's
    build_nth_chunk, including the planar overflow quirk), this maps each
    planar chunk to its grid position within its plane: plane = idx //
    expected_chunks, grid index = idx % expected_chunks. Chunky files are
    identical to chunk_grid with plane=0.
    """
    w, h = meta["width"], meta["height"]
    cw, ch = meta["chunk_w"], meta["chunk_h"]
    nx = _div_ceil(w, cw)
    expected = meta["expected_chunks"]
    out = []
    for i, (off, nb) in enumerate(zip(meta["offsets"], meta["byte_counts"])):
        gi = i % expected
        ox = (gi % nx) * cw
        oy = (gi // nx) * ch
        out.append(
            {
                "chunk_idx": i,
                "plane": i // expected,
                "origin_x": ox,
                "origin_y": oy,
                "size_x": max(0, min(cw, w - ox)),
                "size_y": max(0, min(ch, h - oy)),
                "offset": off,
                "nbytes": nb,
            }
        )
    return out


def decode_metadata(buf: bytes, page: int = 0) -> dict[str, Any]:
    bo, _version, dirs = walk_directories(buf)
    if page >= len(dirs):
        raise TiffError(f"Page {page} not present ({len(dirs)} directories)")
    return build_metadata(dirs[page], bo)


def decode_all_pages(buf: bytes) -> list[dict[str, Any]]:
    bo, _version, dirs = walk_directories(buf)
    return [build_metadata(d, bo) for d in dirs]


def chunk_grid(meta: dict[str, Any]) -> list[dict[str, int]]:
    """Enumerates chunks exactly as Chunks::build_nth_chunk (metadata.rs:219-243).

    Planar overflow chunks clip to zero-height rectangles (SURVEY.md §1.1.4).
    """
    w, h = meta["width"], meta["height"]
    cw, ch = meta["chunk_w"], meta["chunk_h"]
    nx = _div_ceil(w, cw)
    out = []
    for i, (off, nb) in enumerate(zip(meta["offsets"], meta["byte_counts"])):
        ox = (i % nx) * cw
        oy = (i // nx) * ch
        sx = max(0, min(cw, w - ox))
        sy = max(0, min(ch, h - oy))
        out.append(
            {
                "chunk_idx": i,
                "origin_x": ox,
                "origin_y": oy,
                "size_x": sx,
                "size_y": sy,
                "offset": off,
                "nbytes": nb,
            }
        )
    return out


def parse_geokeys(meta: dict[str, Any]) -> dict[str, Any] | None:
    """GeoKeyDirectory (34735) decode: header {version, rev, minor, N} then N
    rows {key_id, tag_location, count, value}; inline SHORT values when
    tag_location == 0, otherwise resolved from GeoDoubleParams (34736) /
    GeoAsciiParams (34737). The reference parses these tags generically as
    custom entries (tag.rs:174-186); the GeoTIFF key semantics are ours.

    Returns {"model_type", "raster_type", "epsg", "citation"} (missing keys
    None) or None when the directory tag is absent.
    """
    custom = meta["custom"]
    kd = custom.get(T.GEO_KEY_DIRECTORY)
    if kd is None:
        return None
    bo = meta["byteorder"]
    if kd[0] != T.DTYPE_SHORT:
        raise TiffError(f"Invalid tag {T.GEO_KEY_DIRECTORY}: non-SHORT dtype {kd[0]}")
    shorts = entry_value(*kd, bo)
    if len(shorts) < 4:
        raise TiffError("GeoKeyDirectory shorter than its 4-short header")
    n_keys = shorts[3]
    if len(shorts) < 4 + 4 * n_keys:
        raise TiffError(
            f"GeoKeyDirectory header claims {n_keys} keys but carries "
            f"{(len(shorts) - 4) // 4}"
        )
    out: dict[str, Any] = {
        "model_type": None, "raster_type": None, "epsg": None, "citation": None,
    }
    ascii_params = None
    ga = custom.get(T.GEO_ASCII_PARAMS)
    if ga is not None:
        if ga[0] != T.DTYPE_ASCII:
            raise TiffError(f"Invalid tag {T.GEO_ASCII_PARAMS}: non-ASCII dtype {ga[0]}")
        ascii_params = entry_value(*ga, bo)
    names = {1024: "model_type", 1025: "raster_type", 2048: "epsg", 1026: "citation"}
    for i in range(n_keys):
        key_id, loc, count, value = shorts[4 + 4 * i : 8 + 4 * i]
        name = names.get(key_id)
        if name is None:
            continue
        if loc == 0:
            out[name] = int(value)
        elif loc == T.GEO_ASCII_PARAMS and ascii_params is not None:
            # '|' is the GeoTIFF ascii-key terminator
            out[name] = ascii_params[value : value + count].rstrip("|")
    return out


def ratio_cmp(a: tuple[int, int], b: tuple[int, int]) -> int:
    """Exact ordering of two rationals (num, den) — overflow-free and
    float-free, reproducing the reference's continued-fraction comparison
    built on floored division (ratio.rs:26-76; Python's divmod IS floored,
    matching its div_mod_floor table, ratio.rs:146-158). Rationals from TIFF
    tags are stored as (num, den) and never pre-divided (the CLI divides only
    at print time), so sorts by e.g. resolution must use this, not floats.

    Reproduces the reference's Ord branch-for-branch, INCLUDING its
    equal-numerator shortcut quirk for mixed-sign denominators (ratio.rs:
    36-47 reverses the den comparison for positive numerators regardless of
    den signs) — fidelity over mathematical ordering on that edge.

    Returns -1 / 0 / 1.
    """
    an, ad = int(a[0]), int(a[1])
    bn, bd = int(b[0]), int(b[1])
    while True:
        if ad == bd:
            # equal denominators INCLUDING zero: plain (sign-adjusted)
            # numerator comparison, exactly as ratio.rs:28-35 — the reference
            # only divides (and would panic) when denominators differ
            c = (an > bn) - (an < bn)
            return -c if ad < 0 else c
        if an == bn:
            if an == 0:
                return 0
            c = (ad > bd) - (ad < bd)
            return c if an < 0 else -c
        if ad == 0 or bd == 0:
            raise ZeroDivisionError("ratio with zero denominator")
        ai, ar = divmod(an, ad)
        bi, br = divmod(bn, bd)
        if ai != bi:
            return (ai > bi) - (ai < bi)
        if ar == 0 and br == 0:
            return 0
        if ar == 0:
            return -1
        if br == 0:
            return 1
        # continued fraction: compare reciprocals of the remainders, reversed
        an, ad, bn, bd = bd, br, ad, ar
