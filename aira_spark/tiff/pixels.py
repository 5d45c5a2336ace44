"""Chunk payload decode: decompression, predictor inversion, typed pixels.

Semantics reproduced from the reference (numpy-vectorized, not translated):

- decompression dispatch       -> /root/reference/crates/aira-tiff/src/compression.rs:87-122
  (None / PackBits / Deflate incl. legacy 32946; CCITT/LZW/JPEG are errors,
   compression.rs:100-104 — same here)
- PackBits                     -> compression/packbits.rs:28-102 (EOF-tolerant)
- integer predictor inverse    -> predictor/int.rs (per-row wrapping cumsum with
   stride = samples, endian fixed in the same pass)
- float predictor inverse      -> predictor/float.rs:47-86 (byte-level cumsum with
   stride = samples, then byte-plane de-interleave, MSB plane first)
"""

from __future__ import annotations

import zlib

import numpy as np

from . import tags as T
from .meta import TiffError


def unpackbits(data: bytes) -> bytes:
    """Apple PackBits decode, EOF-tolerant (packbits.rs:40-51)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        ctrl = data[i]
        i += 1
        if ctrl == 128:  # -128: no-op
            continue
        if ctrl > 128:  # -127..-1: repeat next byte (1 + -ctrl) times
            if i >= n:
                break  # EOF mid-run: return what we have
            out.extend(data[i : i + 1] * (257 - ctrl))
            i += 1
        else:  # 0..127: literal run of ctrl+1 bytes
            take = min(ctrl + 1, n - i)
            out.extend(data[i : i + take])
            i += take
    return bytes(out)


def packbits(data: bytes) -> bytes:
    """PackBits encoder (for the synthetic generator; round-trips unpackbits)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # find run length of identical bytes
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(data[i])
            i += run
        else:
            # literal run until next >=3 repeat or 128 bytes
            start = i
            i += 1
            while i < n and (i - start) < 128:
                if i + 2 < n and data[i] == data[i + 1] == data[i + 2]:
                    break
                i += 1
            out.append(i - start - 1)
            out.extend(data[start:i])
    return bytes(out)


def decompress(data: bytes, compression: int) -> bytes:
    if compression == T.COMPRESSION_NONE:
        return data
    if compression == T.COMPRESSION_PACKBITS:
        return unpackbits(data)
    if compression in (T.COMPRESSION_DEFLATE, T.COMPRESSION_LEGACY_DEFLATE):
        try:
            return zlib.decompress(data)
        except zlib.error as exc:
            # a truncated or corrupt stream is a dead letter, not a task crash
            raise TiffError(f"Invalid deflate stream: {exc}") from exc
    raise TiffError(f"Unsupported compression {compression}")


def compress(data: bytes, compression: int) -> bytes:
    if compression == T.COMPRESSION_NONE:
        return data
    if compression == T.COMPRESSION_PACKBITS:
        return packbits(data)
    if compression in (T.COMPRESSION_DEFLATE, T.COMPRESSION_LEGACY_DEFLATE):
        return zlib.compress(data)
    raise TiffError(f"Unsupported compression {compression}")


def sample_dtype(fmt: int, bits: int) -> np.dtype:
    kind = T.SAMPLE_DTYPE_KIND.get((fmt, bits))
    if kind is None:
        raise TiffError(f"Cannot decode samples with format {fmt}, {bits} bits")
    return np.dtype(kind)


def undo_int_predictor(raw: bytes, bo: str, ncols: int, samples: int, dtype: np.dtype) -> np.ndarray:
    """Inverse horizontal differencing over full rows.

    out[col] = out[col-1] + in[col] per sample channel, wrapping modulo 2^bits
    (predictor/int.rs:170-262). Returns native-endian (nrows, ncols*samples).
    """
    itemsize = dtype.itemsize
    row_elems = ncols * samples
    row_bytes = row_elems * itemsize
    if row_bytes == 0 or len(raw) % row_bytes != 0:
        raise TiffError("Chunk payload is not a whole number of rows")
    nrows = len(raw) // row_bytes
    # decode in the file's byteorder, then convert values to native
    arr = np.frombuffer(raw, dtype=dtype.newbyteorder(bo)).reshape(nrows, ncols, samples)
    # wrapping cumsum: use the matching unsigned dtype (modular by construction)
    ukind = np.dtype(f"u{itemsize}")
    acc = arr.astype(arr.dtype.newbyteorder("="), copy=True).view(ukind)
    np.cumsum(acc, axis=1, dtype=ukind, out=acc)
    return acc.view(np.dtype(f"{dtype.kind}{itemsize}")).reshape(nrows, row_elems)


def undo_float_predictor(raw: bytes, ncols: int, samples: int, itemsize: int) -> np.ndarray:
    """Inverse floating-point predictor (predictor/float.rs:47-86).

    Per row: byte-level wrapping cumsum with stride=samples, then de-interleave
    byte planes (plane 0 = most significant byte) into native-endian floats.
    Returns (nrows, ncols*samples) float array.
    """
    row_bytes = ncols * samples * itemsize
    if row_bytes == 0 or len(raw) % row_bytes != 0:
        raise TiffError("Chunk payload is not a whole number of rows")
    nrows = len(raw) // row_bytes
    b = np.frombuffer(raw, dtype=np.uint8).reshape(nrows, row_bytes // samples, samples)
    acc = np.cumsum(b, axis=1, dtype=np.uint8).reshape(nrows, row_bytes)
    # planes[p] holds byte p (big-endian order) of every element in the row
    planes = acc.reshape(nrows, itemsize, ncols * samples)
    be = np.ascontiguousarray(planes.transpose(0, 2, 1)).reshape(nrows, row_bytes)
    fdt = np.dtype(f">f{itemsize}")
    return be.view(fdt).astype(fdt.newbyteorder("="))


def decode_chunk(
    payload: bytes,
    meta: dict,
    chunk_idx: int,
    size_x: int,
    size_y: int,
) -> np.ndarray:
    """Full chunk decode: decompress -> predictor/endian -> crop padding.

    Returns (size_y, size_x, chunk_samples) native array; chunk_samples == spp
    for chunky files and 1 for planar (one plane per chunk set,
    metadata.rs:661-667). Tile payloads are padded to the full tile rectangle
    per the TIFF spec; strips carry full-width rows.
    """
    spp = meta["spp"]
    planar = meta["planar"] == T.PLANAR_PLANAR
    csamp = 1 if planar else spp
    fmt0, bits0 = meta["formats"][0], meta["bits"][0]
    if planar:
        plane = chunk_idx // meta["expected_chunks"]
        fmt0, bits0 = meta["formats"][plane], meta["bits"][plane]
    dtype = sample_dtype(fmt0, bits0)

    raw = decompress(payload, meta["compression"])
    if meta["layout_kind"] == "tiles":
        ncols, nrows_full = meta["chunk_w"], meta["chunk_h"]
    else:
        ncols = meta["width"]
        nrows_full = size_y

    pred = meta["predictor"]
    if pred == T.PREDICTOR_FLOAT:
        if dtype.kind != "f":
            raise TiffError("Floating point predictor on non-float samples")
        rows = undo_float_predictor(raw, ncols, csamp, dtype.itemsize)
    elif pred == T.PREDICTOR_HORIZONTAL:
        rows = undo_int_predictor(raw, meta["byteorder"], ncols, csamp, dtype)
    elif pred == T.PREDICTOR_NONE:
        arr = np.frombuffer(raw, dtype=dtype.newbyteorder(meta["byteorder"]))
        row_elems = ncols * csamp
        if row_elems == 0 or arr.size % row_elems != 0:
            raise TiffError("Chunk payload is not a whole number of rows")
        rows = arr.astype(dtype.newbyteorder("=")).reshape(-1, row_elems)
    else:
        raise TiffError(f"Unsupported predictor {pred}")

    if rows.shape[0] < size_y:
        raise TiffError(
            f"Chunk has {rows.shape[0]} rows, expected at least {size_y}"
        )
    px = rows.reshape(rows.shape[0], ncols, csamp)
    return np.ascontiguousarray(px[:size_y, :size_x, :])


def apply_int_predictor(px_rows: np.ndarray) -> np.ndarray:
    """Forward horizontal differencing (encoder side). px_rows: (rows, cols, samples)."""
    u = px_rows.view(np.dtype(f"u{px_rows.dtype.itemsize}"))
    out = u.copy()
    out[:, 1:, :] = u[:, 1:, :] - u[:, :-1, :]
    return out.view(px_rows.dtype)


def apply_float_predictor(px_rows: np.ndarray) -> np.ndarray:
    """Forward float predictor: interleave -> byte planes (MSB first) -> diff.

    px_rows: (rows, cols, samples) float array; returns (rows, row_bytes) uint8.
    """
    nrows, ncols, samples = px_rows.shape
    itemsize = px_rows.dtype.itemsize
    be = px_rows.astype(px_rows.dtype.newbyteorder(">")).reshape(nrows, ncols * samples)
    byts = be.view(np.uint8).reshape(nrows, ncols * samples, itemsize)
    planes = np.ascontiguousarray(byts.transpose(0, 2, 1)).reshape(nrows, -1)
    # difference with stride = samples
    p = planes.reshape(nrows, -1, samples)
    out = p.copy()
    out[:, 1:, :] = p[:, 1:, :] - p[:, :-1, :]
    return out.reshape(nrows, -1)


def psnr(a: np.ndarray, b: np.ndarray, peak: float | None = None) -> float:
    """Peak signal-to-noise ratio in dB (correctness gate for lossy fmt)."""
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = float(np.mean((a - b) ** 2))
    if mse == 0.0:
        return float("inf")
    if peak is None:
        peak = float(max(a.max(), b.max()) - min(a.min(), b.min())) or 1.0
    return 10.0 * np.log10(peak * peak / mse)
