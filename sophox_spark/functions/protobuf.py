"""Protobuf wire codec shared by the OSM PBF source and the MVT tile sink.

Both formats are protobuf messages (wire format spec:
https://protobuf.dev/programming-guides/encoding/). This module holds the
wire layer once; the format modules (``sources/pbf.py``,
``operators/mvt.py``) keep only their message layouts.

* encoders: ``varint`` (LEB128, masked to 64 bits), ``zigzag`` (sint64,
  wrapping), ``key``, ``len_delim`` and ``packed`` (the only repeated
  encoding either format emits)
* decoder: ``read_field`` is the one wire-type dispatch and ``fields`` a
  loop over it; ``decode_packed_u64`` decodes a packed varint run with
  numpy

Every read is bounds-checked: a varint that runs past the end or over 10
bytes, or a LEN, I32 or I64 payload that runs past the end of its message,
raises ``DecodeError`` instead of decoding into wrong values.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np

VARINT = 0
I64 = 1
LEN = 2
I32 = 5

_MASK64 = (1 << 64) - 1


class DecodeError(ValueError):
    """Malformed protobuf wire data: truncated or over-long."""


# ---------------------------------------------------------------------------
# encoders
# ---------------------------------------------------------------------------


def varint(n: int) -> bytes:
    """Unsigned LEB128 (values are masked to 64 bits like protobuf)."""
    n &= _MASK64
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def wrap64(n: int) -> int:
    """Two's-complement wrap to int64 — protobuf sint64 semantics; delta
    chains whose jumps exceed ±2^63 wrap on encode and unwrap on decode."""
    return ((n + (1 << 63)) & _MASK64) - (1 << 63)


def zigzag(n: int) -> int:
    n = wrap64(n)
    return ((n << 1) ^ (n >> 63)) & _MASK64


def key(field: int, wt: int) -> bytes:
    return varint((field << 3) | wt)


def len_delim(field: int, payload: bytes) -> bytes:
    return key(field, LEN) + varint(len(payload)) + payload


def packed(field: int, values, signed: bool = False, delta: bool = False) -> bytes:
    """Packed repeated scalar field; ``delta`` stores successive
    differences, ``signed`` zigzag-encodes them."""
    vals = [int(v) for v in values]
    if delta:
        prev = 0
        deltas = []
        for v in vals:
            deltas.append(v - prev)
            prev = v
        vals = deltas
    if signed:
        vals = [zigzag(v) for v in vals]
    return len_delim(field, b"".join(varint(v) for v in vals))


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def read_varint(buf, pos: int, end: int | None = None) -> tuple[int, int]:
    """(value, next pos) of the varint at ``pos``; it must end before
    ``end`` (default ``len(buf)``) and within 10 bytes."""
    if end is None:
        end = len(buf)
    if pos < end and buf[pos] < 0x80:  # one byte: most tags and values
        return buf[pos], pos + 1
    result = shift = 0
    while pos < end:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if b < 0x80:
            return result & _MASK64, pos
        shift += 7
        if shift == 70:
            raise DecodeError("varint too long")
    raise DecodeError("truncated varint")


def read_field(view, pos: int, end: int) -> tuple[int, int, object, int]:
    """(field, wire_type, value, next pos) of the field at ``pos``.

    VARINT values are ints; LEN, I64 and I32 values are slices of
    ``view`` (a memoryview slice costs no copy)."""
    tag, pos = read_varint(view, pos, end)
    wt = tag & 7
    if wt == VARINT:
        val, pos = read_varint(view, pos, end)
        return tag >> 3, wt, val, pos
    if wt == LEN:
        n, pos = read_varint(view, pos, end)
        what = "length-delimited"
    elif wt == I32:
        n, what = 4, "fixed32"
    elif wt == I64:
        n, what = 8, "fixed64"
    else:
        raise DecodeError(f"unsupported wire type {wt}")
    stop = pos + n
    if stop > end:
        raise DecodeError(f"truncated {what} field")
    return tag >> 3, wt, view[pos:stop], stop


def fields(buf) -> Iterator[tuple[int, int, object]]:
    """(field, wire_type, value) of each field of one message."""
    view = memoryview(buf)
    pos, end = 0, len(view)
    while pos < end:
        field, wt, val, pos = read_field(view, pos, end)
        yield field, wt, val


def unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def unzigzag64(v: np.ndarray) -> np.ndarray:
    """Vectorized zigzag decode of a uint64 array → int64."""
    return ((v >> np.uint64(1)).astype(np.int64)) ^ -(v & np.uint64(1)).astype(
        np.int64
    )


def decode_varints(data) -> list[int]:
    """A packed varint run → its values, one ``read_varint`` each."""
    out = []
    view = memoryview(data)
    pos, n = 0, len(view)
    while pos < n:
        v, pos = read_varint(view, pos, n)
        out.append(v)
    return out


def decode_packed_u64(data) -> np.ndarray:
    """Vectorized packed-varint decode → uint64 array.

    Groups bytes at continuation-bit boundaries and folds each group with
    ``np.add.reduceat`` — no per-value Python loop. Bits past 64 wrap,
    matching protobuf 64-bit truncation. Tiny runs (way refs, tag key/val
    ids — a handful of bytes) skip numpy entirely: array setup overhead
    dominates below ~64 bytes (measured 1.7× overall decode speedup).
    """
    if len(data) <= 64:
        return np.array(decode_varints(data), np.uint64)
    b = np.frombuffer(data, np.uint8)
    if b[-1] & 0x80:
        raise DecodeError("truncated varint")
    is_end = b < 0x80
    idx = np.arange(b.size, dtype=np.int64)
    # group id for every byte: number of completed varints before it
    grp = np.zeros(b.size, np.int64)
    np.cumsum(is_end[:-1], out=grp[1:])
    starts = np.empty(int(is_end.sum()), np.int64)
    starts[0] = 0
    np.copyto(starts[1:], idx[is_end][:-1] + 1)
    nth = idx - starts[grp]  # byte index within its varint
    if nth.max() >= 10:
        raise DecodeError("varint too long")
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (nth * 7).astype(np.uint64)
    return np.add.reduceat(contrib, starts)
