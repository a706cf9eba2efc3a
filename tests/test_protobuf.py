"""Protobuf wire codec (functions/protobuf.py) shared by PBF and MVT:
round trips at the 64-bit edges, and every truncation raises the codec's
error instead of decoding into wrong values."""

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from sophox_spark.functions import protobuf

INT64_MIN, INT64_MAX = -(2**63), 2**63 - 1


class TestRoundtrip:
    @given(st.integers(min_value=0, max_value=2**64 - 1))
    @example(0)
    @example(2**63)
    @example(2**64 - 1)
    @settings(max_examples=500, deadline=None)
    def test_uint64(self, v):
        data = protobuf.varint(v)
        assert len(data) <= 10
        assert protobuf.read_varint(data, 0) == (v, len(data))
        assert protobuf.decode_varints(data * 3) == [v] * 3

    @given(st.integers(min_value=INT64_MIN, max_value=INT64_MAX))
    @example(INT64_MAX)
    @example(-INT64_MAX)
    @example(INT64_MIN)
    @example(-1)
    @settings(max_examples=500, deadline=None)
    def test_int64_zigzag(self, v):
        data = protobuf.varint(protobuf.zigzag(v))
        u, pos = protobuf.read_varint(data, 0)
        assert pos == len(data)
        assert protobuf.unzigzag(u) == v
        got = protobuf.unzigzag64(np.array([u], np.uint64))
        assert got.tolist() == [v]

    @given(st.lists(st.integers(min_value=INT64_MIN, max_value=INT64_MAX),
                    min_size=1, max_size=40))
    @example([INT64_MAX, INT64_MIN, -INT64_MAX] * 10)
    @settings(max_examples=200, deadline=None)
    def test_packed_zigzag_both_paths(self, vals):
        # runs of more than 64 bytes take the numpy path, shorter ones
        # the per-varint loop; both decode the same values
        payload = b"".join(protobuf.varint(protobuf.zigzag(v)) for v in vals)
        got = protobuf.unzigzag64(protobuf.decode_packed_u64(payload))
        assert got.tolist() == vals


def _message() -> tuple[bytes, list[int]]:
    """One field of every wire type, multi-byte keys and values included;
    returns the bytes and the offset where each field ends."""
    parts = [
        protobuf.key(1, protobuf.VARINT) + protobuf.varint(150),
        protobuf.len_delim(2, b"hello"),
        protobuf.key(3, protobuf.I32) + b"\x01\x02\x03\x04",
        protobuf.key(4, protobuf.I64) + bytes(range(8)),
        protobuf.key(17, protobuf.VARINT) + protobuf.varint(2**64 - 1),
        protobuf.packed(20, [1, 300, 2**40], signed=True, delta=True),
        protobuf.len_delim(2000, b""),
    ]
    ends, pos = [], 0
    for p in parts:
        pos += len(p)
        ends.append(pos)
    return b"".join(parts), ends


class TestTruncation:
    def test_every_cut(self):
        data, ends = _message()
        whole = [(f, wt, v if isinstance(v, int) else bytes(v))
                 for f, wt, v in protobuf.fields(data)]
        assert [f for f, _wt, _v in whole] == [1, 2, 3, 4, 17, 20, 2000]
        assert whole[0][2] == 150 and whole[4][2] == 2**64 - 1
        for cut in range(len(data) + 1):
            if cut == 0 or cut in ends:
                got = [(f, wt, v if isinstance(v, int) else bytes(v))
                       for f, wt, v in protobuf.fields(data[:cut])]
                assert got == whole[: ends.index(cut) + 1 if cut else 0]
            else:
                with pytest.raises(protobuf.DecodeError, match="truncated"):
                    list(protobuf.fields(data[:cut]))

    def test_read_field_respects_end(self):
        # a field that fits the buffer but not the window [pos, end)
        data = protobuf.len_delim(2, b"abcdef") + protobuf.len_delim(3, b"x")
        with pytest.raises(protobuf.DecodeError, match="length-delimited"):
            protobuf.read_field(memoryview(data), 0, 5)
        f, wt, val, pos = protobuf.read_field(memoryview(data), 0, len(data))
        assert (f, wt, bytes(val), pos) == (2, protobuf.LEN, b"abcdef", 8)

    @pytest.mark.parametrize("n", [3, 40])  # the loop and the numpy path
    def test_packed_run_cut_mid_varint(self, n):
        run = b"".join(protobuf.varint(2**40 + i) for i in range(n))
        assert len(protobuf.decode_packed_u64(run)) == n
        with pytest.raises(protobuf.DecodeError, match="truncated varint"):
            protobuf.decode_packed_u64(run[:-1])

    @pytest.mark.parametrize("pad", [0, 70])  # the loop and the numpy path
    def test_varint_over_ten_bytes(self, pad):
        run = b"\x01" * pad + b"\xff" * 10 + b"\x01"
        with pytest.raises(protobuf.DecodeError, match="varint too long"):
            protobuf.decode_packed_u64(run)
        ten = b"\x01" * pad + b"\xff" * 9 + b"\x01"
        assert protobuf.decode_packed_u64(ten)[-1] == 2**64 - 1

    def test_unsupported_wire_type(self):
        with pytest.raises(protobuf.DecodeError, match="wire type 3"):
            list(protobuf.fields(protobuf.key(1, 3)))
