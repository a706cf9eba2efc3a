"""Native (C) codec kernels: byte-exact equivalence with the pure
Python/numpy reference paths, and graceful fallback when absent."""

import struct
import zlib

import numpy as np
import pytest

from sophox_spark.functions import _native, jpeg, png


def _force_python(monkeypatch):
    monkeypatch.setattr(_native, "_lib", None)
    monkeypatch.setattr(_native, "_tried", True)


def _png_encode(img, filters, rng):
    h, w, c = img.shape
    stride = w * c
    raw = bytearray()
    prev = np.zeros(stride, np.int16)
    for y in range(h):
        f = int(filters[y])
        line = img[y].reshape(-1).astype(np.int16)
        lft = np.zeros(stride, np.int16)
        lft[c:] = line[:-c]
        ulft = np.zeros(stride, np.int16)
        ulft[c:] = prev[:-c]
        if f == 0:
            pr = np.zeros(stride, np.int16)
        elif f == 1:
            pr = lft
        elif f == 2:
            pr = prev
        elif f == 3:
            pr = (lft + prev) >> 1
        else:
            pp = lft + prev - ulft
            pa, pb, pc = np.abs(pp - lft), np.abs(pp - prev), np.abs(pp - ulft)
            pr = np.where(
                (pa <= pb) & (pa <= pc), lft, np.where(pb <= pc, prev, ulft)
            )
        raw.append(f)
        raw.extend(((line - pr) & 0xFF).astype(np.uint8).tobytes())
        prev = line
    ct = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + png._chunk(b"IHDR", ihdr)
        + png._chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + png._chunk(b"IEND", b"")
    )


class TestNativePng:
    def test_available_here(self):
        # the sandbox ships gcc; elsewhere the fallback covers it
        assert _native.get_lib() is not None

    def test_unfilter_matches_python_paths(self):
        rng = np.random.default_rng(11)
        for _ in range(10):
            h = int(rng.integers(1, 50))
            w = int(rng.integers(1, 50))
            c = int(rng.choice([1, 2, 3, 4]))
            img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
            filters = rng.integers(0, 5, h)
            enc = _png_encode(img, filters, rng)
            got = png.decode(enc).reshape(h, w, c)
            assert np.array_equal(got, img)

    def test_fallback_identical(self, monkeypatch):
        rng = np.random.default_rng(12)
        img = rng.integers(0, 256, (20, 17, 3), dtype=np.uint8)
        enc = _png_encode(img, rng.integers(0, 5, 20), rng)
        with_native = png.decode(enc)
        _force_python(monkeypatch)
        assert np.array_equal(png.decode(enc), with_native)


class TestNativeJpeg:
    @pytest.mark.parametrize("progressive", [False, True])
    def test_decode_matches_python(self, monkeypatch, progressive):
        rng = np.random.default_rng(13)
        for trial in range(6):
            h = int(rng.integers(8, 90))
            w = int(rng.integers(8, 90))
            gray = trial % 3 == 0
            im = rng.integers(
                0, 256, (h, w) if gray else (h, w, 3), dtype=np.uint8
            )
            mode = ["444", "422", "420"][trial % 3]
            ri = 0 if progressive else [0, 2, 5][trial % 3]
            enc = jpeg.encode(
                im, mode, restart_interval=ri, progressive=progressive
            )
            native = jpeg.decode(enc)
            sv_lib, sv_tried = _native._lib, _native._tried
            try:
                _native._lib, _native._tried = None, True
                pure = jpeg.decode(enc)
            finally:
                _native._lib, _native._tried = sv_lib, sv_tried
            assert np.array_equal(native, pure)

    def test_error_message_parity(self):
        # missing restart segment must raise the SAME message natively
        im = np.full((32, 32, 3), 128, np.uint8)
        enc = jpeg.encode(im, "444", restart_interval=1)
        # drop everything after the first RSTn marker
        i = enc.find(b"\xff\xd0")
        bad = enc[:i] + b"\xff\xd9"
        with pytest.raises(jpeg.JpegFormatError, match="restart"):
            jpeg.decode(bad)


class TestNativeLogging:
    def _records(self, caplog):
        return [r for r in caplog.records if r.name == "sophox_spark.native"]

    def test_fallback_logged_once(self, monkeypatch, caplog):
        monkeypatch.setattr(_native, "_lib", None)
        monkeypatch.setattr(_native, "_tried", False)
        monkeypatch.setattr(_native, "_self_test", lambda lib: False)
        caplog.set_level("INFO", logger="sophox_spark.native")
        assert all(_native.get_lib() is None for _ in range(3))
        recs = self._records(caplog)
        assert [r.levelname for r in recs] == ["WARNING"]
        assert "self-test" in recs[0].getMessage()

    def test_load_logged_once(self, monkeypatch, caplog):
        monkeypatch.setattr(_native, "_lib", None)
        monkeypatch.setattr(_native, "_tried", False)
        caplog.set_level("INFO", logger="sophox_spark.native")
        assert all(_native.get_lib() is not None for _ in range(3))
        assert [r.levelname for r in self._records(caplog)] == ["INFO"]
