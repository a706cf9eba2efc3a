"""Optional C fast-path kernels, compiled once with the host toolchain
(plain ``gcc -O3 -shared``) and loaded via ctypes.

Motivation (optimization guide §4.2): the per-element-sequential codec
inner loops — PNG's left-neighbor unfilter recurrence and JPEG's
Huffman bit-reader — cannot be expressed as whole-array numpy ops, so
they run as Python-interpreted byte loops (or as the wavefront
decomposition whose per-step numpy overhead dominates at realistic
image sizes). A ~hundred-line C translation of the SAME integer
algorithms runs them at memory speed.

STRICT FALLBACK CONTRACT: the kernels are a pure accelerator. If no
compiler is present, compilation fails, the library fails to load, or
the load-time self-test does not produce byte-identical output, every
caller keeps its pure-Python/numpy path (which remains the equivalence
oracle in tests). The outcome is logged once on the
``sophox_spark.native`` logger: INFO when loaded, WARNING with the
reason on fallback. The compiled object is cached in the
system temp dir keyed by a hash of the C source; concurrent compiles
(e.g. 32 Spark python workers on first use) race benignly — each
writes its own temp file and ``os.replace``s it atomically.
"""

from __future__ import annotations

import ctypes
import hashlib
import logging
import os
import subprocess
import tempfile
import threading

import numpy as np

_C_SRC = r"""
#include <string.h>

/* PNG scanline unfilter (PNG spec 9.2), byte-exact port of
   png._unfilter_rowwise: rows = height x (1+stride) raw scanline
   bytes (leading filter byte per row), out = height x stride.
   Returns 0, or 1 on an unknown filter type (caller raises). */
int png_unfilter(const unsigned char *rows, long height, long stride,
                 long bpp, unsigned char *out) {
    for (long y = 0; y < height; y++) {
        const unsigned char *line = rows + y * (stride + 1) + 1;
        unsigned char *o = out + y * stride;
        const unsigned char *prev = y ? o - stride : 0;
        long x;
        switch (rows[y * (stride + 1)]) {
        case 0:
            memcpy(o, line, (size_t)stride);
            break;
        case 1: /* Sub */
            for (x = 0; x < bpp && x < stride; x++) o[x] = line[x];
            for (; x < stride; x++)
                o[x] = (unsigned char)(line[x] + o[x - bpp]);
            break;
        case 2: /* Up */
            if (prev)
                for (x = 0; x < stride; x++)
                    o[x] = (unsigned char)(line[x] + prev[x]);
            else
                memcpy(o, line, (size_t)stride);
            break;
        case 3: /* Average */
            for (x = 0; x < bpp && x < stride; x++)
                o[x] = (unsigned char)(line[x] + ((prev ? prev[x] : 0) >> 1));
            for (; x < stride; x++) {
                int b = prev ? prev[x] : 0;
                o[x] = (unsigned char)(line[x] + ((o[x - bpp] + b) >> 1));
            }
            break;
        case 4: /* Paeth */
            for (x = 0; x < bpp && x < stride; x++)
                o[x] = (unsigned char)(line[x] + (prev ? prev[x] : 0));
            for (; x < stride; x++) {
                int a = o[x - bpp];
                int b = prev ? prev[x] : 0;
                int c = prev ? prev[x - bpp] : 0;
                int pa = b - c; if (pa < 0) pa = -pa;
                int pb = a - c; if (pb < 0) pb = -pb;
                int pc = a + b - c - c; if (pc < 0) pc = -pc;
                int pred = (pa <= pb && pa <= pc) ? a : (pb <= pc ? b : c);
                o[x] = (unsigned char)(line[x] + pred);
            }
            break;
        default:
            return 1;
        }
    }
    return 0;
}

/* ---- JPEG entropy decode (T.81 F.2 / G.1.2), ports of jpeg.py's
   _scan_dc_ac / _scan_ac_first / _scan_ac_refine inner loops.
   Bit reader identical to _window32 semantics: a 32-bit big-endian
   window at byte pos>>3 of the ZERO-PADDED segment. Error codes:
   -1 invalid Huffman code, -2 entropy data exhausted, -3 AC run past
   block end, -4 ZRL past block end, -5 missing restart segment,
   -6 AC run past band end, -7 refinement magnitude must be 1,
   -9 output capacity (never: caller sizes exactly). */

static unsigned int jx_peek16(const unsigned char *b, long long pos) {
    long long i = pos >> 3;
    unsigned int w = ((unsigned int)b[i] << 24) | ((unsigned int)b[i + 1] << 16)
                   | ((unsigned int)b[i + 2] << 8) | (unsigned int)b[i + 3];
    return (w >> (16 - (pos & 7))) & 0xFFFFu;
}

static int jx_bits(const unsigned char *b, long long pos, int t) {
    long long i = pos >> 3;
    unsigned int w = ((unsigned int)b[i] << 24) | ((unsigned int)b[i + 1] << 16)
                   | ((unsigned int)b[i + 2] << 8) | (unsigned int)b[i + 3];
    return (int)((w >> (32 - (pos & 7) - t)) & ((1u << t) - 1u));
}

long long jpeg_scan_dc_ac(
    const unsigned char *segb, const long long *seg_start,
    const long long *seg_bits, long n_segs,
    const int *luts,
    const long long *ent_ci, const long long *ent_a, const long long *ent_b,
    const long long *ent_c0, const long long *ent_dc, const long long *ent_ac,
    long n_entries, long ncomp, long ux, long uy, long ri, int al,
    unsigned char *out_comp, long long *out_idx, int *out_val,
    long long cap) {
    long long preds[8];
    long ci;
    for (ci = 0; ci < ncomp; ci++) preds[ci] = 0;
    long si = 0;
    if (n_segs < 1) return -5;
    const unsigned char *w = segb + seg_start[0];
    long long total = seg_bits[0];
    long long pos = 0, n = 0;
    long mux = 0, muy = 0;
    long n_units = ux * uy;
    for (long m = 0; m < n_units; m++) {
        if (ri && m && m % ri == 0) {
            if (pos > total) return -2;
            si++;
            if (si >= n_segs) return -5;
            w = segb + seg_start[si];
            total = seg_bits[si];
            pos = 0;
            for (ci = 0; ci < ncomp; ci++) preds[ci] = 0;
        }
        for (long e = 0; e < n_entries; e++) {
            long long bf = (long long)muy * ent_a[e] + (long long)mux * ent_b[e]
                         + ent_c0[e];
            long eci = (long)ent_ci[e];
            unsigned int ee = (unsigned int)
                luts[ent_dc[e] * 65536 + jx_peek16(w, pos)];
            int ln = (int)(ee & 31u);
            if (!ln) return -1;
            int t = (int)(ee >> 5);
            pos += ln;
            if (t) {
                int v = jx_bits(w, pos, t);
                pos += t;
                if (v < (1 << (t - 1))) v += 1 - (1 << t);
                preds[eci] += v;
            }
            if (n >= cap) return -9;
            out_comp[n] = (unsigned char)eci;
            out_idx[n] = bf;
            out_val[n] = (int)(preds[eci] * (1LL << al));
            n++;
            if (ent_ac[e] < 0) {
                if (pos > total) return -2;
                continue;
            }
            int k = 1;
            for (;;) {
                ee = (unsigned int)luts[ent_ac[e] * 65536 + jx_peek16(w, pos)];
                ln = (int)(ee & 31u);
                if (!ln) return -1;
                pos += ln;
                int rs = (int)(ee >> 5);
                int s = rs & 15;
                if (s) {
                    k += rs >> 4;
                    if (k > 63) return -3;
                    int v = jx_bits(w, pos, s);
                    pos += s;
                    if (v < (1 << (s - 1))) v += 1 - (1 << s);
                    if (n >= cap) return -9;
                    out_comp[n] = (unsigned char)eci;
                    out_idx[n] = bf + k;
                    out_val[n] = v;
                    n++;
                    k++;
                    if (k == 64) break;
                } else if (rs == 0xF0) {
                    k += 16;
                    if (k > 63) return -4;
                } else {
                    break;
                }
            }
            if (pos > total) return -2;
        }
        mux++;
        if (mux == ux) { mux = 0; muy++; }
    }
    if (pos > total) return -2;
    return n;
}

long long jpeg_scan_ac_first(
    const unsigned char *segb, const long long *seg_start,
    const long long *seg_bits, long n_segs, const int *aclut,
    long long a, long long b, long long c0,
    long ux, long uy, long ri, int ss, int se, int al,
    long long *out_idx, int *out_val, long long cap) {
    long long eobrun = 0, pos = 0, n = 0;
    long si = 0;
    if (n_segs < 1) return -5;
    const unsigned char *w = segb + seg_start[0];
    long long total = seg_bits[0];
    long n_units = ux * uy;
    for (long m = 0; m < n_units; m++) {
        if (ri && m && m % ri == 0) {
            si++;
            if (si >= n_segs) return -5;
            w = segb + seg_start[si];
            total = seg_bits[si];
            pos = 0;
            eobrun = 0;
        }
        if (eobrun) { eobrun--; continue; }
        long long bf = (long long)(m / ux) * a + (long long)(m % ux) * b + c0;
        int k = ss;
        while (k <= se) {
            unsigned int ee = (unsigned int)aclut[jx_peek16(w, pos)];
            int ln = (int)(ee & 31u);
            if (!ln) return -1;
            pos += ln;
            int rs = (int)(ee >> 5);
            int s = rs & 15;
            int r = rs >> 4;
            if (s) {
                k += r;
                if (k > se) return -6;
                int v = jx_bits(w, pos, s);
                pos += s;
                if (v < (1 << (s - 1))) v += 1 - (1 << s);
                if (n >= cap) return -9;
                out_idx[n] = bf + k;
                out_val[n] = (int)((long long)v * (1LL << al));
                n++;
                k++;
            } else if (r == 15) {
                k += 16;
            } else {
                eobrun = (1LL << r) - 1;
                if (r) {
                    eobrun += jx_bits(w, pos, r);
                    pos += r;
                }
                break;
            }
        }
        if (pos > total) return -2;
    }
    if (pos > total) return -2;
    return n;
}

long long jpeg_scan_ac_refine(
    const unsigned char *segb, const long long *seg_start,
    const long long *seg_bits, long n_segs, const int *aclut, int *coef,
    long long a, long long b, long long c0,
    long ux, long uy, long ri, int ss, int se, int al) {
    int p1 = 1 << al;
    int m1 = -p1;
    long long eobrun = 0, pos = 0;
    long si = 0;
    if (n_segs < 1) return -5;
    const unsigned char *w = segb + seg_start[0];
    long long total = seg_bits[0];
    long n_units = ux * uy;
    for (long m = 0; m < n_units; m++) {
        if (ri && m && m % ri == 0) {
            si++;
            if (si >= n_segs) return -5;
            w = segb + seg_start[si];
            total = seg_bits[si];
            pos = 0;
            eobrun = 0;
        }
        long long bf = (long long)(m / ux) * a + (long long)(m % ux) * b + c0;
        int k = ss;
        if (eobrun == 0) {
            while (k <= se) {
                unsigned int ee = (unsigned int)aclut[jx_peek16(w, pos)];
                int ln = (int)(ee & 31u);
                if (!ln) return -1;
                pos += ln;
                int rs = (int)(ee >> 5);
                int s = rs & 15;
                int r = rs >> 4;
                int newval = 0;
                if (s) {
                    if (s != 1) return -7;
                    newval = jx_bits(w, pos, 1) ? p1 : m1;
                    pos += 1;
                } else if (r != 15) {
                    eobrun = 1LL << r;
                    if (r) {
                        eobrun += jx_bits(w, pos, r);
                        pos += r;
                    }
                    break;
                }
                while (k <= se) {
                    int *c = &coef[bf + k];
                    if (*c) {
                        if (jx_bits(w, pos, 1) && (*c & p1) == 0)
                            *c += (*c >= 0) ? p1 : m1;
                        pos += 1;
                    } else {
                        if (r == 0) break;
                        r--;
                    }
                    k++;
                }
                if (s && k <= se) coef[bf + k] = newval;
                k++;
            }
        }
        if (eobrun > 0) {
            while (k <= se) {
                int *c = &coef[bf + k];
                if (*c) {
                    if (jx_bits(w, pos, 1) && (*c & p1) == 0)
                        *c += (*c >= 0) ? p1 : m1;
                    pos += 1;
                }
                k++;
            }
            eobrun--;
        }
        if (pos > total) return -2;
    }
    if (pos > total) return -2;
    return 0;
}
"""

_lock = threading.Lock()
_lib = None
_tried = False
_log = logging.getLogger("sophox_spark.native")


def _u8(a):
    return np.ascontiguousarray(a, dtype=np.uint8)


def _self_test(lib) -> bool:
    """Byte-exact check vs the pure-Python reference unfilter on a
    random all-filters fixture — the native path is enabled only when
    it reproduces the oracle exactly."""
    from . import png as _png  # deferred: png imports this module

    rng = np.random.default_rng(3)
    height, stride, bpp = 23, 24, 3
    rows = rng.integers(0, 256, (height, stride + 1), dtype=np.uint8)
    rows[:, 0] = rng.integers(0, 5, height, dtype=np.uint8)
    rows[:5, 0] = np.arange(5)  # every filter type at least once
    want = _png._unfilter_rowwise(rows, height, stride, bpp)
    out = np.empty((height, stride), dtype=np.uint8)
    rc = lib.png_unfilter(
        _u8(rows), ctypes.c_long(height), ctypes.c_long(stride),
        ctypes.c_long(bpp), out,
    )
    if rc != 0 or not np.array_equal(out, want):
        return False
    bad = np.array([[7, 0, 0, 0, 0]], dtype=np.uint8)
    return lib.png_unfilter(
        _u8(bad), ctypes.c_long(1), ctypes.c_long(4), ctypes.c_long(2),
        np.empty((1, 4), dtype=np.uint8),
    ) == 1


def get_lib():
    """The loaded kernel library, or None when unavailable."""
    global _lib, _tried
    if _tried:
        return _lib
    with _lock:
        if _tried:
            return _lib
        lib = None
        try:
            digest = hashlib.sha256(_C_SRC.encode()).hexdigest()[:16]
            so_path = os.path.join(
                tempfile.gettempdir(), f"sophox_native_{digest}.so"
            )
            if not os.path.exists(so_path):
                build = tempfile.mkdtemp(prefix="sophox_native_build_")
                c_path = os.path.join(build, "kernels.c")
                with open(c_path, "w") as f:
                    f.write(_C_SRC)
                tmp_so = os.path.join(build, "kernels.so")
                subprocess.run(
                    ["gcc", "-O3", "-fPIC", "-shared", "-o", tmp_so, c_path],
                    check=True, capture_output=True, timeout=120,
                )
                os.replace(tmp_so, so_path)
            cand = ctypes.CDLL(so_path)
            u8p = np.ctypeslib.ndpointer(dtype=np.uint8, flags="C_CONTIGUOUS")
            i32p = np.ctypeslib.ndpointer(dtype=np.int32, flags="C_CONTIGUOUS")
            i64p = np.ctypeslib.ndpointer(dtype=np.int64, flags="C_CONTIGUOUS")
            cand.png_unfilter.argtypes = [
                u8p, ctypes.c_long, ctypes.c_long, ctypes.c_long, u8p,
            ]
            cand.png_unfilter.restype = ctypes.c_int
            cand.jpeg_scan_dc_ac.argtypes = [
                u8p, i64p, i64p, ctypes.c_long, i32p,
                i64p, i64p, i64p, i64p, i64p, i64p,
                ctypes.c_long, ctypes.c_long, ctypes.c_long, ctypes.c_long,
                ctypes.c_long, ctypes.c_int,
                u8p, i64p, i32p, ctypes.c_longlong,
            ]
            cand.jpeg_scan_dc_ac.restype = ctypes.c_longlong
            cand.jpeg_scan_ac_first.argtypes = [
                u8p, i64p, i64p, ctypes.c_long, i32p,
                ctypes.c_longlong, ctypes.c_longlong, ctypes.c_longlong,
                ctypes.c_long, ctypes.c_long, ctypes.c_long,
                ctypes.c_int, ctypes.c_int, ctypes.c_int,
                i64p, i32p, ctypes.c_longlong,
            ]
            cand.jpeg_scan_ac_first.restype = ctypes.c_longlong
            cand.jpeg_scan_ac_refine.argtypes = [
                u8p, i64p, i64p, ctypes.c_long, i32p, i32p,
                ctypes.c_longlong, ctypes.c_longlong, ctypes.c_longlong,
                ctypes.c_long, ctypes.c_long, ctypes.c_long,
                ctypes.c_int, ctypes.c_int, ctypes.c_int,
            ]
            cand.jpeg_scan_ac_refine.restype = ctypes.c_longlong
            if not _self_test(cand):
                raise RuntimeError("self-test output differs from the Python path")
            lib = cand
        except Exception as e:
            _log.warning("native kernels unavailable, using Python paths: %r", e)
        else:
            _log.info("native kernels loaded from %s", so_path)
        _lib = lib
        _tried = True
        return _lib


def png_unfilter(rows: np.ndarray, height: int, stride: int, bpp: int):
    """Native unfilter; returns the (height, stride) array or None when
    the native path is unavailable. Raises ValueError on an unknown
    filter byte (callers pre-validate, so this is defensive)."""
    lib = get_lib()
    if lib is None:
        return None
    out = np.empty((height, stride), dtype=np.uint8)
    rc = lib.png_unfilter(
        _u8(rows), ctypes.c_long(height), ctypes.c_long(stride),
        ctypes.c_long(bpp), out,
    )
    if rc != 0:
        raise ValueError("unknown scanline filter")
    return out


# ---- JPEG glue -----------------------------------------------------------

_JPEG_PAD = 256  # mirrors jpeg._PAD: bit reads may overrun before checks

_JPEG_ERRORS = {
    -1: "invalid Huffman code in scan",
    -2: "entropy data exhausted",
    -3: "AC run past block end",
    -4: "ZRL past block end",
    -5: "missing restart segment",
    -6: "AC run past band end",
    -7: "refinement magnitude must be 1",
}


def _pack_segs(segs):
    """Concatenate entropy segments with zero padding; returns
    (bytes_arr, start_offsets int64, bit_totals int64)."""
    parts = []
    starts = np.empty(max(len(segs), 1), np.int64)
    bits = np.empty(max(len(segs), 1), np.int64)
    off = 0
    for i, s in enumerate(segs):
        starts[i] = off
        bits[i] = 8 * len(s)
        parts.append(s)
        parts.append(b"\x00" * _JPEG_PAD)
        off += len(s) + _JPEG_PAD
    buf = np.frombuffer(b"".join(parts) or b"\x00", np.uint8)
    return buf, starts, bits


def _jpeg_raise(rc):
    # exact message parity with the pure-Python scan decoders
    from .jpeg import JpegFormatError

    raise JpegFormatError(_JPEG_ERRORS.get(int(rc), "invalid scan"))


def jpeg_scan_dc_ac(segs, luts, ents, ncomp, ux, uy, ri, al):
    """Native sequential / first-DC scan. ``luts``: list of distinct
    65536-int32 LUT arrays; ``ents``: (ci, a, b, c0, dc_lut_idx,
    ac_lut_idx or -1) per block entry. Returns (comp, idx, val, n)
    or None when unavailable."""
    lib = get_lib()
    if lib is None or ncomp > 8 or not segs:
        return None
    buf, starts, bits = _pack_segs(segs)
    lut_buf = np.concatenate(luts) if len(luts) > 1 else luts[0]
    e = np.asarray(ents, np.int64).reshape(len(ents), 6)
    cap = ux * uy * len(ents) * 64
    out_comp = np.empty(cap, np.uint8)
    out_idx = np.empty(cap, np.int64)
    out_val = np.empty(cap, np.int32)
    rc = lib.jpeg_scan_dc_ac(
        buf, starts, bits, len(segs), np.ascontiguousarray(lut_buf),
        np.ascontiguousarray(e[:, 0]), np.ascontiguousarray(e[:, 1]),
        np.ascontiguousarray(e[:, 2]), np.ascontiguousarray(e[:, 3]),
        np.ascontiguousarray(e[:, 4]), np.ascontiguousarray(e[:, 5]),
        len(ents), ncomp, ux, uy, ri, al,
        out_comp, out_idx, out_val, cap,
    )
    if rc == -9:  # capacity/shape surprise: let the Python path decide
        return None
    if rc < 0:
        _jpeg_raise(rc)
    n = int(rc)
    return out_comp[:n], out_idx[:n], out_val[:n]


def jpeg_scan_ac_first(segs, aclut, a, b, c0, ux, uy, ri, ss, se, al):
    lib = get_lib()
    if lib is None or not segs:
        return None
    buf, starts, bits = _pack_segs(segs)
    cap = ux * uy * 64
    out_idx = np.empty(cap, np.int64)
    out_val = np.empty(cap, np.int32)
    rc = lib.jpeg_scan_ac_first(
        buf, starts, bits, len(segs), np.ascontiguousarray(aclut),
        a, b, c0, ux, uy, ri, ss, se, al, out_idx, out_val, cap,
    )
    if rc == -9:
        return None
    if rc < 0:
        _jpeg_raise(rc)
    n = int(rc)
    return out_idx[:n], out_val[:n]


def jpeg_scan_ac_refine(segs, aclut, coef, a, b, c0, ux, uy, ri, ss, se, al):
    """Native AC refinement: writes into ``coef`` (int32) in place.
    Returns True when handled, None when unavailable."""
    lib = get_lib()
    if lib is None or not segs:
        return None
    assert coef.dtype == np.int32 and coef.flags["C_CONTIGUOUS"]
    buf, starts, bits = _pack_segs(segs)
    rc = lib.jpeg_scan_ac_refine(
        buf, starts, bits, len(segs), np.ascontiguousarray(aclut), coef,
        a, b, c0, ux, uy, ri, ss, se, al,
    )
    if rc < 0:
        _jpeg_raise(rc)
    return True
