"""ctypes binding to the system libwebp — the FOREIGN WebP implementation.

Two jobs (r8):

1. **Lossy-VP8 decode** (VERDICT r7 #6): the from-scratch RFC 6386 decoder
   is blocked in this sandbox — its ~2,000 literal probability/dequant
   constants (default_coeff_probs[4][8][3][11], update probs, mode trees)
   are not reproducible offline, and inventing them would make same-hand
   roundtrip tests pass while corrupting every real crawl file. The system
   `libwebp.so` (Debian libwebp7, a standard public library) carries the
   reference VP8 decoder; binding it via ctypes needs no pip/apt and keeps
   the honest gate when the library is absent.

2. **External-fixture cross-checks** (VERDICT r7 "what's missing" #2):
   every in-repo decoder was pinned only against its in-repo encoder — the
   shared-spec-misreading risk. libwebp's `WebPEncodeLosslessRGB` produces
   FOREIGN VP8L bitstreams (different transform/entropy choices than our
   fixture encoder) that our from-scratch decoder must reproduce exactly,
   and `WebPDecodeRGB` independently re-decodes our encoder's output —
   cross-checks in both directions (tests/test_webp_native.py).

Everything degrades cleanly: `available()` is False when the shared
library is missing and each entry point raises the narrowed
NotImplementedError the pure-Python path used to raise.
"""

from __future__ import annotations

import ctypes
import ctypes.util

import numpy as np

_lib = None
_load_err: str | None = None


def _load():
    global _lib, _load_err
    if _lib is not None or _load_err is not None:
        return _lib
    for name in ("libwebp.so.7", "libwebp.so", "libwebp.7.dylib",
                 "libwebp.dylib",
                 ctypes.util.find_library("webp") or ""):
        if not name:
            continue
        try:
            lib = ctypes.CDLL(name)
            lib.WebPGetDecoderVersion.restype = ctypes.c_int
            lib.WebPDecodeRGB.restype = ctypes.POINTER(ctypes.c_uint8)
            lib.WebPDecodeRGB.argtypes = [
                ctypes.c_char_p, ctypes.c_size_t,
                ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
            lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
            lib.WebPDecodeRGBA.argtypes = lib.WebPDecodeRGB.argtypes
            lib.WebPEncodeRGB.restype = ctypes.c_size_t
            lib.WebPEncodeRGB.argtypes = [
                ctypes.POINTER(ctypes.c_uint8), ctypes.c_int, ctypes.c_int,
                ctypes.c_int, ctypes.c_float,
                ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8))]
            lib.WebPEncodeLosslessRGB.restype = ctypes.c_size_t
            lib.WebPEncodeLosslessRGB.argtypes = [
                ctypes.POINTER(ctypes.c_uint8), ctypes.c_int, ctypes.c_int,
                ctypes.c_int,
                ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8))]
            lib.WebPFree.restype = None
            lib.WebPFree.argtypes = [ctypes.c_void_p]
            _lib = lib
            return _lib
        except OSError:
            continue
    _load_err = "libwebp shared library not found"
    return None


def available() -> bool:
    return _load() is not None


def decode_rgb(content: bytes, alpha: bool = False) -> np.ndarray:
    """Full RIFF/WEBP container (lossy VP8 or lossless VP8L) ->
    (H, W, 3|4) uint8 via the system libwebp."""
    lib = _load()
    if lib is None:
        raise NotImplementedError(
            "lossy WebP (VP8) decode requires the system libwebp shared "
            "library, which is not present; lossless WebP (VP8L) decodes "
            "lib-free (operators/webp.py)")
    w = ctypes.c_int()
    h = ctypes.c_int()
    fn = lib.WebPDecodeRGBA if alpha else lib.WebPDecodeRGB
    ptr = fn(content, len(content), ctypes.byref(w), ctypes.byref(h))
    if not ptr:
        raise ValueError("libwebp could not decode the WebP payload")
    ch = 4 if alpha else 3
    try:
        n = w.value * h.value * ch
        out = np.ctypeslib.as_array(ptr, shape=(n,)).copy()
    finally:
        lib.WebPFree(ctypes.cast(ptr, ctypes.c_void_p))
    return out.reshape(h.value, w.value, ch)


def _encode(img: np.ndarray, fn, *extra) -> bytes:
    a = np.ascontiguousarray(np.asarray(img, dtype=np.uint8))
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("expected (H, W, 3) uint8 RGB")
    h, w = a.shape[0], a.shape[1]
    out = ctypes.POINTER(ctypes.c_uint8)()
    size = fn(a.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
              w, h, w * 3, *extra, ctypes.byref(out))
    if size == 0 or not out:
        raise ValueError("libwebp encode failed")
    lib = _load()
    try:
        data = ctypes.string_at(out, size)
    finally:
        lib.WebPFree(ctypes.cast(out, ctypes.c_void_p))
    return data


def encode_lossy(img: np.ndarray, quality: float = 85.0) -> bytes:
    """(H, W, 3) uint8 -> real lossy-VP8 WebP bytes (foreign encoder —
    the external fixture source for the lossy decode path)."""
    lib = _load()
    if lib is None:
        raise NotImplementedError(_load_err)
    return _encode(img, lib.WebPEncodeRGB, ctypes.c_float(quality))


def encode_lossless(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 -> FOREIGN VP8L bytes — cross-check fixtures for the
    from-scratch decoder in operators/webp.py."""
    lib = _load()
    if lib is None:
        raise NotImplementedError(_load_err)
    return _encode(img, lib.WebPEncodeLosslessRGB)
