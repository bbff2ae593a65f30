"""ctypes loader + wrapper for the C extraction kernel.

``run_cscan(text)`` returns a finished
:class:`solrizer_spark.extraction.html_text._ExtractorState` — the
same object shape the stdlib ``HTMLParser`` reference produces — or
``None`` when the C side bails (rare constructs whose semantics depend
on Python Unicode behavior; see cscan.c's honest-bail contract).
Callers fall back to the stdlib reference on ``None``, so parity holds
by construction for bailed documents and by the c-vs-stdlib
differential fuzz + golden suite for everything else.

Build-on-first-use: the shared object is compiled with the system C
compiler into a cache directory keyed by a hash of the C source and
the generated tables (which are themselves derived from the running
Python's stdlib + the engine tag classes). No compiler, or a failed
compile, degrades to ``HAVE_CSCAN = False`` — backend ``auto`` then
runs the stdlib reference, so cluster images without a toolchain lose
speed (~110–180 µs/doc against ~20–30 µs/doc), never correctness. Speed on
such images is not a target: gcc ships on the images the engine
runs. Executors compile independently (process-local, file-locked by
atomic rename), which on a real cluster means one ~1 s compile per
node, amortized over the job.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
from pathlib import Path

__all__ = ["HAVE_CSCAN", "run_cscan", "build_library", "load"]


class _BlockRec(ctypes.Structure):
    _fields_ = [
        ("text_off", ctypes.c_int64), ("text_len", ctypes.c_int64),
        ("path_off", ctypes.c_int64), ("path_len", ctypes.c_int64),
        ("n_chars", ctypes.c_int32), ("n_words", ctypes.c_int32),
        ("link_chars", ctypes.c_int32), ("boiler", ctypes.c_int32),
    ]


class _Result(ctypes.Structure):
    _fields_ = [
        ("bail", ctypes.c_int32), ("n_blocks", ctypes.c_int32),
        ("raw_len", ctypes.c_int64), ("title_len", ctypes.c_int64),
        ("strtab_len", ctypes.c_int64),
        ("raw", ctypes.POINTER(ctypes.c_char)),
        ("title", ctypes.POINTER(ctypes.c_char)),
        ("strtab", ctypes.POINTER(ctypes.c_char)),
        ("blocks", ctypes.POINTER(_BlockRec)),
    ]


def _read_source() -> str:
    """Zip-safe C-source read: under ``spark-submit --py-files pkg.zip``
    the package lives inside the archive and ``__file__`` is not a real
    path, so go through importlib.resources (zip importer aware)."""
    import importlib.resources

    return (
        importlib.resources.files(__package__)
        .joinpath("cscan.c")
        .read_text()
    )

_BLOCKREC_SIZE = ctypes.sizeof(_BlockRec)
assert _BLOCKREC_SIZE == 48, _BLOCKREC_SIZE
import struct as _struct

_unpack_recs = _struct.Struct("<qqqqiiii").iter_unpack


def _cache_dir() -> Path:
    env = os.environ.get("SOLRIZER_CSCAN_DIR")
    if env:
        return Path(env)
    return Path(tempfile.gettempdir()) / f"solrizer_cscan_{os.getuid()}"


def build_library(force: bool = False) -> Path | None:
    """Compile (or reuse) the shared object; None if no toolchain."""
    from solrizer_spark.extraction.cscan.gen_tables import generate

    tables = generate()
    try:
        src = _read_source()
    except OSError:   # unreadable package resource: degrade, never fail
        return None
    key = hashlib.sha256((tables + src).encode()).hexdigest()[:16]
    cache = _cache_dir()
    so = cache / f"cscan_{key}.so"
    if so.exists() and not force:
        return so
    cache.mkdir(parents=True, exist_ok=True)
    cc = os.environ.get("CC", "gcc")
    with tempfile.TemporaryDirectory(dir=cache) as td:
        tdp = Path(td)
        (tdp / "charref_tables.h").write_text(tables)
        csrc = tdp / "cscan.c"
        csrc.write_text(src)
        tmp_so = tdp / "cscan.so"
        try:
            subprocess.run(
                [cc, "-O2", "-std=c11", "-fPIC", "-shared", "-Wall",
                 "-o", str(tmp_so), str(csrc)],
                check=True, capture_output=True, timeout=120,
            )
        except (OSError, subprocess.SubprocessError):
            return None
        os.replace(tmp_so, so)   # atomic: concurrent builders race safely
    return so


_lib = None
HAVE_CSCAN = False


def load() -> bool:
    """Idempotent build+load; sets HAVE_CSCAN."""
    global _lib, HAVE_CSCAN
    if _lib is not None:
        return True
    so = build_library()
    if so is None:
        return False
    lib = ctypes.CDLL(str(so))
    lib.cscan_extract.restype = ctypes.POINTER(_Result)
    lib.cscan_extract.argtypes = [ctypes.c_char_p, ctypes.c_int64]
    lib.cscan_free.restype = None
    lib.cscan_free.argtypes = [ctypes.POINTER(_Result)]
    _lib = lib
    HAVE_CSCAN = True
    return True


def run_cscan(text: str):
    """Parse one document with the C kernel.

    Returns a finished ``_ExtractorState``, or ``None`` if the C side
    bailed or the kernel cannot be loaded (caller must fall back to
    the stdlib reference, as ``html_text._run_c`` does)."""
    from solrizer_spark.extraction.html_text import (
        DENSITY_CANVAS_COLS,
        Block,
        _ExtractorState,
    )

    if _lib is None and not load():
        return None
    try:
        payload = text.encode("utf-8")
    except UnicodeEncodeError:     # lone surrogates: stdlib reference only
        return None
    resp = _lib.cscan_extract(payload, len(payload))
    if not resp:
        raise MemoryError("cscan_extract returned NULL")
    try:
        r = resp.contents
        if r.bail:
            return None
        state = _ExtractorState()
        if r.raw_len:
            state.raw_parts.append(
                ctypes.string_at(r.raw, r.raw_len).decode("utf-8")
            )
        if r.title_len:
            state.title_parts.append(
                ctypes.string_at(r.title, r.title_len).decode("utf-8")
            )
        nb = r.n_blocks
        if nb:
            strtab = ctypes.string_at(r.strtab, r.strtab_len)
            # bulk-copy the BlockRec array and unpack with struct —
            # per-field ctypes attribute access costs ~3x the whole
            # C parse on small documents
            recs = ctypes.string_at(r.blocks, nb * _BLOCKREC_SIZE)
            blocks = state.blocks
            append = blocks.append
            k = 0
            for (text_off, text_len, path_off, path_len,
                 n_chars, n_words, link_chars, boiler) in _unpack_recs(recs):
                # densities computed here, in Python floats, so the
                # arithmetic is literally the same as _flush_block's
                append(
                    Block(
                        k,
                        strtab[path_off:path_off + path_len].decode("utf-8"),
                        strtab[text_off:text_off + text_len].decode("utf-8"),
                        n_chars,
                        n_words,
                        link_chars,
                        link_chars / n_chars,
                        n_words / max(1.0, n_chars / DENSITY_CANVAS_COLS),
                        boiler != 0,
                    )
                )
                k += 1
        return state
    finally:
        _lib.cscan_free(resp)
