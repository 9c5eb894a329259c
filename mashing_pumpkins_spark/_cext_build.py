"""The one build-and-load helper for the self-compiled C kernels
(hashkernels/_hash_cext.py, operators/_jpeg_cext.py, _png_cext.py,
_intersect_cext.py).

Dependency-free C99 compiled on first use with the host cc into a
content-addressed .so under the temp dir, loaded via ctypes; every
fallible step (no compiler, compile error, load failure) returns None and
the caller keeps its pure-Python path — behavior identical, only
throughput changes. Each kernel has a kill switch: its environment
variable set to "0" makes `load()` return None."""

from __future__ import annotations

import ctypes
import hashlib
import os
import shutil
import subprocess
import tempfile
import threading
from typing import Callable


def find_cc() -> str | None:
    for cc in (os.environ.get("CC"), "cc", "gcc", "clang"):
        if cc and shutil.which(cc):
            return cc
    return None


def compile_and_load(source: str, tag: str) -> "ctypes.CDLL | None":
    """Compile ``source`` (C99) into /tmp/mp_spark_<tag>_<digest>.so and
    load it; None on any failure. Concurrent compilers race safely via
    atomic os.replace; the digest keys the cache on the exact source."""
    cc = find_cc()
    if cc is None:
        return None
    digest = hashlib.md5(source.encode()).hexdigest()[:16]
    so_path = os.path.join(tempfile.gettempdir(), f"mp_spark_{tag}_{digest}.so")
    if not os.path.exists(so_path):
        workdir = tempfile.mkdtemp(prefix=f"mp_{tag}_")
        src = os.path.join(workdir, f"{tag}.c")
        tmp_so = os.path.join(workdir, f"{tag}.so")
        with open(src, "w") as fh:
            fh.write(source)
        try:
            subprocess.run(
                [cc, "-O2", "-fPIC", "-shared", "-std=c99", src, "-o", tmp_so],
                check=True,
                capture_output=True,
                timeout=120,
            )
            os.replace(tmp_so, so_path)
        except (OSError, subprocess.SubprocessError):
            return None
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    try:
        return ctypes.CDLL(so_path)
    except OSError:
        return None


def kernel_loader(
    source: str, tag: str, env_var: str, bind: Callable[[ctypes.CDLL], None]
) -> Callable[[], "ctypes.CDLL | None"]:
    """A kernel module's ``load()``: the compiled library with ``bind``
    (its ctypes argtypes/restype declarations) applied, or None when it is
    unavailable or ``env_var`` is "0". Thread-safe; the outcome is cached
    for the process lifetime, the kill switch is read on every call."""
    lock = threading.Lock()
    outcome: list = []  # [] = not tried yet, else [CDLL or None]

    def load() -> "ctypes.CDLL | None":
        if os.environ.get(env_var, "1") == "0":
            return None
        if not outcome:
            with lock:
                if not outcome:
                    lib = compile_and_load(source, tag)
                    if lib is not None:
                        bind(lib)
                    outcome.append(lib)
        return outcome[0]

    return load
