"""S9: the keyed artifact store (reference: softpatch.py:403-449 pickles the
fitted bank + a FAISS index; early_stop.py:41-46 restores torch checkpoints).

Every stored artifact (LSH bands, SemDeDup centroids, the corpus embedding,
the SoftPatch banks, the AE and forecaster weights) is deterministic in
(package source, inputs, hyperparameters), so one call serves them all:
:func:`cached` restores the artifact if its key is present and otherwise
builds, stores and restores it. One key rule:

    key = sha256(package-source fingerprint, kind, hyper, content of inputs)

- the package-source fingerprint hashes every ``.py`` file under the
  package, once per process: any code edit rotates every key, so no
  hand-listed module chain can leave out a module the build imports;
- ``inputs`` is a list of input files or directories, hashed by content
  (not mtime), or a caller's content signature string when the input is
  a frame rather than a file.

Two codecs: :func:`frame` (a parquet dir, restored with
``spark.read.parquet``) and :data:`ARRAYS` (``{group: {name: ndarray}}``
as one npz plus a JSON manifest; no pickle, so artifacts are portable
across Python versions). Artifacts are driver-side files; the small ones
(a bank is a coreset) are broadcast to executors for inference.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import uuid
from contextlib import contextmanager
from typing import Callable, NamedTuple

import numpy as np


@contextmanager
def single_threaded_blas():
    """Pin OpenBLAS to ONE thread for the duration of a deterministic fit.

    OpenBLAS picks GEMM kernel splits — and therefore float reduction
    ORDER — by thread count, so the same training on the same data yields
    different low bits under different thread pools (measured: three
    distinct fc_ab weight hashes at 1/4/32 threads; an artifact trained in
    one environment then failed the mirror oracle by 4e-7 when the check
    process refit under another). Every artifact-producing driver-side fit
    runs inside this pin so stored weights are reproducible in ANY later
    process — restore-vs-refit equality is exactly what the keyed-artifact
    doctrine and the mirror oracles assume. The fits are seconds-long d×d
    style problems; single-threaded BLAS costs little and buys
    bit-stability. No-op (fit proceeds unpinned) if the OpenBLAS control
    symbols are absent."""
    import ctypes
    import re

    try:
        with open("/proc/self/maps") as f:
            paths = sorted(set(re.findall(r"/\S*openblas\S*", f.read())))
        if not paths:
            yield
            return
        lib = ctypes.CDLL(paths[0])
        get = getattr(lib, "openblas_get_num_threads64_", None) or getattr(
            lib, "openblas_get_num_threads", None
        )
        set_ = getattr(lib, "openblas_set_num_threads64_", None) or getattr(
            lib, "openblas_set_num_threads", None
        )
        if get is None or set_ is None:
            yield
            return
        prev = int(get())
        set_(1)
        try:
            yield
        finally:
            set_(prev)
    except OSError:
        yield


def _promote_dir(tmp: str, dest: str) -> None:
    """Atomically promote a PRIVATE tmp dir to its content-addressed final
    path. The tmp dir carries a per-process unique suffix, so concurrent
    builders of the same key never write into each other's in-flight output;
    whoever renames first wins, and losing the race (dest appeared — EEXIST/
    ENOTEMPTY, or a final isdir re-check) just discards our copy and keeps
    theirs: the key is content-addressed, both copies are byte-equivalent."""
    try:
        os.rename(tmp, dest)
    except OSError:
        if os.path.isdir(dest):  # lost the race — keep theirs
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            raise


_CACHE_ENV = "SPARK_GRAFT_WEIGHTS_DIR"
_PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Cold/warm access log for the across-run artifact store (the bench must
# disclose whether a run restored artifacts or built them). One entry per
# artifact kind per process; first touch wins, so an initial miss that then
# builds stays "cold" even though later reads hit.
_ACCESS_LOG: dict[str, str] = {}


def artifact_access_log() -> dict[str, str]:
    """{artifact kind: "warm"|"cold"} for every keyed artifact this process
    tried to restore (bench.py prints it in the JSON line)."""
    return dict(_ACCESS_LOG)


def weights_cache_dir() -> str:
    return os.environ.get(_CACHE_ENV, os.path.join(os.path.dirname(_PKG_DIR), ".weights_cache"))


def _hash_tree(h, root: str, suffix: str = "") -> None:
    """Feed (relative name, bytes) of every file under ``root`` ending in
    ``suffix`` into ``h`` in sorted order; a plain file enters under its
    base name."""
    if os.path.isdir(root):
        base = root
        rels = sorted(
            os.path.relpath(os.path.join(d, n), root)
            for d, _dirs, names in os.walk(root)
            for n in names
            if n.endswith(suffix)
        )
    else:
        base, rels = os.path.dirname(root), [os.path.basename(root)]
    for rel in rels:
        h.update(rel.encode())
        with open(os.path.join(base, rel), "rb") as f:
            h.update(f.read())
        h.update(b"\x00")


@functools.lru_cache(maxsize=1)
def _package_fingerprint() -> str:
    h = hashlib.sha256()
    _hash_tree(h, _PKG_DIR, ".py")
    return h.hexdigest()


def artifact_key(kind: str, inputs: list[str] | str, hyper: str) -> str:
    """The one key rule (module docstring)."""
    h = hashlib.sha256(f"{_package_fingerprint()}\x00{kind}\x00{hyper}\x00".encode())
    if isinstance(inputs, str):
        h.update(inputs.encode())
    else:
        for p in inputs:
            _hash_tree(h, p)
    return h.hexdigest()[:24]


class Codec(NamedTuple):
    save: Callable[[object, str], None]  # (value, dir that does not exist yet)
    load: Callable[[str], object]


def frame(spark, n_files: int = 8) -> Codec:
    """DataFrame ↔ parquet dir of ``n_files`` files."""
    return Codec(lambda df, path: df.coalesce(n_files).write.parquet(path), spark.read.parquet)


def _save_arrays(groups: dict[str, dict[str, np.ndarray]], path: str) -> None:
    os.makedirs(path)
    manifest: list[tuple[str, str, str]] = []
    flat: dict[str, np.ndarray] = {}
    for gi, (g, params) in enumerate(sorted(groups.items())):
        for pi, (p, arr) in enumerate(sorted(params.items())):
            manifest.append((g, p, f"a{gi}_{pi}"))
            flat[f"a{gi}_{pi}"] = np.asarray(arr)
    np.savez_compressed(os.path.join(path, "arrays.npz"), **flat)
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifest, f)


def _load_arrays(path: str) -> dict[str, dict[str, np.ndarray]]:
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    out: dict[str, dict[str, np.ndarray]] = {}
    with np.load(os.path.join(path, "arrays.npz")) as z:
        for g, p, sk in manifest:
            out.setdefault(g, {})[p] = z[sk]
    return out


ARRAYS = Codec(_save_arrays, _load_arrays)


def cached(kind: str, inputs: list[str] | str, hyper: str, build: Callable[[], object], codec: Codec):
    """Restore the ``kind`` artifact keyed by (package source, ``inputs``,
    ``hyper``), or call ``build()``, store its value and restore that.

    ``hyper`` names the runtime parameters the package source does not fix
    (a config object's repr), "" when it fixes them all. The writer, too,
    returns the restored value, so every process serves identical bytes.
    A build or save that raises stores nothing."""
    path = os.path.join(weights_cache_dir(), f"{kind}-{artifact_key(kind, inputs, hyper)}")
    hit = os.path.isdir(path)
    _ACCESS_LOG.setdefault(kind, "warm" if hit else "cold")
    if not hit:
        tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        try:
            codec.save(build(), tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        _promote_dir(tmp, path)
    return codec.load(path)
