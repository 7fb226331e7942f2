"""Cap the in-process BLAS thread pool (optimization guide §1.2 step 2
"per-task work", §4.5 heavyweight-state discipline).

numpy's bundled OpenBLAS sizes its pool to every visible core and
fans work out per call; for the matrix shapes this engine hands to
BLAS — bounded driver-side kmeans training samples (a few thousand
rows by construction: the FAISS coarse-trainer discipline) and
per-Arrow-batch matmuls inside pandas UDFs — the thread fan-out/sync
overhead dominates the arithmetic by orders of magnitude. Measured on
the 32-core bench host (r16): one k=64 Lloyd fit over a 2000x8 sample
takes 2.5 s against the default 32-thread pool and 0.10 s capped to
one thread — a 25x difference on pq_train's driver path (8 such fits:
20-29 s -> 0.9 s). Concurrent Python workers make it worse at any
scale: 32 task slots each spinning an N-core BLAS pool oversubscribes
the box N-fold. Spark is the parallelism layer in this engine; BLAS
gets one thread unless the deployment explicitly asks otherwise.

Deployment knob: ``BDA_BLAS_THREADS=<n>`` pins a different cap, and
``<= 0`` disables the cap entirely (leave the pool alone) — e.g. for a
one-task-per-executor deployment that wants intra-op parallelism.

Two mechanisms, both needed:

- ``limit_blas_threads()``: runtime cap via the loaded BLAS library's
  own set-num-threads entry point (ctypes on numpy/scipy's bundled
  .so) — works however late it is called, so the DRIVER process is
  covered even when the harness imported numpy long before this
  engine. Idempotent per process and fork-safe (a forked Python worker
  inherits the already-capped pool setting).
- Environment defaults (``_BLAS_ENV``): consulted by every BLAS/OpenMP
  runtime at load time, exported by ``session.get_spark`` into the
  driver process (inherited by the locally launched JVM and its
  pyspark daemon/workers) and into ``spark.executorEnv.*`` for cluster
  executors — so Python WORKER processes, which this module's code
  never runs in unless a UDF calls it, are capped too.
"""

from __future__ import annotations

import ctypes
import glob
import os

_BLAS_ENV = (
    "OPENBLAS_NUM_THREADS",
    "OMP_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
)

# set-num-threads entry points across BLAS flavors (64-bit-suffixed
# OpenBLAS first: numpy wheels bundle openblas64)
_SETTERS = (
    "openblas_set_num_threads64_",
    "openblas_set_num_threads",
    "goto_set_num_threads",
    "MKL_Set_Num_Threads",
)

_capped_pid: int | None = None


def blas_thread_cap() -> int:
    """The configured cap: BDA_BLAS_THREADS if set (<=0 disables),
    else the first already-exported ``_BLAS_ENV`` thread count, in
    ``_BLAS_ENV`` order (a deployment that tuned its pool via any of
    the standard env vars — OPENBLAS, OMP, MKL, NUMEXPR, VECLIB —
    keeps it: the env half of this module always honored pre-set
    values via setdefault, and the ctypes runtime setter follows the
    same precedence instead of silently clobbering them), else 1."""
    raw = os.environ.get("BDA_BLAS_THREADS", "").strip()
    if not raw:
        for k in _BLAS_ENV:
            pre = os.environ.get(k, "").strip()
            if pre:
                try:
                    return max(1, int(pre))
                except ValueError:
                    continue
        return 1
    try:
        return int(raw)
    except ValueError:
        return 1


def blas_env(n: int | None = None) -> dict[str, str]:
    """Environment-variable form of the cap, for child processes
    (executors / Python workers). Empty when the cap is disabled."""
    n = blas_thread_cap() if n is None else int(n)
    if n <= 0:
        return {}
    return {k: str(n) for k in _BLAS_ENV}


def limit_blas_threads(n: int | None = None) -> None:
    """Cap the already-loaded BLAS pools of this process (idempotent;
    re-checked per PID so a fork cannot skip it on stale module
    state). Safe no-op when no known BLAS library is found."""
    global _capped_pid
    if _capped_pid == os.getpid():
        return
    n = blas_thread_cap() if n is None else int(n)
    if n <= 0:
        _capped_pid = os.getpid()
        return
    for k, v in blas_env(n).items():
        os.environ.setdefault(k, v)
    for so in _candidate_libs():
        try:
            lib = ctypes.CDLL(so)
        except OSError:
            continue
        for name in _SETTERS:
            fn = getattr(lib, name, None)
            if fn is not None:
                try:
                    fn(int(n))
                except Exception:
                    pass
                break
    _capped_pid = os.getpid()


def _candidate_libs() -> list[str]:
    """BLAS shared objects bundled beside numpy/scipy (wheel layout:
    site-packages/<pkg>.libs/). CDLL on an already-loaded .so returns
    the live handle, so setting threads affects the active pool."""
    libs: list[str] = []
    for mod in ("numpy", "scipy"):
        try:
            m = __import__(mod)
        except ImportError:
            continue
        pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(m.__file__)))
        for pat in (
            os.path.join(pkg_dir, f"{mod}.libs", "libopenblas*.so*"),
            os.path.join(pkg_dir, f"{mod}.libs", "libblas*.so*"),
        ):
            libs.extend(glob.glob(pat))
    return libs
