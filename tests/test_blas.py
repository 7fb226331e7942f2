"""functions/blas.py — the r16 BLAS thread cap (guide §1.2 per-task
work): driver/worker pools pinned to 1 thread by default, deployment-
overridable via BDA_BLAS_THREADS."""

from __future__ import annotations

import ctypes
import os

import pytest

from bda_spark.functions import blas


def _live_openblas_threads() -> int | None:
    for so in blas._candidate_libs():
        try:
            lib = ctypes.CDLL(so)
        except OSError:
            continue
        for name in (
            "openblas_get_num_threads64_",
            "openblas_get_num_threads",
        ):
            fn = getattr(lib, name, None)
            if fn is not None:
                return int(fn())
    return None


def test_default_cap_is_one(monkeypatch):
    monkeypatch.delenv("BDA_BLAS_THREADS", raising=False)
    for k in blas._BLAS_ENV:
        monkeypatch.delenv(k, raising=False)
    assert blas.blas_thread_cap() == 1
    env = blas.blas_env()
    assert set(env) == set(blas._BLAS_ENV)
    assert all(v == "1" for v in env.values())


def test_preexported_pool_env_wins_over_default(monkeypatch):
    """r17 (ADVICE r16): a deployment that exported
    OPENBLAS_NUM_THREADS/OMP_NUM_THREADS gets that cap from the ctypes
    runtime setter too, instead of being clobbered down to 1;
    BDA_BLAS_THREADS still overrides everything."""
    monkeypatch.delenv("BDA_BLAS_THREADS", raising=False)
    for k in blas._BLAS_ENV:
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setenv("OMP_NUM_THREADS", "6")
    assert blas.blas_thread_cap() == 6
    monkeypatch.setenv("OPENBLAS_NUM_THREADS", "3")
    assert blas.blas_thread_cap() == 3  # OpenBLAS-specific beats OMP
    monkeypatch.setenv("BDA_BLAS_THREADS", "2")
    assert blas.blas_thread_cap() == 2


def test_preexported_non_openblas_env_is_honoured(monkeypatch):
    """An MKL/NUMEXPR/VECLIB-tuned deployment keeps its pool size too,
    not just one tuned through OPENBLAS/OMP; a malformed value falls
    through to the next variable."""
    monkeypatch.delenv("BDA_BLAS_THREADS", raising=False)
    for k in blas._BLAS_ENV:
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setenv("VECLIB_MAXIMUM_THREADS", "5")
    assert blas.blas_thread_cap() == 5
    monkeypatch.setenv("MKL_NUM_THREADS", "4")
    assert blas.blas_thread_cap() == 4
    monkeypatch.setenv("MKL_NUM_THREADS", "junk")
    assert blas.blas_thread_cap() == 5


def test_env_override_and_disable(monkeypatch):
    monkeypatch.setenv("BDA_BLAS_THREADS", "4")
    assert blas.blas_thread_cap() == 4
    assert blas.blas_env()["OPENBLAS_NUM_THREADS"] == "4"
    monkeypatch.setenv("BDA_BLAS_THREADS", "0")
    assert blas.blas_env() == {}  # disabled: no env exported
    monkeypatch.setenv("BDA_BLAS_THREADS", "junk")
    assert blas.blas_thread_cap() == 1  # malformed falls back to 1


def test_limit_caps_live_pool(monkeypatch):
    monkeypatch.delenv("BDA_BLAS_THREADS", raising=False)
    before = _live_openblas_threads()
    if before is None:
        pytest.skip("no ctypes-visible OpenBLAS in this environment")
    blas._capped_pid = None  # force a re-cap regardless of test order
    blas.limit_blas_threads()
    assert _live_openblas_threads() == 1
    assert blas._capped_pid == os.getpid()
    # idempotent: second call is a no-op (PID guard)
    blas.limit_blas_threads()
    assert _live_openblas_threads() == 1


def test_kmeans_fit_goes_through_cap(monkeypatch):
    """_kmeans_fit (the 25x-measured driver path) must trip the cap."""
    np = pytest.importorskip("numpy")
    from bda_spark.operators.similarity import _kmeans_fit

    monkeypatch.delenv("BDA_BLAS_THREADS", raising=False)
    blas._capped_pid = None
    X = np.random.default_rng(0).standard_normal((256, 8))
    C = _kmeans_fit(X, 16, 42, 5)
    assert C.shape == (16, 8)
    assert blas._capped_pid == os.getpid()
