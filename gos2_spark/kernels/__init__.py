"""Pure-numpy vectorized kernels (no Spark imports here — importable on executors).

On import, OpenBLAS is pinned to ONE thread per process. The engine's
parallelism comes from Spark partitions — every executor core already
runs its own Python worker — so BLAS-level threading inside each worker
is pure loss: measured on local[8] over the pip refine kernel, un-pinned
OpenBLAS (2 threads/worker on this build) is 4x SLOWER than pinned,
because the kernels' skinny (N,3)x(3,M) GEMMs are memory-bound and the
per-call fork/join sync plus spin-waiting worker threads dominate. The
ctypes call (rather than OPENBLAS_NUM_THREADS) works even when numpy was
imported before this module — which is always the case inside a PySpark
worker, where pandas/pyarrow load numpy during UDF deserialization.

The pin runs at import because it must run inside every executor Python
worker and module import is the only hook that reliably fires there; a
host application embedding this library next to other BLAS-hungry numpy
work on the DRIVER can call pin_blas_threads(n) afterwards to re-raise the
limit — the pin is reversible.
"""

import ctypes
import glob
import os


def pin_blas_threads(n: int = 1) -> None:
    try:
        import numpy as np

        candidates = glob.glob(
            os.path.join(os.path.dirname(np.__file__), "*.libs", "libopenblas*.so*")
        ) + glob.glob(
            os.path.join(
                os.path.dirname(np.__file__), "..", "numpy.libs", "libopenblas*.so*"
            )
        )
        for path in candidates:
            lib = ctypes.CDLL(path)
            for sym in ("openblas_set_num_threads64_", "openblas_set_num_threads"):
                if hasattr(lib, sym):
                    getattr(lib, sym)(n)
                    break
    except Exception:  # pragma: no cover - best-effort; absence of OpenBLAS is fine
        pass


pin_blas_threads()
