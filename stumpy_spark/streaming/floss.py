"""Streaming semantic segmentation (FLOSS) and the non-normalized
incremental profile (aampi), both on the one incremental state of
:mod:`stumpy_spark.streaming.stumpi`.

- :class:`FlossState` — semantics of stumpy/floss.py:306-692: sliding
  window, one-directional (right) nearest-neighbor profile updated per
  point, corrected arc curve (CAC_1D) recomputed per update against a
  seeded simulated idealized arc curve (the reference fits the IAC by
  simulation too, floss.py:50-116).
- :class:`AampiState` / :class:`GrowingAampiState` — stumpy/aampi.py:
  11-388: the p-norm twins of stumpi, egress and growing, on the
  series minus a fixed integer shift (``kernels._int_shift`` of the
  initial window, kept in the state) so offset series keep their digits
  in the ``kernels._sq_euclid`` expansion.

AampiState plugs into the same applyInPandasWithState wiring as
:func:`stumpy_spark.streaming.stumpi.stumpi_stream`.
"""

from __future__ import annotations

import numpy as np

from .stumpi import _IncrementalProfile


def iac_1d(width: int, seed: int = 0, reps: int = 10) -> np.ndarray:
    """Idealized 1-D arc curve by seeded simulation (floss.py:50-116
    approach): right-NN indices uniform in (i, width), arcs accumulated,
    averaged over reps."""
    rs = np.random.RandomState(seed)
    acc = np.zeros(width)
    for _ in range(reps):
        mark = np.zeros(width + 1)
        for i in range(width - 1):
            j = rs.randint(i + 1, width)
            mark[i] += 1
            mark[j] -= 1
        acc += np.cumsum(mark[:width])
    return acc / reps


class FlossState(_IncrementalProfile):
    """Streaming right profile + CAC over a sliding window.  ``PR``/``IR``
    are the right profile with window-relative indices (``IR`` -1 where
    no window lies to the right within the buffer); every update offers
    the newest window as every older window's right neighbor, and the
    newest window has none."""

    _right = True

    def __init__(self, T: np.ndarray, m: int, excl_factor: int = 5,
                 seed: int = 0):
        super().__init__(T, m)
        self.excl_factor = excl_factor
        self._iac = iac_1d(self.n - m + 1, seed=seed)

    PR = _IncrementalProfile.P
    IR = _IncrementalProfile.I

    def cac_1d(self) -> np.ndarray:
        """Corrected (right-)arc curve over the current window."""
        l = self.n - self.m + 1
        IR = self.IR
        mark = np.zeros(l + 1)
        idx = np.arange(l)
        valid = IR >= 0
        np.add.at(mark, idx[valid], 1)
        np.add.at(mark, IR[valid], -1)
        arcs = np.cumsum(mark[:l])
        iac = np.where(self._iac <= 0, 1.0, self._iac)
        out = np.minimum(arcs / iac, 1.0)
        ez = self.m * self.excl_factor
        out[:ez] = 1.0
        out[-ez:] = 1.0
        return out


class GrowingAampiState(_IncrementalProfile):
    """Incremental non-normalized (p-norm) matrix profile, growing mode —
    the reference's ``aampi(egress=False)``.  After any number of appends
    ``P_``/``I_`` equal the batch ``matrix_profile_absolute`` of the full
    series up to rounding, float input included."""

    _normalize = False
    _egress = False

    def __init__(self, T: np.ndarray, m: int, k: int = 1, p: float = 2.0):
        super().__init__(T, m, k=k, p=p)


class AampiState(_IncrementalProfile):
    """Incremental non-normalized (p = 2) matrix profile with egress
    (aampi semantics), with the index views of
    :class:`~stumpy_spark.streaming.stumpi.StumpiState`."""

    _normalize = False

    def __init__(self, T: np.ndarray, m: int,
                 absolute_indices: bool = False, mp=None):
        super().__init__(T, m, absolute_indices=absolute_indices, mp=mp)
