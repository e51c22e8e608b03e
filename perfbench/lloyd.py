"""Sequential Lloyd k-means oracle for the paper job's outputs.

Independent of the engine: numpy over in-memory points, one pass per
iteration. It follows the reference semantics the engine claims:

- nearest centroid by squared distance `dx*dx + dy*dy` in doubles, ties
  to the lowest cluster id;
- an empty cluster is dropped (k shrinks), its id is not reused;
- the engine's exact path sums coordinates on a 1e-6 decimal grid
  (DECIMAL(28,6), HALF_UP) and divides once in doubles; the oracle does
  the same with exact integer sums;
- the objective is reported on the 1e-6 grid: the exact integer sum of
  HALF_UP(sqdist * 1e6), divided by 1e6 once.
"""
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

_MICRO = Decimal("0.000001")


class JavaRandom:
    """java.util.Random (48-bit LCG), which the engine's seeded random
    init draws from."""

    def __init__(self, seed):
        self.s = (seed ^ 0x5DEECE66D) & ((1 << 48) - 1)

    def _next(self, bits):
        self.s = (self.s * 0x5DEECE66D + 0xB) & ((1 << 48) - 1)
        return self.s >> (48 - bits)

    def next_double(self):
        return ((self._next(26) << 27) + self._next(27)) * (1.0 / (1 << 53))


def random_init(seed, k, lo=-15.0, hi=15.0):
    """k centroids uniform in [lo, hi]^2, x then y per centroid, ids 0..k-1
    (the reference CLI's -numcentroids init with -seed)."""
    rnd = JavaRandom(seed)
    out = []
    for cid in range(k):
        x = lo + (hi - lo) * rnd.next_double()
        y = lo + (hi - lo) * rnd.next_double()
        out.append((cid, x, y))
    return out


def to_grid(values):
    """Each double rounded HALF_UP to 6 decimals of its shortest decimal
    form, as an integer count of 1e-6 units."""
    return np.array([int(Decimal(repr(float(v))).quantize(_MICRO, ROUND_HALF_UP)
                         .scaleb(6)) for v in values], dtype=np.int64)


class Lloyd:
    def __init__(self, pts):
        self.pts = np.ascontiguousarray(pts, dtype=np.float64)
        self.gx = to_grid(self.pts[:, 0])
        self.gy = to_grid(self.pts[:, 1])

    def distances(self, cents):
        """(ids, n x k squared distances) for centroids sorted by id."""
        cents = sorted(cents)
        ids = np.array([c[0] for c in cents])
        cx = np.array([c[1] for c in cents])
        cy = np.array([c[2] for c in cents])
        dx = self.pts[:, 0:1] - cx[None, :]
        dy = self.pts[:, 1:2] - cy[None, :]
        return ids, dx * dx + dy * dy

    def assign(self, cents):
        """Labels, own squared distance, and the gap to the runner-up."""
        ids, d = self.distances(cents)
        j = np.argmin(d, axis=1)  # first minimum = lowest id
        rows = np.arange(len(j))
        own = d[rows, j]
        if d.shape[1] > 1:
            d[rows, j] = np.inf
            gap = d.min(axis=1) - own
        else:
            gap = np.full(len(j), np.inf)
        return ids[j], own, gap

    def step(self, cents):
        labels, _, _ = self.assign(cents)
        out = []
        for cid in sorted(c[0] for c in cents):
            m = labels == cid
            n = int(m.sum())
            if n == 0:
                continue  # empty cluster: dropped, as in the reference
            sx = float(int(self.gx[m].sum())) / 1e6
            sy = float(int(self.gy[m].sum())) / 1e6
            out.append((cid, sx / n, sy / n))
        return out

    def objective(self, cents):
        _, own, _ = self.assign(cents)
        units = np.floor(own * 1e6 + 0.5).astype(np.int64)
        return float(int(units.sum())) / 1e6

    def fit(self, init, iterations, trace=False):
        """Final centroids and, with `trace`, the objective after each
        iteration."""
        cents, objs = list(init), []
        for _ in range(iterations):
            cents = self.step(cents)
            if trace:
                objs.append(self.objective(cents))
        return cents, objs
