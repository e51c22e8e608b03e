"""Seeded input generators. The same seed always gives the same files."""
import os

import numpy as np

BLOB_CENTRES = 8
BLOB_SIGMA = 0.6
BLOB_BOX = 10.0


def blobs_csv(path, n, seed):
    """Paper-shaped points: `n` 2-D points around 8 centres drawn uniformly
    in [-10, 10]^2, Gaussian with sigma 0.6 per axis (sklearn make_blobs as
    the reference notebook used it), shuffled. Header `X,Y`, every double
    written with 17 significant digits so it reads back bit-exact."""
    rng = np.random.Generator(np.random.PCG64(seed))
    centres = rng.uniform(-BLOB_BOX, BLOB_BOX, size=(BLOB_CENTRES, 2))
    # make_blobs' split: n // centres each, the remainder to the first ones
    sizes = np.full(BLOB_CENTRES, n // BLOB_CENTRES)
    sizes[: n % BLOB_CENTRES] += 1
    label = np.repeat(np.arange(BLOB_CENTRES), sizes)
    pts = centres[label] + rng.normal(0.0, BLOB_SIGMA, size=(n, 2))
    pts = pts[rng.permutation(n)]
    tmp = path + ".tmp"
    np.savetxt(tmp, pts, fmt="%.17g", delimiter=",", header="X,Y", comments="")
    os.replace(tmp, path)


def read_blobs(path):
    return np.loadtxt(path, delimiter=",", skiprows=1, dtype=np.float64)
