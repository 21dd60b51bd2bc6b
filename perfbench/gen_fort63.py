#!/usr/bin/env python3
"""Seeded fort.63-shaped NetCDF-3 classic file for the benchmark.

Same layout as tools/make_fort63.py (K x K lattice, 2(K-1)^2 triangles,
1-based connectivity, hourly `time`, `zeta` with the ADCIRC -99999 fill),
but the seed moves three things:

  - interior node positions, jittered by up to +/-0.25 of the lattice
    spacing in each axis (boundary nodes stay put, so the hull is the
    square [0, K-1]^2 and no triangle can flip);
  - the set of dry nodes (about 0.1% of all nodes, fill for every record);
  - the phase of the field zeta = 10 sin(0.01 i + 0.5 t + phase).

Every random draw is splitmix64 of (seed, index), so the mesh and field
can be recomputed point by point without reading the file (the Scala
checker does exactly that, see perfbench.Mesh). numpy makes the file in
about a second at K=550.

Usage: perfbench/gen_fort63.py <out.nc> <K> <T> <seed>
"""
import struct
import sys

import numpy as np

NC_DIM, NC_VAR, NC_ATTR = 0x0A, 0x0B, 0x0C
NC_CHAR, NC_INT, NC_DOUBLE = 2, 4, 6
FILL = -99999.0
DRY_FRACTION = 0.001
JITTER = 0.25
M64 = (1 << 64) - 1


def splitmix64(z):
    """Vectorised splitmix64 finaliser over a uint64 array (wrapping)."""
    with np.errstate(over="ignore"):
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def uniform(seed, idx):
    """U[0,1) draws for indices `idx` under `seed`: top 53 bits of
    splitmix64(splitmix64(seed) + idx)."""
    base = splitmix64(np.array([seed & M64], dtype=np.uint64))[0]
    with np.errstate(over="ignore"):
        z = splitmix64(idx.astype(np.uint64) + base)
    return (z >> np.uint64(11)).astype(np.float64) * (1.0 / (1 << 53))


def mesh(K, seed):
    """(x, y, dry, phase) exactly as the checker recomputes them."""
    n = K * K
    i = np.arange(n, dtype=np.uint64)
    col = (i % np.uint64(K)).astype(np.float64)
    row = (i // np.uint64(K)).astype(np.float64)
    interior = (col > 0) & (col < K - 1) & (row > 0) & (row < K - 1)
    jx = (uniform(seed, 3 * i) - 0.5) * (2 * JITTER)
    jy = (uniform(seed, 3 * i + np.uint64(1)) - 0.5) * (2 * JITTER)
    x = np.where(interior, col + jx, col)
    y = np.where(interior, row + jy, row)
    dry = uniform(seed, 3 * i + np.uint64(2)) < DRY_FRACTION
    phase = uniform(seed, np.array([3 * n], dtype=np.uint64))[0] * 2 * np.pi
    return x, y, dry, phase


def pad4(b):
    return b + b"\x00" * ((4 - len(b) % 4) % 4)


def name(s):
    b = s.encode()
    return struct.pack(">i", len(b)) + pad4(b)


def attr_list(attrs):
    if not attrs:
        return struct.pack(">ii", 0, 0)
    out = struct.pack(">ii", NC_ATTR, len(attrs))
    for k, v in attrs:
        out += name(k)
        if isinstance(v, str):
            out += struct.pack(">ii", NC_CHAR, len(v)) + pad4(v.encode())
        else:
            out += struct.pack(">ii", NC_DOUBLE, 1) + struct.pack(">d", v)
    return out


def header(N, M, T, begins):
    h = b"CDF\x01" + struct.pack(">i", T)
    h += struct.pack(">ii", NC_DIM, 4)
    h += name("time") + struct.pack(">i", 0)
    h += name("node") + struct.pack(">i", N)
    h += name("nele") + struct.pack(">i", M)
    h += name("nvertex") + struct.pack(">i", 3)
    h += attr_list([("Conventions", "CF-1.6")])
    h += struct.pack(">ii", NC_VAR, 5)

    def var(nm, dims, typ, vsize, attrs=()):
        v = name(nm) + struct.pack(">i", len(dims))
        for d in dims:
            v += struct.pack(">i", d)
        v += attr_list(list(attrs))
        v += struct.pack(">iii", typ, vsize, begins.get(nm, 0))
        return v

    h += var("x", [1], NC_DOUBLE, N * 8)
    h += var("y", [1], NC_DOUBLE, N * 8)
    h += var("element", [2, 3], NC_INT, M * 3 * 4)
    h += var("time", [0], NC_DOUBLE, 8,
             attrs=[("units", "seconds since 2008-09-09 00:00:00 UTC"),
                    ("base_date", "2008-09-09 00:00:00")])
    h += var("zeta", [0, 1], NC_DOUBLE, N * 8, attrs=[("_FillValue", FILL)])
    return h


def elements(K):
    """1-based connectivity, two triangles per lattice square, in the
    order tools/make_fort63.py writes them: (a, b, c) then (b, d, c)."""
    r, c = np.divmod(np.arange((K - 1) * (K - 1), dtype=np.int64), K - 1)
    a = r * K + c
    b = a + 1
    cc = a + K
    dd = cc + 1
    tri = np.stack([a, b, cc, b, dd, cc], axis=1).reshape(-1, 3) + 1
    return tri.astype(">i4")


def write(out, K, T, seed):
    N, M = K * K, 2 * (K - 1) * (K - 1)
    x, y, dry, phase = mesh(K, seed)
    hlen = len(header(N, M, T, {}))
    begins = {
        "x": hlen,
        "y": hlen + N * 8,
        "element": hlen + 2 * N * 8,
        "time": hlen + 2 * N * 8 + M * 3 * 4,
        "zeta": hlen + 2 * N * 8 + M * 3 * 4 + 8,
    }
    i = np.arange(N, dtype=np.float64)
    with open(out, "wb") as f:
        f.write(header(N, M, T, begins))
        f.write(x.astype(">f8").tobytes())
        f.write(y.astype(">f8").tobytes())
        f.write(elements(K).tobytes())
        for t in range(T):
            f.write(struct.pack(">d", t * 3600.0))
            z = np.sin(0.01 * i + 0.5 * t + phase) * 10.0
            z[dry] = FILL
            f.write(z.astype(">f8").tobytes())
    return N, M


def main():
    out, K, T, seed = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
    N, M = write(out, K, T, seed)
    print(f"{out}: {N:,} nodes, {M:,} triangles, {T} timesteps, seed {seed}")


if __name__ == "__main__":
    main()
