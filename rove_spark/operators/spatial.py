"""Cross-series (spatial) consistency checks: buddy_check and SCT.

Reference semantics: run once per time slice across all series
(``/root/reference/src/harness.rs:96-98,137-139``), neighbor queries via a
per-request R*-tree (``src/data_switch.rs:180``), kernels in olympian
(titanlib ports — Lussana et al. 2010 SCT; public algorithms). Call-site
parameter surfaces: buddy ``harness.rs:102-114``, sct ``harness.rs:143-161``
with scalar→vector broadcast at ``harness.rs:155-159``. Formulas per
SPEC.md (olympian internals are out of tree; SPEC owns them).

Spark-first execution shape (the scale story):
- rows = (series, ts, value, lat, lon, elev);
- group by (ts, spatial bucket): ``applyInPandas`` with vectorized numpy
  inside each group — the R*-tree is replaced by bounded-size buckets, so
  neighbor search is a small dense distance matrix, not a global index;
- cross-bucket neighbors are handled by a **halo join**: each row is also
  emitted into its 8 neighboring cells marked ``is_halo`` — halo rows
  contribute to buddy statistics but are never flagged in that group, so
  every obs is flagged exactly once with full neighbor context. This is
  the standard distributed spatial-join pattern and removes the boundary
  artifact a naive per-cell group would have;
- divergence from the reference: gaps (NULL values) flag DATA_MISSING
  instead of panicking (``harness.rs:100,141``).

Transcript domain: conversations get deterministic synthetic coordinates
(``with_synthetic_coords_portable``) — the "neighborhood" abstraction of
SURVEY §1.4 — so buddy-style cross-conversation consistency runs on the
same machinery.
"""

from __future__ import annotations

import inspect
import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rove_spark.model import Flag

EARTH_RADIUS_M = 6_371_000.0


# ------------------------------------------------------------- kernels --


def _haversine_block(
    lat_r: np.ndarray, lon_r: np.ndarray, lat_c: np.ndarray, lon_c: np.ndarray
) -> np.ndarray:
    """Rectangular great-circle distance block (meters): rows × cols.
    Elementwise-identical arithmetic to the square matrix, so blockwise
    processing is bit-identical to full-matrix processing.

    In-place formulation (round 7): the naive expression allocated ~10
    block×n float64 temporaries and made the kernels memory-bandwidth
    bound at sf1.0 cell sizes; this form allocates 3. Every replacement
    is IEEE-identical to the original operand tree (x/2 ≡ x·0.5 exactly;
    x**2 ≡ x·x; float multiply is exactly commutative), so flags and
    oracle hashes are unchanged (bit-equality gated in test_spatial)."""
    rlat_r, rlon_r = np.radians(lat_r)[:, None], np.radians(lon_r)[:, None]
    rlat_c, rlon_c = np.radians(lat_c)[None, :], np.radians(lon_c)[None, :]
    d = np.subtract(rlat_r, rlat_c)          # → sin²(Δφ/2), in place
    np.multiply(d, 0.5, out=d)
    np.sin(d, out=d)
    np.multiply(d, d, out=d)
    g = np.subtract(rlon_r, rlon_c)          # → cosφ₁·cosφ₂·sin²(Δλ/2)
    np.multiply(g, 0.5, out=g)
    np.sin(g, out=g)
    np.multiply(g, g, out=g)
    cc = np.cos(rlat_r) * np.cos(rlat_c)
    np.multiply(cc, g, out=g)
    np.add(d, g, out=d)                      # a
    np.clip(d, 0.0, 1.0, out=d)
    np.sqrt(d, out=d)
    np.arcsin(d, out=d)
    np.multiply(d, 2 * EARTH_RADIUS_M, out=d)
    return d


def _haversine_matrix(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """All-pairs great-circle distance (meters); vectorized numpy. Built
    in KERNEL_BLOCK_ROWS-row slabs into one preallocated n×n array so the
    ~6 transient arrays per slab stay cache-sized even when the full
    matrix is worth caching (round 7)."""
    n = len(lat)
    if n <= KERNEL_BLOCK_ROWS:
        return _haversine_block(lat, lon, lat, lon)
    out = np.empty((n, n))
    for s in range(0, n, KERNEL_BLOCK_ROWS):
        e = min(s + KERNEL_BLOCK_ROWS, n)
        out[s:e] = _haversine_block(lat[s:e], lon[s:e], lat, lon)
    return out


# row-block size for the memory-bounded kernel paths: peak temp memory is
# O(block · n) doubles instead of O(n²) — a 150k-station cell costs
# ~0.3 GB of transient blocks instead of a fatal 180 GB matrix.
# 512 (was 4096): the ~6 temp arrays per block call must stay cache/
# allocator-friendly — on a 13.5k-station sf1.0 cell the 4096-row blocks
# allocated ~440 MB per temp array and the kernel ran 3.7× slower than
# with 512-row blocks (round 7; blockwise results are bit-identical for
# any block size, tested)
KERNEL_BLOCK_ROWS = 512

# full-distance-matrix cache bound (decoupled from the block size in
# round 7): iterated kernels reuse the matrix across iterations, so
# caching pays up to ~33 MB (2048² doubles) per group; above that the
# blockwise recompute wins on memory
DIST_CACHE_MAX_N = 2048


def buddy_check_kernel(
    values: np.ndarray,
    lat: np.ndarray,
    lon: np.ndarray,
    elev: np.ndarray,
    radius: float,
    num_min: int,
    threshold: float,
    max_elev_diff: float = -1.0,
    elev_gradient: float = 0.0,
    min_std: float = 1.0,
    num_iterations: int = 1,
    check_mask: np.ndarray | None = None,
) -> np.ndarray:
    """One time slice. Returns int8 flags per SPEC.md §buddy_check.

    ``check_mask`` False rows (halo rows) contribute to statistics but
    keep flag PASS (they are flagged in their home bucket).

    Memory shape: neighbor statistics are computed in row blocks of
    ``KERNEL_BLOCK_ROWS`` — peak temp memory O(block·n), never O(n²), so
    a dense cell cannot OOM the Python worker. Blockwise per-row
    arithmetic is bit-identical to the full-matrix form (tested).
    """
    n = len(values)
    flags = np.full(n, int(Flag.PASS), dtype=np.int8)
    present = ~np.isnan(values)
    flags[~present] = int(Flag.DATA_MISSING)
    if n == 0:
        return flags
    B = KERNEL_BLOCK_ROWS
    dist_full = _haversine_matrix(lat, lon) if n <= DIST_CACHE_MAX_N else None
    check = np.ones(n, dtype=bool) if check_mask is None else np.asarray(check_mask, bool)

    excluded = np.zeros(n, dtype=bool)  # FAILed values leave the buddy pool
    for _ in range(max(1, num_iterations)):
        usable = present & ~excluded
        cnt = np.zeros(n, dtype=np.int64)
        mean = np.full(n, np.nan)
        var = np.zeros(n)
        for s in range(0, n, B):
            e = min(s + B, n)
            db = (
                dist_full[s:e]
                if dist_full is not None
                else _haversine_block(lat[s:e], lon[s:e], lat, lon)
            )
            ir = db <= radius
            ir[np.arange(e - s), np.arange(s, e)] = False  # not your own buddy
            if max_elev_diff >= 0:
                ir &= np.abs(elev[s:e, None] - elev[None, :]) <= max_elev_diff
            buddy = ir & usable[None, :]
            # elevation-adjusted buddy values per target row
            if max_elev_diff >= 0 and elev_gradient != 0.0:
                adj = values[None, :] + elev_gradient * (elev[s:e, None] - elev[None, :])
            else:
                adj = np.broadcast_to(values[None, :], buddy.shape)
            vals = np.where(buddy, adj, np.nan)
            cb = buddy.sum(axis=1)
            with np.errstate(invalid="ignore"):
                mb = np.where(
                    cb > 0, np.nansum(np.nan_to_num(vals), axis=1) / np.maximum(cb, 1), np.nan
                )
                vb = (
                    np.nansum(np.nan_to_num((vals - mb[:, None]) ** 2 * buddy), axis=1)
                    / np.maximum(cb, 1)
                )
            cnt[s:e], mean[s:e], var[s:e] = cb, mb, vb
        std = np.maximum(np.sqrt(var), min_std)
        with np.errstate(invalid="ignore"):
            z = np.abs(values - mean) / std
        newly_failed = present & (cnt >= num_min) & (z > threshold) & ~excluded
        # never overwrite a FAIL: a station whose buddies all failed out of
        # the pool must stay FAIL, not flip to ISOLATED in a later round
        isolated = present & check & ~excluded & (cnt < num_min) & (flags != int(Flag.FAIL))
        flags[isolated] = int(Flag.ISOLATED)
        # halo rows leave the buddy pool when bad but are flagged at home
        flags[newly_failed & check] = int(Flag.FAIL)
        if not newly_failed.any():
            break
        excluded |= newly_failed
    return flags


def _kd_boxes(idx: np.ndarray, lat: np.ndarray, lon: np.ndarray, num_max: int) -> list:
    """Recursively split a station index set into spatial boxes of at most
    ``num_max`` members (median cut on the wider-spread coordinate) — the
    titanlib/reference box-splitting bound (``harness.rs:143-161`` passes
    num_max through to titanlib's sct, which subdivides its domain until
    each box holds ≤ num_max stations). Deterministic: argsort on
    (coordinate, original index)."""
    out = []
    stack = [np.asarray(idx)]
    while stack:
        box = stack.pop()
        if len(box) <= num_max:
            if len(box) > 0:
                out.append(box)
            continue
        la, lo = lat[box], lon[box]
        coord = la if (la.max() - la.min()) >= (lo.max() - lo.min()) else lo
        order = np.lexsort((box, coord))  # stable, deterministic
        half = len(box) // 2
        stack.append(box[order[:half]])
        stack.append(box[order[half:]])
    return out


def _small_box_z(
    v: np.ndarray,
    d_h: np.ndarray,
    d_v: np.ndarray,
    hs: float,
    vs: float,
    eps2: float,
) -> np.ndarray:
    """Closed-form leave-one-out OI residual z-scores for boxes of k ≤ 3:
    adjugate/determinant inverse with a FIXED scalar operand tree, mirrored
    token-for-token by the DuckDB oracle (driver_queries._sql_sct_small).
    np.linalg.inv's LU pivoting rounds differently, which would break the
    exact cross-engine hash; this path makes ``num_max=3`` SCT fully
    oracle-able. Agrees with the LU path to ~1e-12 (tested)."""

    def s(i: int, j: int) -> float:
        return math.exp(
            -0.5 * ((d_h[i, j] / hs) * (d_h[i, j] / hs))
            - 0.5 * ((d_v[i, j] / vs) * (d_v[i, j] / vs))
        )

    k = len(v)
    if k == 1:
        return np.zeros(1)
    bd = 1.0 + eps2  # S diagonal is exp(-0) = 1.0 exactly
    if k == 2:
        b01 = s(0, 1)
        det = bd * bd - b01 * b01
        i00 = bd / det
        i01 = -b01 / det
        m = (v[0] + v[1]) / 2.0
        d0 = v[0] - m
        d1 = v[1] - m
        a0 = i00 * d0 + i01 * d1
        a1 = i01 * d0 + i00 * d1
        sigma2 = max(1e-9, (d0 * a0 + d1 * a1) / 2.0)
        den = math.sqrt(sigma2 * (1.0 + eps2))
        return np.array([(a0 / max(i00, 1e-12)) / den, (a1 / max(i00, 1e-12)) / den])
    b01, b02, b12 = s(0, 1), s(0, 2), s(1, 2)
    det = (
        bd * (bd * bd - b12 * b12)
        - b01 * (b01 * bd - b12 * b02)
        + b02 * (b01 * b12 - bd * b02)
    )
    i00 = (bd * bd - b12 * b12) / det
    i01 = (b02 * b12 - b01 * bd) / det
    i02 = (b01 * b12 - b02 * bd) / det
    i11 = (bd * bd - b02 * b02) / det
    i12 = (b02 * b01 - bd * b12) / det
    i22 = (bd * bd - b01 * b01) / det
    m = (v[0] + v[1] + v[2]) / 3.0
    d0 = v[0] - m
    d1 = v[1] - m
    d2 = v[2] - m
    a0 = i00 * d0 + i01 * d1 + i02 * d2
    a1 = i01 * d0 + i11 * d1 + i12 * d2
    a2 = i02 * d0 + i12 * d1 + i22 * d2
    sigma2 = max(1e-9, (d0 * a0 + d1 * a1 + d2 * a2) / 3.0)
    den = math.sqrt(sigma2 * (1.0 + eps2))
    return np.array(
        [
            (a0 / max(i00, 1e-12)) / den,
            (a1 / max(i11, 1e-12)) / den,
            (a2 / max(i22, 1e-12)) / den,
        ]
    )


def adj4_statements() -> list[tuple[str, str]]:
    """Ordered (name, expression) statements computing the symmetric 4×4
    B = S + eps2·I adjugate/determinant inverse with a FIXED operand
    tree. The SAME strings are exec-compiled into the kernel's k=4 path
    (``_small_box_z4``) and embedded as SQL columns by
    ``driver_queries._sql_sct_mid`` — token-identical arithmetic in
    Python floats and DuckDB doubles, so num_max=4 SCT flags hash-match
    cross-engine (the same discipline as the handwritten 3×3 twins).
    Entry names: ``bd`` (diagonal, 1+eps2), ``eIJ`` (off-diagonal
    covariances); emits minors ``mRC``, ``det``, inverse entries
    ``iIJ`` (upper triangle of the symmetric inverse)."""

    def e(i: int, j: int) -> str:
        return "bd" if i == j else f"e{min(i, j)}{max(i, j)}"

    stmts: list[tuple[str, str]] = []
    for r in range(4):
        for c in range(r, 4):
            rows = [x for x in range(4) if x != r]
            cols = [x for x in range(4) if x != c]
            (r0, r1, r2), (c0, c1, c2) = rows, cols
            stmts.append(
                (
                    f"m{r}{c}",
                    f"{e(r0, c0)} * ({e(r1, c1)} * {e(r2, c2)} - {e(r1, c2)} * {e(r2, c1)}) "
                    f"- {e(r0, c1)} * ({e(r1, c0)} * {e(r2, c2)} - {e(r1, c2)} * {e(r2, c0)}) "
                    f"+ {e(r0, c2)} * ({e(r1, c0)} * {e(r2, c1)} - {e(r1, c1)} * {e(r2, c0)})",
                )
            )
    stmts.append(("det", "bd * m00 - e01 * m01 + e02 * m02 - e03 * m03"))
    for i in range(4):
        for j in range(i, 4):
            # inv[i][j] = C[j][i]/det; for symmetric B, M[j][i] == M[i][j]
            sign = "" if (i + j) % 2 == 0 else "-"
            stmts.append((f"i{i}{j}", f"{sign}m{i}{j} / det"))
    return stmts


def adjk_statements(k: int) -> list[tuple[str, str]]:
    """General-k companion of ``adj4_statements``: ordered statements for
    the symmetric k×k B = S + eps2·I adjugate/determinant inverse with a
    FIXED operand tree, built by first-row cofactor expansion with
    MEMOIZED shared sub-determinants (the 2×2/3×3 minors repeat across
    cofactors, so the statement list stays compact — k=5 is 101
    statements instead of 5·5·40 inline terms). Same single-source contract:
    exec-compiled into the kernel's k-box solver AND embedded as SQL by
    the sct_deep oracle. Feasible for small fixed k (the KD bound);
    the general unbounded-k OI inverse remains non-SQL-expressible,
    which is why the full `sct` query stays rows-only."""

    def e(i: int, j: int) -> str:
        return "bd" if i == j else f"e{min(i, j)}{max(i, j)}"

    stmts: list[tuple[str, str]] = []
    memo: dict = {}

    def det(rows: tuple, cols: tuple) -> str:
        key = (rows, cols)
        if key in memo:
            return memo[key]
        if len(rows) == 1:
            memo[key] = e(rows[0], cols[0])
            return memo[key]
        if len(rows) == 2:
            (r0, r1), (c0, c1) = rows, cols
            name = f"q{r0}{r1}_{c0}{c1}"
            stmts.append(
                (name, f"{e(r0, c0)} * {e(r1, c1)} - {e(r0, c1)} * {e(r1, c0)}")
            )
            memo[key] = name
            return name
        r0, rest = rows[0], rows[1:]
        terms = []
        for idx, c in enumerate(cols):
            sub = det(rest, tuple(x for x in cols if x != c))
            term = f"{e(r0, c)} * {sub}"
            terms.append(term if idx == 0 else (f"- {term}" if idx % 2 else f"+ {term}"))
        name = f"q{''.join(map(str, rows))}_{''.join(map(str, cols))}"
        stmts.append((name, " ".join(terms)))
        memo[key] = name
        return name

    full = tuple(range(k))
    for r in range(k):
        for c in range(r, k):
            m = det(
                tuple(x for x in full if x != r), tuple(x for x in full if x != c)
            )
            stmts.append((f"m{r}{c}", m))
    det_terms = []
    for idx, c in enumerate(full):
        term = f"{e(0, c)} * m0{c}"
        terms_sign = term if idx == 0 else (f"- {term}" if idx % 2 else f"+ {term}")
        det_terms.append(terms_sign)
    stmts.append(("det", " ".join(det_terms)))
    for i in range(k):
        for j in range(i, k):
            sign = "" if (i + j) % 2 == 0 else "-"
            stmts.append((f"i{i}{j}", f"{sign}m{i}{j} / det"))
    return stmts


def zk_solve_statements(k: int) -> list[tuple[str, str]]:
    """Continuation of ``adj4_statements`` / ``adjk_statements``: mean,
    innovations and A = B⁻¹·d with fixed summation order over
    ``v0..v{k-1}``. Single source for the kernel's k-box solver and the
    sct_mid / sct_deep oracles."""
    vs = " + ".join(f"v{i}" for i in range(k))
    stmts: list[tuple[str, str]] = [("mm", f"({vs}) / {k}.0")]
    for i in range(k):
        stmts.append((f"d{i}", f"v{i} - mm"))
    for i in range(k):
        terms = " + ".join(f"i{min(i, j)}{max(i, j)} * d{j}" for j in range(k))
        stmts.append((f"a{i}", terms))
    return stmts


def _build_zk(k: int, statements: list[tuple[str, str]]):
    """exec-compile a shared statement list into the kernel's scalar
    k-box solver — guarantees the kernel evaluates EXACTLY the operand
    trees the SQL oracle embeds (single source of truth)."""
    eargs = [f"e{i}{j}" for i in range(k) for j in range(i + 1, k)]
    vargs = [f"v{i}" for i in range(k)]
    lines = [f"def _zk({', '.join(eargs)}, bd, {', '.join(vargs)}):"]
    for name, expr in statements:
        lines.append(f"    {name} = {expr}")
    da = " + ".join(f"d{i} * a{i}" for i in range(k))
    lines.append(f"    sigma2 = max(1e-9, ({da}) / {k}.0)")
    lines.append("    den = math.sqrt(sigma2 * bd)")
    rets = ", ".join(f"(a{i} / max(i{i}{i}, 1e-12)) / den" for i in range(k))
    lines.append(f"    return ({rets})")
    ns: dict = {"math": math}
    exec("\n".join(lines), ns)  # noqa: S102 — compiles module-own literal source
    return ns["_zk"]


_z4_closed_form = _build_zk(4, adj4_statements() + zk_solve_statements(4))
_z5_closed_form = _build_zk(5, adjk_statements(5) + zk_solve_statements(5))


def _small_box_z4(
    v: np.ndarray,
    d_h: np.ndarray,
    d_v: np.ndarray,
    hs: float,
    vs: float,
    eps2: float,
) -> np.ndarray:
    """Closed-form leave-one-out OI residual z-scores for k = 4 boxes —
    the 4×4 companion of ``_small_box_z``, generated from
    ``adj4_statements`` so the DuckDB sct_mid oracle reproduces it
    token-for-token. Agrees with the LU path to ~1e-12 (tested)."""

    def s(i: int, j: int) -> float:
        return math.exp(
            -0.5 * ((d_h[i, j] / hs) * (d_h[i, j] / hs))
            - 0.5 * ((d_v[i, j] / vs) * (d_v[i, j] / vs))
        )

    bd = 1.0 + eps2
    z = _z4_closed_form(
        s(0, 1), s(0, 2), s(0, 3), s(1, 2), s(1, 3), s(2, 3),
        bd, v[0], v[1], v[2], v[3],
    )
    return np.array(z)


def _small_box_z5(
    v: np.ndarray,
    d_h: np.ndarray,
    d_v: np.ndarray,
    hs: float,
    vs: float,
    eps2: float,
) -> np.ndarray:
    """k = 5 generated closed form (``adjk_statements(5)``) — same
    shared-source contract as ``_small_box_z4``; the sct_deep oracle
    embeds the identical statements as SQL."""

    def s(i: int, j: int) -> float:
        return math.exp(
            -0.5 * ((d_h[i, j] / hs) * (d_h[i, j] / hs))
            - 0.5 * ((d_v[i, j] / vs) * (d_v[i, j] / vs))
        )

    bd = 1.0 + eps2
    es = [s(i, j) for i in range(5) for j in range(i + 1, 5)]
    return np.array(_z5_closed_form(*es, bd, v[0], v[1], v[2], v[3], v[4]))


def sct_kernel(
    values: np.ndarray,
    lat: np.ndarray,
    lon: np.ndarray,
    elev: np.ndarray,
    num_min: int = 5,
    num_max: int = 100,
    inner_radius: float = 50_000.0,
    outer_radius: float = 150_000.0,
    num_iterations: int = 5,
    min_horizontal_scale: float = 10_000.0,
    vertical_scale: float = 200.0,
    pos: float = 4.0,
    neg: float = 4.0,
    eps2: float = 0.5,
    check_mask: np.ndarray | None = None,
) -> np.ndarray:
    """Spatial Consistency Test — box optimal interpolation with
    leave-one-out residuals, SPEC.md §sct. Defaults mirror the reference
    call site (``/root/reference/src/lib.rs:241-256``); like titanlib, the
    OI runs per *box* (here: the grouped bucket), one factorization per
    iteration instead of per-station k³ solves.

    Stations with < ``num_min`` usable neighbors (incl. self) within
    ``inner_radius`` → ISOLATED. Over the usable box: Gaussian covariance
    S from (horizontal, vertical) distances, innovation d = v − mean(v),
    B = S + eps2·I; the leave-one-out cross-validation residual is
    cv_i = (B⁻¹d)_i / B⁻¹_ii, normalized by the box residual scale
    σ² = dᵀB⁻¹d / k; z outside (−neg, pos) → FAIL, iterated with FAILed
    stations removed from the pool (≤ num_iterations rounds).

    ``num_max`` is honored by KD-subdividing the usable set into spatial
    boxes of ≤ num_max stations before the OI solve (reference bound:
    ``harness.rs:143-161``) — every factorization is O(num_max³)
    regardless of group size, so a dense cell can't explode one Python
    worker. Cross-cell context is the upstream cell bucketing's job
    (cell_deg + halo); isolation counts always use the FULL group.
    """
    n = len(values)
    flags = np.full(n, int(Flag.PASS), dtype=np.int8)
    present = ~np.isnan(values)
    flags[~present] = int(Flag.DATA_MISSING)
    if n == 0:
        return flags
    B = KERNEL_BLOCK_ROWS
    dist_full = _haversine_matrix(lat, lon) if n <= DIST_CACHE_MAX_N else None
    check = np.ones(n, dtype=bool) if check_mask is None else np.asarray(check_mask, bool)
    excluded = np.zeros(n, dtype=bool)

    # lat-band pruning for the big-cell isolation counts (round 7): a
    # pair with |Δlat| > inner_radius/R (1% safety margin for the
    # degree→radian rounding) is PROVABLY farther than inner_radius
    # (great-circle distance ≥ R·Δφ), so its haversine never needs
    # evaluating; surviving columns go through the IDENTICAL comparison,
    # so counts are exactly unchanged. Rows are processed in lat order
    # and scattered back. Cuts the column span to the ~2·radius band —
    # the win grows with cell size (a cell_deg ≈ 3× the radius scans ~3×
    # fewer pairs).
    lat_order = lat_band = None
    if dist_full is None:
        lat_order = np.argsort(lat, kind="stable")
        lat_sorted = lat[lat_order]
        lon_sorted = lon[lat_order]
        lat_band = math.degrees(inner_radius / EARTH_RADIUS_M) * 1.01

    for _ in range(max(1, num_iterations)):
        usable = present & ~excluded
        # isolation: too few usable neighbors (incl. self) in inner radius
        # — blockwise, O(block·n) temp memory like buddy_check_kernel
        inner_counts = np.zeros(n, dtype=np.int64)
        if dist_full is not None:
            for s in range(0, n, B):
                e = min(s + B, n)
                inner_counts[s:e] = (
                    (dist_full[s:e] <= inner_radius) & usable[None, :]
                ).sum(axis=1)
        else:
            usable_sorted = usable[lat_order]
            counts_sorted = np.zeros(n, dtype=np.int64)
            for s in range(0, n, B):
                e = min(s + B, n)
                lo = int(np.searchsorted(lat_sorted, lat_sorted[s] - lat_band, "left"))
                hi = int(
                    np.searchsorted(lat_sorted, lat_sorted[e - 1] + lat_band, "right")
                )
                db = _haversine_block(
                    lat_sorted[s:e], lon_sorted[s:e], lat_sorted[lo:hi], lon_sorted[lo:hi]
                )
                counts_sorted[s:e] = (
                    (db <= inner_radius) & usable_sorted[None, lo:hi]
                ).sum(axis=1)
            inner_counts[lat_order] = counts_sorted
        isolated = present & check & ~excluded & (inner_counts < num_min)
        flags[isolated & (flags != int(Flag.FAIL))] = int(Flag.ISOLATED)

        idx = np.where(usable & (inner_counts >= num_min))[0]
        if len(idx) < num_min:
            break
        any_bad = False
        # one OI factorization per ≤num_max box (titanlib operates on
        # boxes; per-station k³ solves would be O(n·k³) per slice)
        for box in _kd_boxes(idx, lat, lon, num_max):
            # canonical order (ascending group index = series_id string
            # order): solve arithmetic becomes independent of KD split
            # order, and the sct_small oracle can reproduce it by ranking
            # on CAST(user_id AS VARCHAR)
            box = np.sort(box)
            k = len(box)
            if k < num_min:
                continue
            d_h = (
                dist_full[np.ix_(box, box)]
                if dist_full is not None
                else _haversine_matrix(lat[box], lon[box])
            )
            d_v = elev[box][:, None] - elev[box][None, :]
            if k <= 3:
                # fixed scalar operand tree — exactly reproducible in SQL
                z = _small_box_z(
                    values[box].astype(np.float64),
                    d_h,
                    d_v,
                    min_horizontal_scale,
                    vertical_scale,
                    eps2,
                )
            elif k == 4:
                # 4×4 closed form (adjugate, shared-source operand tree)
                # — keeps num_max=4 SCT exactly SQL-oracle-able too
                z = _small_box_z4(
                    values[box].astype(np.float64),
                    d_h,
                    d_v,
                    min_horizontal_scale,
                    vertical_scale,
                    eps2,
                )
            elif k == 5:
                # 5×5 generated closed form (adjk_statements) — num_max=5
                # stays exactly SQL-oracle-able (sct_deep)
                z = _small_box_z5(
                    values[box].astype(np.float64),
                    d_h,
                    d_v,
                    min_horizontal_scale,
                    vertical_scale,
                    eps2,
                )
            else:
                S = np.exp(
                    -0.5 * (d_h / min_horizontal_scale) ** 2
                    - 0.5 * (d_v / vertical_scale) ** 2
                )
                v = values[box].astype(np.float64)
                innov = v - v.mean()
                try:
                    Binv = np.linalg.inv(S + eps2 * np.eye(k))
                except np.linalg.LinAlgError:
                    continue
                A = Binv @ innov
                # leave-one-out residual: (innov − S·A)/(1−W_ii) = A_i/Binv_ii
                cv = A / np.maximum(np.diag(Binv), 1e-12)
                sigma2 = max(1e-9, float(innov @ A) / k)
                z = cv / math.sqrt(sigma2 * (1.0 + eps2))
            bad = (z > pos) | (z < -neg)
            if not bad.any():
                continue
            any_bad = True
            # halo rows (check=False) are excluded from the pool when bad,
            # but flagged only in their home bucket
            flags[box[bad & check[box]]] = int(Flag.FAIL)
            excluded[box[bad]] = True
        if not any_bad:
            break
    return flags


# ---------------------------------------------------------- spark layer --


def with_synthetic_coords_portable(
    df: DataFrame, series_col: str = "conv_id", box_deg: float = 3.0
) -> DataFrame:
    """Deterministic per-series pseudo-coordinates (≈330×330 km box
    around 60N 10E, elevation 0–500 m): the transcript-domain
    neighborhood. md5-derived uniform u32 → [0,1) → the box, so DuckDB
    recomputes the same values exactly (see ``synthetic_coords_sql``)
    and spatial driver queries can carry full value oracles. u/2³² and
    the affine map are exact-dominated double ops with identical operand
    trees on both engines."""

    def u32(tag: str):
        h = F.md5(F.concat(F.lit(tag + "|"), F.col(series_col).cast("string")))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")

    lat = F.lit(58.0) + (u32("lat") / F.lit(4294967296.0)) * F.lit(box_deg)
    lon = F.lit(8.0) + (u32("lon") / F.lit(4294967296.0)) * F.lit(box_deg)
    elev = (u32("elev") % 500).cast("double")
    return df.withColumns({"lat": lat, "lon": lon, "elev": elev})


def synthetic_coords_sql(series_expr: str, box_deg: float = 3.0) -> dict[str, str]:
    """The ``with_synthetic_coords_portable`` columns in DuckDB, as SQL
    snippets over ``series_expr`` (a VARCHAR-castable column). The u32 is
    rebuilt from the first 8 md5 hex digits with a strpos polynomial —
    no hex-parse builtin needed."""

    def u32(tag: str) -> str:
        s = f"md5('{tag}|' || CAST({series_expr} AS VARCHAR))"
        terms = " + ".join(
            f"(strpos('0123456789abcdef', substr({s}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
            for i in range(8)
        )
        return f"({terms})"

    return {
        "lat": f"(58.0 + ({u32('lat')} / 4294967296.0) * {box_deg})",
        "lon": f"(8.0 + ({u32('lon')} / 4294967296.0) * {box_deg})",
        "elev": f"CAST({u32('elev')} % 500 AS DOUBLE)",
    }


def haversine_sql(lat_a: str, lon_a: str, lat_b: str, lon_b: str) -> str:
    """DuckDB twin of ``_haversine_matrix``'s formula (same operand tree:
    2·R·asin(sqrt(sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2))))."""
    return (
        f"(2.0 * {EARTH_RADIUS_M} * asin(sqrt("
        f"pow(sin((radians({lat_a}) - radians({lat_b})) / 2), 2) "
        f"+ cos(radians({lat_a})) * cos(radians({lat_b})) "
        f"* pow(sin((radians({lon_a}) - radians({lon_b})) / 2), 2))))"
    )


def _celled(
    base: DataFrame, cell_deg: float | None, halo_deg: float, ref_lat: float = 60.0
) -> tuple[DataFrame, list[str]]:
    """Cell bucketing + pruned halo duplication for spatial checks, shared
    by the grouped-kernel driver and the relational buddy path. ``base``
    must carry (series_id, ts, value, lat, lon, elev). Returns the frame
    with ``cell``/``is_halo`` columns and the group keys. The halo
    guarantee: every station within ``halo_deg`` (lat-degrees) of a cell
    has a copy inside that cell, so any per-cell computation over home
    rows sees its complete neighborhood."""
    if cell_deg is None:
        return (
            base.withColumn("cell", F.lit(0)).withColumn("is_halo", F.lit(False)),
            ["ts"],
        )
    # km-consistent cells: longitude is scaled by cos(ref_lat) so a
    # cell spans ~cell_deg·111 km on BOTH axes — otherwise the lon
    # direction covers only cos(lat) of the intended radius and
    # in-radius neighbors are silently dropped. ref_lat is a regional
    # assumption (our synthetic domain is 58-61N); at global scale the
    # bucketing key would be a proper equal-area cell (S2/H3-style),
    # same join shape.
    cos_ref = math.cos(math.radians(ref_lat))
    # home cell + as many neighbor rings as the check radius needs:
    # a station can influence checks up to halo_deg (lat-degrees) away
    rings = max(1, math.ceil(halo_deg / cell_deg))
    if rings > 3:
        raise ValueError(
            f"cell_deg={cell_deg} needs {rings} halo rings for a "
            f"{halo_deg:.2f}-degree check radius — duplication cost "
            f"explodes; use cell_deg >= {halo_deg / 3:.2f}"
        )
    cell_x = F.floor(F.col("lon") * cos_ref / cell_deg).cast("int")
    cell_y = F.floor(F.col("lat") / cell_deg).cast("int")
    offsets = [
        (dx, dy) for dx in range(-rings, rings + 1) for dy in range(-rings, rings + 1)
    ]
    off_df = base.sparkSession.createDataFrame(offsets, "dx int, dy int")
    # halo pruning: a halo copy only matters if the point can be
    # within the check radius of SOME point in the target cell, i.e.
    # its planar distance to the cell rectangle is ≤ halo_deg. The
    # 1.25 margin covers equirectangular-vs-haversine and cos(ref_lat)
    # distortion (<~10% on regional domains) — prune only what
    # provably cannot contribute. Cuts the (2r+1)² duplication to the
    # actual radius band (bucketed ≡ global stays exact; tested).
    prune_deg = halo_deg * 1.25 + 1e-9
    tx = (F.col("cx") + F.col("dx")).cast("double") * cell_deg
    ty = (F.col("cy") + F.col("dy")).cast("double") * cell_deg
    px = F.col("lon") * cos_ref
    py = F.col("lat")
    gap_x = F.greatest(F.lit(0.0), tx - px, px - (tx + cell_deg))
    gap_y = F.greatest(F.lit(0.0), ty - py, py - (ty + cell_deg))
    in_band = (gap_x * gap_x + gap_y * gap_y) <= F.lit(prune_deg * prune_deg)
    grouped = (
        base.withColumn("cx", cell_x)
        .withColumn("cy", cell_y)
        .crossJoin(F.broadcast(off_df))
        .withColumn("is_halo", (F.col("dx") != 0) | (F.col("dy") != 0))
        .filter(~F.col("is_halo") | in_band)
        .withColumn(
            "cell", F.concat_ws(":", F.col("cx") + F.col("dx"), F.col("cy") + F.col("dy"))
        )
        .drop("cx", "cy", "dx", "dy")
    )
    return grouped, ["ts", "cell"]


def _grouped_spatial(
    df: DataFrame,
    kernel,
    kernel_kwargs: dict,
    flag_name: str,
    value_col: str,
    series_col: str,
    ts_col: str,
    cell_deg: float | None,
    halo_deg: float,
    ref_lat: float = 60.0,
) -> DataFrame:
    """Shared driver for spatial checks: optional cell bucketing + halo
    duplication, grouped pandas UDF, one flag row per (series, ts)."""
    import pandas as pd

    from rove_spark.operators.util import parallel_groups

    base = df.select(
        F.col(series_col).cast("string").alias("series_id"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
        F.col("lat").cast("double"),
        F.col("lon").cast("double"),
        F.coalesce(F.col("elev"), F.lit(0.0)).cast("double").alias("elev"),
    )
    # spread the halo-explode stage: the upstream aggregate's exchange is
    # AQE-coalesced by bytes (1 partition at bench scale), which would run
    # the rows×rings cross-join + prune filter on one core
    base = parallel_groups(base, "ts")
    grouped, group_keys = _celled(base, cell_deg, halo_deg, ref_lat)

    def run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # halo-only group (a cell whose every row is somebody's halo
        # copy): no row of it is flagged here and the kernel's output
        # would be dropped wholesale — skip the O(n²) kernel outright.
        # At sf1.0 the near-single-cell synthetic domain produces one
        # such full-size mirror group per time slice (round 7).
        if not (~pdf["is_halo"]).any():
            return pd.DataFrame(
                {
                    "series_id": pdf["series_id"][:0],
                    "ts": pdf["ts"][:0],
                    flag_name: pdf["is_halo"][:0].astype("int8"),
                }
            )
        pdf = pdf.sort_values("series_id").reset_index(drop=True)
        flags = kernel(
            pdf["value"].to_numpy(np.float64),
            pdf["lat"].to_numpy(np.float64),
            pdf["lon"].to_numpy(np.float64),
            pdf["elev"].to_numpy(np.float64),
            check_mask=~pdf["is_halo"].to_numpy(bool),
            **kernel_kwargs,
        )
        keep = ~pdf["is_halo"].to_numpy(bool)
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"][keep],
                "ts": pdf["ts"][keep],
                flag_name: flags[keep].astype("int8"),
            }
        )

    return parallel_groups(grouped, *group_keys).groupBy(*group_keys).applyInPandas(
        run, f"series_id string, ts timestamp, {flag_name} tinyint"
    )


def haversine_col(lat_a, lon_a, lat_b, lon_b):
    """Column-expression twin of ``_haversine_block``'s formula (same
    operand tree: 2·R·asin(sqrt(sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2)))) —
    whole-stage-codegen haversine for the relational buddy path."""
    dlat = (F.radians(lat_a) - F.radians(lat_b)) / 2
    dlon = (F.radians(lon_a) - F.radians(lon_b)) / 2
    a = F.pow(F.sin(dlat), 2) + F.cos(F.radians(lat_a)) * F.cos(F.radians(lat_b)) * F.pow(
        F.sin(dlon), 2
    )
    return 2.0 * EARTH_RADIUS_M * F.asin(F.sqrt(F.least(F.lit(1.0), F.greatest(F.lit(0.0), a))))


def buddy_check_relational(
    df: DataFrame,
    value_col: str,
    radius: float,
    num_min: int,
    threshold: float,
    max_elev_diff: float = -1.0,
    elev_gradient: float = 0.0,
    min_std: float = 1.0,
    series_col: str = "conv_id",
    ts_col: str = "ts",
    cell_deg: float | None = None,
    ref_lat: float = 60.0,
) -> DataFrame:
    """Single-iteration buddy check as a PURE relational plan — no Python
    workers (round-4 verdict item 6). The SQL_BUDDY oracle proved the
    first iteration is plain relational math (haversine pair predicate +
    neighbor count/mean/variance + a flag CASE); this computes it with
    whole-stage-codegen column expressions: home rows join every row of
    their (ts, cell) — the halo guarantee makes that the complete
    neighborhood — then one groupBy builds the moments.

    Exactly the semantics of ``buddy_check_kernel`` at num_iterations=1
    (equality-gated in test_spatial): buddies are present values within
    ``radius`` (optionally elevation-gated/adjusted), variance is the
    biased Σ(v−m)²/n form, std floored at ``min_std``, FAIL on
    z>threshold with ≥num_min buddies, ISOLATED below num_min,
    DATA_MISSING on null.

    Numerics: moments are computed on values SHIFTED by the home row's own
    value c (a constant within each group, available on every pair row):
    var = E[(x−c)²] − E[x−c]², z = |E[x−c]| / std for present homes. The
    shift puts the working values at O(neighborhood spread) instead of
    O(|mean|), so the one-pass form keeps the kernel's centered-sum
    stability class even at mean ≈ 1e7 with unit spread (where raw
    E[x²]−m² cancels catastrophically and would silently floor std to
    min_std) — large-offset case gated in test_relational_equals_kernel.

    Duplicate (series_id, ts) rows round-trip like the kernel path: a
    per-row identity (frozen by the localCheckpoint materialization) is
    carried through the join so each input row gets its own flag instead
    of collapsing nondeterministically into one.

    Scale shape: one shuffle to the (ts, cell) join, one partial-agg
    groupBy back to (series, ts). Pair volume is bounded by cell size ×
    local density — same bound as the kernel's O(block·n) but streamed
    through codegen instead of materialized in numpy blocks."""
    base = df.select(
        F.col(series_col).cast("string").alias("series_id"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
        F.col("lat").cast("double"),
        F.col("lon").cast("double"),
        F.coalesce(F.col("elev"), F.lit(0.0)).cast("double").alias("elev"),
        # row identity: frozen by the localCheckpoint below, so duplicate
        # (series_id, ts) inputs each keep their own output row
        F.monotonically_increasing_id().alias("_rid"),
    )
    # the self-join below references base TWICE (home + neighbor sides);
    # without a materialization point Catalyst recomputes the caller's
    # whole upstream (e.g. a 10M-row hourly aggregate) once per side.
    # Lazy localCheckpoint materializes the narrow (series, ts, value,
    # coords) frame once on first use — tiny relative to the upstream,
    # and it truncates the plan the same way dedup's propagation does.
    # parallel_groups FIRST: the upstream aggregate's exchange is
    # byte-coalesced by AQE (often to ONE partition at bench scale) and
    # localCheckpoint freezes that partitioning — every downstream pair
    # row (rows × neighborhood, the expensive stage) would then stream
    # through a single core (measured: the whole 12.8M-pair stage on 1
    # partition at sf0.1). Partitioning on ts alone keeps any later
    # (ts, …)-clustered consumer exchange-free; series_id spreads ties.
    from rove_spark.operators.util import parallel_groups

    base = parallel_groups(base, "ts", "series_id").localCheckpoint(eager=False)
    grouped, group_keys = _celled(
        base, cell_deg, halo_deg=radius / 111_000.0, ref_lat=ref_lat
    )
    join_keys = group_keys if cell_deg is not None else ["ts"]
    # join_keys always includes "ts" (group_keys is ["ts"] or ["ts", "cell"]).
    # Only the NEIGHBOR side needs the halo explode: a home row is just
    # base plus its own cell key, so build it directly from base instead
    # of filtering the exploded frame — the self-join then materializes
    # the (rows × rings) halo once, not twice (~25% of the whole check
    # at sf0.1).
    if cell_deg is not None:
        cos_ref = math.cos(math.radians(ref_lat))
        home_cell = F.concat_ws(
            ":",
            F.floor(F.col("lon") * cos_ref / cell_deg).cast("int"),
            F.floor(F.col("lat") / cell_deg).cast("int"),
        )
        home = base.withColumn("cell", home_cell).select(
            *join_keys, "series_id", "_rid", "value", "lat", "lon", "elev"
        )
    else:
        home = base.select(*join_keys, "series_id", "_rid", "value", "lat", "lon", "elev")
    nbr = grouped.select(
        *join_keys,
        F.col("series_id").alias("_bsid"),
        F.col("value").alias("_bv"),
        F.col("lat").alias("_blat"),
        F.col("lon").alias("_blon"),
        F.col("elev").alias("_belev"),
    )
    dist = haversine_col(F.col("lat"), F.col("lon"), F.col("_blat"), F.col("_blon"))
    # cheap lat-band pre-conjunct (round 7): |Δlat| beyond radius/R (1%
    # margin) is provably farther than radius — the conjunction's value
    # is unchanged, but codegen short-circuits the transcendental
    # haversine for the pairs the band excludes (the win grows with
    # cell_deg/radius ratio at production scale)
    lat_band = math.degrees(radius / EARTH_RADIUS_M) * 1.01
    is_buddy = (
        (F.abs(F.col("lat") - F.col("_blat")) <= F.lit(lat_band))
        & (dist <= F.lit(radius))
        & (F.col("series_id") != F.col("_bsid"))
        & F.col("_bv").isNotNull()
    )
    if max_elev_diff >= 0:
        is_buddy = is_buddy & (
            F.abs(F.col("elev") - F.col("_belev")) <= F.lit(max_elev_diff)
        )
        if elev_gradient != 0.0:
            adj = F.col("_bv") + F.lit(elev_gradient) * (F.col("elev") - F.col("_belev"))
        else:
            adj = F.col("_bv")
    else:
        adj = F.col("_bv")
    # shift every buddy value by the home row's own value (constant within
    # the group): the moments then work on O(spread)-sized numbers — see
    # the docstring's numerics note
    shift = F.coalesce(F.col("value"), F.lit(0.0))
    pairs = home.join(nbr, join_keys).select(
        "series_id",
        "ts",
        "_rid",
        "value",
        (F.when(is_buddy, adj) - shift).alias("_y"),
    )
    stats = pairs.groupBy("series_id", "ts", "_rid").agg(
        F.first("value").alias("value"),
        F.count("_y").alias("_cnt"),
        F.avg("_y").alias("_dmean"),
        F.coalesce(
            F.avg(F.col("_y") * F.col("_y")) - F.avg("_y") * F.avg("_y"),
            F.lit(0.0),
        ).alias("_var"),
    )
    std = F.greatest(F.sqrt(F.greatest(F.col("_var"), F.lit(0.0))), F.lit(min_std))
    # |home − mean| = |home − (shift + dmean)| = |dmean| for present homes
    # (shift = home value); null homes flag DATA_MISSING before z is read
    z = F.abs(F.col("_dmean")) / std
    flag = (
        F.when(F.col("value").isNull(), F.lit(int(Flag.DATA_MISSING)))
        .when((F.col("_cnt") >= num_min) & (z > threshold), F.lit(int(Flag.FAIL)))
        .when(F.col("_cnt") < num_min, F.lit(int(Flag.ISOLATED)))
        .otherwise(F.lit(int(Flag.PASS)))
    )
    return stats.select(
        "series_id", "ts", flag.cast("tinyint").alias("flag_buddy_check")
    )


def buddy_check(
    df: DataFrame,
    value_col: str,
    radius: float,
    num_min: int,
    threshold: float,
    max_elev_diff: float = -1.0,
    elev_gradient: float = 0.0,
    min_std: float = 1.0,
    num_iterations: int = 1,
    series_col: str = "conv_id",
    ts_col: str = "ts",
    cell_deg: float | None = None,
    ref_lat: float = 60.0,
    force_kernel: bool = False,
) -> DataFrame:
    """Neighborhood-consistency check (titanlib-style; call-site surface at
    ``harness.rs:102-114``). Returns (series_id, ts, flag_buddy_check).

    Single-iteration calls (the default and the reference's common case)
    route to ``buddy_check_relational`` — pure codegen, no Python workers;
    FAIL-exclusion re-iterations (num_iterations > 1) need the stateful
    pool and run the numpy kernel. ``force_kernel`` pins the kernel path
    (equality-gate tests)."""
    if num_iterations <= 1 and not force_kernel:
        return buddy_check_relational(
            df,
            value_col,
            radius=radius,
            num_min=num_min,
            threshold=threshold,
            max_elev_diff=max_elev_diff,
            elev_gradient=elev_gradient,
            min_std=min_std,
            series_col=series_col,
            ts_col=ts_col,
            cell_deg=cell_deg,
            ref_lat=ref_lat,
        )
    return _grouped_spatial(
        df,
        buddy_check_kernel,
        dict(
            radius=radius,
            num_min=num_min,
            threshold=threshold,
            max_elev_diff=max_elev_diff,
            elev_gradient=elev_gradient,
            min_std=min_std,
            num_iterations=num_iterations,
        ),
        "flag_buddy_check",
        value_col,
        series_col,
        ts_col,
        cell_deg,
        halo_deg=radius / 111_000.0,
        ref_lat=ref_lat,
    )


# keyword parameters ``sct`` forwards to the kernel; ``check_mask`` is
# set per group by ``_grouped_spatial``, never by the caller
_SCT_PARAMS = frozenset(inspect.signature(sct_kernel).parameters) - {
    "values", "lat", "lon", "elev", "check_mask",
}


def sct(
    df: DataFrame,
    value_col: str,
    series_col: str = "conv_id",
    ts_col: str = "ts",
    cell_deg: float | None = None,
    ref_lat: float = 60.0,
    **params,
) -> DataFrame:
    """Spatial Consistency Test (call-site surface ``harness.rs:143-161``,
    defaults ``lib.rs:241-256``). Returns (series_id, ts, flag_sct).

    Runs ``sct_kernel`` once per (ts[, cell]) group in a grouped pandas
    UDF; with ``cell_deg`` set, each cell also sees an ``outer_radius``
    halo of its neighbors. ``params`` are ``sct_kernel``'s keyword
    parameters (``num_min``, ``num_max``, ``inner_radius``, …); any other
    key raises ``ValueError`` here, at plan time, instead of failing
    later inside a Python worker."""
    unknown = sorted(set(params) - _SCT_PARAMS)
    if unknown:
        raise ValueError(
            f"sct: unknown parameter(s) {unknown}; expected a subset of "
            f"{sorted(_SCT_PARAMS)}"
        )
    return _grouped_spatial(
        df,
        sct_kernel,
        params,
        "flag_sct",
        value_col,
        series_col,
        ts_col,
        cell_deg,
        halo_deg=params.get("outer_radius", 150_000.0) / 111_000.0,
        ref_lat=ref_lat,
    )
