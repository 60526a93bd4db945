"""numpy leaf kernels for the linear-algebra layer.

The reference solves recursion leaves with a local Crout LU inside
the driver JVM (`LUDecomposition.java:55-106` ``ludcmp``, called from
the leaf branch at `:686-699`). These are the same-shaped kernels in
*blocked* vectorized numpy (scipy is unavailable here): panel
factorization + dgemm trailing updates, so the O(n³) bulk runs in
BLAS instead of Python-level row loops.

- ``ludcmp``: blocked right-looking LU with partial pivoting. The
  reference pivots on the *signed* maximum (`LUDecomposition.java:63`,
  a quirk); we use the textbook absolute-value pivot and verify via
  residual properties rather than factor bit-matching (SURVEY.md §4).
- ``solve_lower_unit`` / ``solve_upper``: blocked triangular solves.
- ``lu_factors`` / ``lu_inverse``: the two composite leaf kernels that
  ``ops.leaf_task`` runs on a whole leaf — the factors with their
  pivot row, and the pre-pivoted triangular inverses.
"""

from __future__ import annotations

import numpy as np

PANEL = 128      # panel width: inner loops touch ≤PANEL columns


def ludcmp(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LU-decompose ``a`` with partial pivoting (blocked).

    Returns ``(lu, perm)`` where ``lu`` holds L (unit diagonal,
    strictly lower part) and U (upper part) packed together, and
    ``perm`` is the row permutation such that ``a[perm] = L @ U``.
    """
    a = np.array(a, dtype=np.float64, copy=True)
    n = a.shape[0]
    perm = np.arange(n)
    # Singularity gate: the reference clamps tiny pivots (to 1e-20,
    # `LUDecomposition.java:58`) and lets garbage propagate; failing
    # loudly is strictly safer for a distributed factorization, where
    # a poisoned leaf silently corrupts every downstream block.
    pivot_floor = np.finfo(np.float64).eps * max(n, 1) * np.abs(a).max()
    for k0 in range(0, n, PANEL):
        k1 = min(k0 + PANEL, n)
        # panel factorization (unblocked over ≤PANEL columns; row
        # swaps apply to the full rows so L's left part stays aligned)
        for k in range(k0, k1):
            p = k + int(np.argmax(np.abs(a[k:, k])))
            if p != k:
                a[[k, p]] = a[[p, k]]
                perm[[k, p]] = perm[[p, k]]
            piv = a[k, k]
            if abs(piv) <= pivot_floor:
                raise np.linalg.LinAlgError(
                    f"singular leaf: |pivot|={abs(piv):.3e} at k={k} "
                    f"(floor {pivot_floor:.3e} = eps*n*max|A|)"
                )
            a[k + 1:, k] /= piv
            if k + 1 < n and k + 1 < k1:
                a[k + 1:, k + 1:k1] -= np.outer(
                    a[k + 1:, k], a[k, k + 1:k1]
                )
        if k1 < n:
            # U12 = L11⁻¹ · A12   (small forward substitution)
            lower11 = np.tril(a[k0:k1, k0:k1], -1) + np.eye(k1 - k0)
            a[k0:k1, k1:] = _solve_lower_unit_unblocked(
                lower11, a[k0:k1, k1:]
            )
            # trailing dgemm: A22 -= L21 · U12
            a[k1:, k1:] -= a[k1:, k0:k1] @ a[k0:k1, k1:]
    return a, perm


def split_lu(lu: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Unpack ``ludcmp`` output into (L unit-lower, U upper)."""
    lower = np.tril(lu, -1) + np.eye(lu.shape[0])
    upper = np.triu(lu)
    return lower, upper


def _solve_lower_unit_unblocked(lower: np.ndarray,
                                b: np.ndarray) -> np.ndarray:
    x = np.array(b, dtype=np.float64, copy=True)
    for i in range(1, lower.shape[0]):
        x[i] -= lower[i, :i] @ x[:i]
    return x


def solve_lower_unit(lower: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Solve L·X = B for unit-lower-triangular L (blocked forward)."""
    n = lower.shape[0]
    x = np.array(b, dtype=np.float64, copy=True)
    for k0 in range(0, n, PANEL):
        k1 = min(k0 + PANEL, n)
        for i in range(k0 + 1, k1):
            x[i] -= lower[i, k0:i] @ x[k0:i]
        if k1 < n:
            x[k1:] -= lower[k1:, k0:k1] @ x[k0:k1]
    return x


def solve_upper(upper: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Solve U·X = B for upper-triangular U (blocked backward)."""
    n = upper.shape[0]
    x = np.array(b, dtype=np.float64, copy=True)
    for k1 in range(n, 0, -PANEL):
        k0 = max(k1 - PANEL, 0)
        for i in range(k1 - 1, k0 - 1, -1):
            if i + 1 < k1:
                x[i] -= upper[i, i + 1:k1] @ x[i + 1:k1]
            x[i] /= upper[i, i]
        if k0 > 0:
            x[:k0] -= upper[:k0, k0:k1] @ x[k0:k1]
    return x


def inv_lower_unit(lower: np.ndarray) -> np.ndarray:
    """Invert a unit-lower-triangular matrix.

    Uses LAPACK via ``np.linalg.inv`` — it ignores the triangular
    structure but is backward-stable to the same residual as the
    blocked substitution (verified) and ~6× faster at leaf sizes (the
    Python panel loop costs ~0.8 s at n=1024; this is on the inverse
    critical path once per leaf)."""
    return np.linalg.inv(lower)


def inv_upper(upper: np.ndarray) -> np.ndarray:
    """Invert an upper-triangular matrix (LAPACK; see
    :func:`inv_lower_unit` for why not the blocked substitution)."""
    return np.linalg.inv(upper)


def lu_factors(a: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Leaf LU: (L unit-lower, U upper, pivot row) with ``a[perm] =
    L @ U``; the pivot is a 1×n float row so it travels as a block."""
    lu, perm = ludcmp(a)
    lower, upper = split_lu(lu)
    return lower, upper, perm.astype(np.float64)[None, :]


def lu_inverse(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Leaf LU plus triangular inversion: (J, U⁻¹) with J = L⁻¹·P, the
    pivot folded into L⁻¹'s columns, so ``inv(a) = U⁻¹ @ J`` and no
    pivot vector leaves the leaf (the reference likewise applies
    pivots by index indirection, `Read_LU.java:66-92`)."""
    lu, perm = ludcmp(a)
    lower, upper = split_lu(lu)
    return inv_lower_unit(lower)[:, np.argsort(perm)], inv_upper(upper)
