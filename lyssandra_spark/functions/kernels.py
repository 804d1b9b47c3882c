"""Pure-numpy sparse-coding kernels (the engine's math core AND its oracle).

These reproduce the algorithms the reference library (ektormak/Lyssandra,
``lyssa/sparse_coding.py`` / ``lyssa/dict_learning.py`` — checkout empty at
survey time, see SURVEY.md §0) implements, from their defining papers:

- OMP: Pati, Rezaiifar, Krishnaprasad, Asilomar 1993.
- Batch-OMP: Rubinstein, Zibulevsky, Elad, Technion CS TR 2008, Alg. 3
  (precomputed Gram + progressive inverse update, no explicit residual).
- FISTA/LASSO: Beck & Teboulle, SIAM J. Imaging Sci. 2009.
- LLC: Wang et al., CVPR 2010, eq. 2-4 analytical solution.
- K-SVD: Aharon, Elad, Bruckstein, IEEE TSP 2006; approximate (single
  power-iteration) variant per Rubinstein 2008 Alg. 2.
- Online dictionary learning: Mairal, Bach, Ponce, Sapiro, ICML 2009
  Alg. 1-2 (sample-additive sufficient statistics A = sum(z z^T),
  B = sum(x z^T) — the form we distribute).

Conventions (pinned for determinism; distributed == local must hold allclose):

- Column-major samples: ``X`` is ``(n_features, n_samples)``, ``D`` is
  ``(n_features, n_atoms)`` with unit-L2 columns, codes ``Z`` are
  ``(n_atoms, n_samples)``.
- float64 everywhere inside kernels.
- argmax tie-break: lowest index wins (numpy argmax default).
- SVD/power-iteration sign: first element of the atom with
  ``|value| > 1e-12`` is made positive.
- Per-sample independence: every encoder treats each column of X
  independently given a fixed D, so results are invariant to how samples
  are batched/partitioned — the property the Spark distribution relies on.

No scipy (absent in the sandbox): ``numpy.linalg`` only.
"""

from __future__ import annotations

import os

import numpy as np

__all__ = [
    "omp",
    "batch_omp",
    "batch_omp_sparse",
    "fista_lasso",
    "llc",
    "llc_sparse",
    "ksvd_update",
    "odl_accumulate",
    "odl_update_dict",
    "init_dict",
    "normalize_cols",
    "replace_dead_atoms",
    "recon_error",
    "sparsity",
    "fix_sign",
]

_EPS = 1e-13


def normalize_cols(D: np.ndarray) -> np.ndarray:
    """Return D with each column scaled to unit L2 norm (zero cols left zero)."""
    D = np.asarray(D, dtype=np.float64)
    nrm = np.linalg.norm(D, axis=0)
    nrm = np.where(nrm < _EPS, 1.0, nrm)
    return D / nrm


def fix_sign(v: np.ndarray) -> np.ndarray:
    """Pin sign ambiguity: first entry with |v_i| > 1e-12 is made positive."""
    idx = np.nonzero(np.abs(v) > 1e-12)[0]
    if idx.size and v[idx[0]] < 0:
        return -v
    return v


def init_dict(X: np.ndarray, n_atoms: int, seed: int = 42) -> np.ndarray:
    """Seeded dictionary init: n_atoms distinct sample columns, L2-normalized.

    If fewer samples than atoms, remaining atoms are seeded Gaussian.
    Deterministic under ``numpy.random.default_rng(seed)``.
    """
    X = np.asarray(X, dtype=np.float64)
    d, n = X.shape
    rng = np.random.default_rng(seed)
    k = min(n_atoms, n)
    cols = rng.choice(n, size=k, replace=False)
    D = np.empty((d, n_atoms), dtype=np.float64)
    D[:, :k] = X[:, cols]
    if n_atoms > k:
        D[:, k:] = rng.standard_normal((d, n_atoms - k))
    D = normalize_cols(D)
    # degenerate (zero) columns -> random re-draw
    dead = np.linalg.norm(D, axis=0) < _EPS
    if dead.any():
        D[:, dead] = normalize_cols(rng.standard_normal((d, int(dead.sum()))))
    return D


def recon_error(D: np.ndarray, X: np.ndarray, Z: np.ndarray) -> np.ndarray:
    """Per-sample L2 reconstruction error ||x - D z||_2, shape (n_samples,)."""
    R = np.asarray(X, np.float64) - np.asarray(D, np.float64) @ np.asarray(Z, np.float64)
    return np.linalg.norm(R, axis=0)


def sparsity(Z: np.ndarray, tol: float = 0.0) -> np.ndarray:
    """Per-sample L0 pseudo-norm (count of |z| > tol), shape (n_samples,)."""
    return (np.abs(np.asarray(Z)) > tol).sum(axis=0).astype(np.int64)


# ---------------------------------------------------------------------------
# A1: OMP (explicit-residual reference implementation; per-column loop).
# Used as the independent cross-check for batch_omp. Not the hot path.
# ---------------------------------------------------------------------------

def omp(D: np.ndarray, X: np.ndarray, k: int, tol: float = 0.0) -> np.ndarray:
    """Orthogonal Matching Pursuit, textbook explicit-residual form.

    Greedy: pick atom most correlated with residual, least-squares refit on
    the support, repeat until k atoms or ||r|| <= tol.
    """
    D = np.asarray(D, dtype=np.float64)
    X = np.atleast_2d(np.asarray(X, dtype=np.float64))
    if X.shape[0] != D.shape[0]:
        raise ValueError(f"dim mismatch: D {D.shape}, X {X.shape}")
    d, m = D.shape
    n = X.shape[1]
    Z = np.zeros((m, n), dtype=np.float64)
    for s in range(n):
        x = X[:, s]
        r = x.copy()
        support: list[int] = []
        z_I = np.empty(0)
        for _ in range(k):
            if np.linalg.norm(r) <= tol:
                break
            c = np.abs(D.T @ r)
            if support:
                c[support] = -1.0
            j = int(np.argmax(c))  # lowest index wins on ties
            support.append(j)
            Dsub = D[:, support]
            z_I, *_ = np.linalg.lstsq(Dsub, x, rcond=None)
            r = x - Dsub @ z_I
        if support:
            Z[support, s] = z_I
    return Z


# ---------------------------------------------------------------------------
# A2: Batch-OMP (Rubinstein 2008 Alg. 3), vectorized across samples.
# Progressive inverse-Gram update (block-inverse rank-1 form) instead of
# progressive Cholesky — algebraically identical, batchable in pure numpy.
# ---------------------------------------------------------------------------

def batch_omp(
    D: np.ndarray,
    X: np.ndarray,
    k: int,
    tol: float = 0.0,
    G: np.ndarray | None = None,
    block: int | None = None,
) -> np.ndarray:
    """Batch-OMP: same output as :func:`omp`, amortizing G = D^T D across samples.

    Vectorized over samples; per-sample supports are tracked with a (k, n)
    index array and per-sample inverse Gram blocks with an (n, k, k) tensor
    updated by the block-matrix-inverse recursion. Columns are processed in
    cache-sized chunks (`block`) so the per-iteration working set
    (alpha/alpha0/Zsp/absbuf ~ 4*m*block*8 bytes) stays L2-resident —
    the difference between DRAM-bandwidth-bound and compute-bound when 32
    workers share one socket (measured: 32-proc aggregate throughput is
    ~30% higher and 8->32-proc scaling efficiency ~0.6 -> ~0.8+ at
    block=256 vs 1024 on a 32-core box). Per-sample independence => the
    selected support is invariant to the chunking and any outer
    batching/partitioning, and the coefficient values are invariant up to
    floating-point rounding (~1e-15 max observed diff across block sizes:
    BLAS takes shape-dependent GEMM paths, and LYSSANDRA_OMP_BLOCK is
    env-tunable) — do NOT build bit-exact hash checks on the raw values.
    """
    D = np.asarray(D, dtype=np.float64)
    X = np.atleast_2d(np.asarray(X, dtype=np.float64))
    d, m = D.shape
    n = X.shape[1]
    if n == 0:
        return np.zeros((m, 0), dtype=np.float64)
    support, zI, nsel, _ = batch_omp_sparse(D, X, k, tol=tol, G=G, block=block)
    k = support.shape[0]
    Z = np.zeros((m, n), dtype=np.float64)
    cols = np.arange(n)
    for t in range(int(nsel.max()) if n else 0):
        mask = nsel > t
        Z[support[t, mask], cols[mask]] = zI[mask, t]
    return Z


def batch_omp_sparse(
    D: np.ndarray,
    X: np.ndarray,
    k: int,
    tol: float = 0.0,
    G: np.ndarray | None = None,
    block: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Batch-OMP returning the sparse form directly — no (n_atoms, n) dense
    code matrix is ever materialized.

    Returns ``(support, zI, nsel, eps)``: selected atom indices ``(k, n)``,
    their coefficients ``(n, k)``, the per-sample selection count ``(n,)``,
    and the final residual energy ``||x - D z||^2`` per sample ``(n,)``
    (from the Batch-OMP progressive-error recursion, Rubinstein 2008 §2.2).
    Entries past ``nsel[s]`` are meaningless. The dense code costs ~3 x
    n_atoms x 8 B of memory traffic per sample (zero-fill + scatter +
    nonzero re-scan); at 128 atoms that's the single largest DRAM stream in
    the encode hot path, and CSR output (operators/encode.py) never needs it.
    """
    D = np.asarray(D, dtype=np.float64)
    X = np.atleast_2d(np.asarray(X, dtype=np.float64))
    d, m = D.shape
    n = X.shape[1]
    k = min(k, m)
    if block is None:
        block = int(os.environ.get("LYSSANDRA_OMP_BLOCK", "256"))
    if G is None:
        G = D.T @ D
    else:
        G = np.asarray(G, dtype=np.float64)
    if n == 0:
        return (
            np.zeros((k, 0), np.int64),
            np.zeros((0, k), np.float64),
            np.zeros(0, np.int64),
            np.zeros(0, np.float64),
        )
    if n > block:
        parts = [
            _batch_omp_block(D, X[:, i : i + block], k, tol, G)
            for i in range(0, n, block)
        ]
        return (
            np.concatenate([p[0] for p in parts], axis=1),
            np.concatenate([p[1] for p in parts], axis=0),
            np.concatenate([p[2] for p in parts]),
            np.concatenate([p[3] for p in parts]),
        )
    return _batch_omp_block(D, X, k, tol, G)


def _batch_omp_block(
    D: np.ndarray, X: np.ndarray, k: int, tol: float, G: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    d, m = D.shape
    n = X.shape[1]

    alpha0 = D.T @ X                       # (m, n)
    xnorm2 = np.einsum("ij,ij->j", X, X)   # ||x||^2, computed ONCE
    eps = xnorm2.copy()                    # residual energy ||r||^2
    tol2 = tol * tol

    support = np.zeros((k, n), dtype=np.int64)
    Binv = np.zeros((n, k, k), dtype=np.float64)   # inverse of G[I, I]
    zI = np.zeros((n, k), dtype=np.float64)
    nsel = np.zeros(n, dtype=np.int64)
    active = eps > max(tol2, _EPS)
    cols = np.arange(n)
    Zsp = np.zeros((m, n), dtype=np.float64)  # scatter buffer for GEMM update
    absbuf = np.empty((m, n), dtype=np.float64)
    gemmbuf = np.empty((m, n), dtype=np.float64)

    for t in range(k):
        if not active.any():
            break
        if t == 0:
            np.abs(alpha0, out=absbuf)
        else:
            # |alpha| = |alpha0 - G Zsp| without materializing alpha: one
            # fused pass over two arrays instead of three
            np.subtract(alpha0, gemmbuf, out=absbuf)
            np.abs(absbuf, out=absbuf)
        if t > 0:
            # mask already-selected atoms (lowest-index argmax tie-break)
            absbuf[support[:t, :], cols] = -1.0
        absbuf[:, ~active] = -1.0
        j = np.argmax(absbuf, axis=0)      # (n,), lowest index on ties
        # full == every sample still active (the common case when tol == 0):
        # index with views/whole arrays instead of a fancy-index gather per
        # read and a fresh (n_act, k, k) copy per Binv access — arithmetic
        # and results are bit-identical, only the copies go away.
        full = bool(active.all())
        act = cols if full else np.nonzero(active)[0]
        ja = j if full else j[act]
        support[t, act] = ja
        nsel[act] = t + 1
        # aI = alpha0[I, s] gathered once per iteration (direct integer
        # indexing == take_along_axis on the column slice, minus the slice
        # copy); reused by both the coefficient refit and the eps recursion.
        aI = alpha0[support[: t + 1, act], act]          # (t+1, n_act)

        if t == 0:
            Binv[act, 0, 0] = 1.0 / np.maximum(G[ja, ja], _EPS)
            zI[act, 0] = aI[0] * Binv[act, 0, 0]
            zI_t = zI[:, :1] if full else zI[act, :1]
        else:
            idx = support[:t, act]                       # (t, n_act)
            b = G[idx, ja].T                             # (n_act, t): G[I, j]
            Bn = Binv if full else Binv[act]             # view when full
            B = Bn[:, :t, :t]
            Bb = np.einsum("nij,nj->ni", B, b)           # (n_act, t)
            schur = G[ja, ja] - np.einsum("ni,ni->n", b, Bb)
            beta = 1.0 / np.maximum(schur, _EPS)
            # RHS below is evaluated into a temporary before the store, so
            # writing through the view while B aliases Bn is well-defined
            Bn[:, :t, :t] = B + beta[:, None, None] * np.einsum("ni,nj->nij", Bb, Bb)
            Bn[:, :t, t] = -beta[:, None] * Bb
            Bn[:, t, :t] = -beta[:, None] * Bb
            Bn[:, t, t] = beta
            if not full:
                Binv[act] = Bn
            zI_t = np.einsum("nij,jn->ni", Bn[:, : t + 1, : t + 1], aI)
            zI[act, : t + 1] = zI_t

        # alpha = alpha0 - G @ Zsp  where Zsp holds z_I scattered onto the
        # support — a dense GEMM (BLAS, cache-blocked) instead of a
        # (m, t+1, n) gather + einsum: ~6x less DRAM traffic, which is what
        # multi-core scaling on one box lives or dies by. Only the previous
        # support entries are unscattered (not a full-column memset).
        if t > 0:
            Zsp[support[:t, act], act] = 0.0
        Zsp[support[: t + 1, act], act] = zI_t.T
        if t + 1 < k:  # last iteration never selects again: skip the GEMM
            np.matmul(G, Zsp, out=gemmbuf)
        # residual energy: eps = ||x||^2 - z_I . alpha0_I (aI reused)
        eps[act] = np.maximum(
            xnorm2[act] - np.einsum("nt,tn->n", zI_t, aI), 0.0
        )
        active = eps > (tol2 if tol > 0.0 else _EPS)
        # tol == 0: run the full k iterations (planted-recovery semantics),
        # but freeze samples whose residual is numerically zero.

    return support, zI, nsel, eps


# ---------------------------------------------------------------------------
# A3: LASSO via FISTA (Beck & Teboulle 2009), fully matrix-parallel.
# ---------------------------------------------------------------------------

def _soft(v: np.ndarray, thr: float) -> np.ndarray:
    return np.sign(v) * np.maximum(np.abs(v) - thr, 0.0)


def fista_lasso(
    D: np.ndarray,
    X: np.ndarray,
    lam: float,
    n_iter: int = 500,
    tol: float = 1e-10,
    block: int | None = None,
) -> np.ndarray:
    """argmin_Z 0.5||X - D Z||_F^2 + lam * ||Z||_1 via FISTA.

    Step size 1/L with L = lambda_max(D^T D); Nesterov momentum; converges
    O(1/k^2). Columns processed in cache-sized chunks (per-sample
    independent => chunk-invariant up to the tol stop, which tests the max
    delta over a chunk); each chunk's iterates stay L2-resident, keeping 32
    concurrent workers off the DRAM-bandwidth ceiling. Default block 128
    (LYSSANDRA_FISTA_BLOCK): the fused loop keeps 5 (m, block) buffers + G
    + DtX live, ~0.9 MB at 128 atoms x 128 cols vs ~1.7 MB at 256 —
    measured 32-way saturated throughput is ~15% higher at 128 (183k vs
    159k cols/s on the 32-core box), and the bench config (tol=1e-7,
    100 iters) never triggers the early stop, so its output is unchanged.
    """
    D = np.asarray(D, dtype=np.float64)
    X = np.atleast_2d(np.asarray(X, dtype=np.float64))
    m = D.shape[1]
    n = X.shape[1]
    if block is None:
        block = int(os.environ.get("LYSSANDRA_FISTA_BLOCK", "128"))
    if n == 0:
        return np.zeros((m, 0), dtype=np.float64)
    G = D.T @ D
    L = max(float(np.linalg.eigvalsh(G)[-1]), _EPS)
    if n > block:
        return np.concatenate(
            [
                _fista_block(D, G, L, X[:, i : i + block], lam, n_iter, tol)
                for i in range(0, n, block)
            ],
            axis=1,
        )
    return _fista_block(D, G, L, X, lam, n_iter, tol)


def _fista_block(D, G, L, X, lam, n_iter, tol):
    # Fused, allocation-free form of the textbook loop
    #   Znew = soft(Y - (G @ Y - DtX) / L, lam / L)
    #   Y    = Znew + ((t-1)/tnew) * (Znew - Z)
    # Every binary op writes into one of five preallocated (m, n) buffers,
    # and soft-threshold is abs/subtract/maximum/copysign in place (copysign
    # reproduces sign(v)*max(|v|-thr, 0) exactly, incl. the v=0 case where
    # the max factor is 0). The op-for-op arithmetic — order, operands, the
    # x/L division — is unchanged, so the iterates are BIT-identical to the
    # original (asserted by test_fista_fused_matches_textbook); what goes
    # away is ~14 temporary allocations per iteration and the extra
    # |Znew - Z| recomputation for the tol check, which at the 22 s/round
    # bench leg was ~20% of per-iteration wall time on top of the GEMM.
    m = D.shape[1]
    n = X.shape[1]
    DtX = D.T @ X
    thr = lam / L
    Z = np.zeros((m, n), dtype=np.float64)
    Y = np.zeros((m, n), dtype=np.float64)
    V = np.empty((m, n), dtype=np.float64)
    A = np.empty((m, n), dtype=np.float64)
    diff = np.empty((m, n), dtype=np.float64)
    t = 1.0
    for _ in range(n_iter):
        np.matmul(G, Y, out=V)
        np.subtract(V, DtX, out=V)
        np.divide(V, L, out=V)
        np.subtract(Y, V, out=V)          # V = Y - (G @ Y - DtX)/L
        np.abs(V, out=A)
        np.subtract(A, thr, out=A)
        np.maximum(A, 0.0, out=A)
        np.copysign(A, V, out=A)          # A = Znew = soft(V, thr)
        np.subtract(A, Z, out=diff)       # diff = Znew - Z (also the tol gate)
        np.abs(diff, out=V)               # V is free: reuse for |diff|
        delta = float(V.max()) if Z.size else 0.0
        tnew = 0.5 * (1.0 + np.sqrt(1.0 + 4.0 * t * t))
        np.multiply(diff, (t - 1.0) / tnew, out=diff)
        np.add(A, diff, out=Y)            # Y = Znew + c * (Znew - Z)
        Z, A = A, Z                       # Z <- Znew; old Z becomes scratch
        t = tnew
        if delta <= tol:
            break
    return Z


# ---------------------------------------------------------------------------
# A4: LLC (Wang et al. 2010, eq. 2-4 analytical solution), batched.
# ---------------------------------------------------------------------------

def llc(
    D: np.ndarray, X: np.ndarray, knn: int = 5, beta: float = 1e-4,
    block: int = 512,
) -> np.ndarray:
    """Locality-constrained Linear Coding.

    For each sample: take its `knn` nearest atoms (Euclidean), solve the
    constrained least squares  min ||x - B w||^2 s.t. 1^T w = 1  in closed
    form: C = (B - x 1^T)^T (B - x 1^T); solve (C + beta*tr(C)*I) w = 1;
    w /= sum(w). Scatter w into the sparse code. Columns processed in
    cache-sized chunks of ``block`` samples. Each sample's solve is
    independent, but the distance GEMM runs per chunk and BLAS results
    depend on the operand shape, so codes are chunk-invariant only up to
    ulps — and a support holding near-duplicate atoms leaves the
    barely-regularized solve ill-conditioned enough to amplify those
    ulps into visible differences (0.13 observed between block 256 and
    512 on a dictionary with duplicated atoms). Use one fixed ``block``
    where bit-exact reproducibility matters.

    knn selection determinism: stable argsort => lowest atom index wins ties.
    """
    D = np.asarray(D, dtype=np.float64)
    X = np.atleast_2d(np.asarray(X, dtype=np.float64))
    d, m = D.shape
    n = X.shape[1]
    if n == 0:
        return np.zeros((m, 0), dtype=np.float64)
    knn = min(knn, m)
    if n > block:
        return np.concatenate(
            [_llc_block(D, X[:, i : i + block], knn, beta) for i in range(0, n, block)],
            axis=1,
        )
    return _llc_block(D, X, knn, beta)


def _llc_knn(D, X, knn):
    """Indices of the `knn` nearest atoms per sample, ascending distance.

    knn repeated masked-argmin passes instead of a full stable argsort of
    all m atoms: ~4x cheaper when knn << m (the argsort was >50% of the
    whole LLC kernel), and BIT-identical selection — argmin and stable
    ascending argsort both resolve ties to the lowest atom index
    (pinned by test_llc_knn_matches_stable_argsort).
    """
    # squared distances atoms x samples: ||d_j||^2 - 2 d_j.x + ||x||^2 (drop ||x||^2)
    d2 = np.sum(D * D, axis=0)[:, None] - 2.0 * (D.T @ X)    # (m, n)
    n = d2.shape[1]
    cols = np.arange(n)
    order = np.empty((knn, n), dtype=np.int64)
    for t in range(knn):
        j = np.argmin(d2, axis=0)                            # lowest index on ties
        order[t] = j
        d2[j, cols] = np.inf                                 # mask; d2 is block-local
    return order


def _llc_weights(D, X, order, beta):
    """Closed-form LLC weights for the given per-sample atom supports.

    Returns ``(w, shift)``: weights ``(n, knn)`` summing to 1, and the
    shifted-basis tensor ``B - x`` ``(d, knn, n)`` (reusable for the
    residual: sum_t w_t * shift_t == reconstruction - x since sum w = 1).
    """
    knn = order.shape[0]
    B = D[:, order]                                           # (d, knn, n)
    shift = B - X[:, None, :]                                 # (d, knn, n)
    C = np.einsum("dkn,dln->nkl", shift, shift)               # (n, knn, knn)
    tr = np.trace(C, axis1=1, axis2=2)                        # (n,)
    reg = beta * np.maximum(tr, _EPS)
    C = C + reg[:, None, None] * np.eye(knn)[None, :, :]
    ones = np.ones((X.shape[1], knn), dtype=np.float64)
    w = np.linalg.solve(C, ones)                              # (n, knn)
    w = w / np.sum(w, axis=1, keepdims=True)
    return w, shift


def _llc_block(D, X, knn, beta):
    d, m = D.shape
    n = X.shape[1]
    order = _llc_knn(D, X, knn)
    w, _ = _llc_weights(D, X, order, beta)
    Z = np.zeros((m, n), dtype=np.float64)
    cols = np.arange(n)
    for t in range(knn):
        Z[order[t], cols] = w[:, t]
    return Z


def llc_sparse(
    D: np.ndarray, X: np.ndarray, knn: int = 5, beta: float = 1e-4,
    block: int = 512,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """LLC returning the sparse form directly: ``(order, w, err)`` with
    supports ``(knn, n)``, weights ``(n, knn)``, and per-sample residual
    L2 norm ``(n,)`` — no (n_atoms, n) dense code matrix (the same
    dense-scatter-then-rescan traffic batch_omp_sparse removed for OMP).
    The residual comes from ``sum_t w_t * (B_t - x) = Dz - x`` (exact
    since ``sum_t w_t = 1``), so no (d, m) GEMM either.
    Same selection and weight arithmetic as :func:`llc`.
    """
    D = np.asarray(D, dtype=np.float64)
    X = np.atleast_2d(np.asarray(X, dtype=np.float64))
    n = X.shape[1]
    knn = min(knn, D.shape[1])
    if n == 0:
        return (
            np.zeros((knn, 0), np.int64),
            np.zeros((0, knn), np.float64),
            np.zeros(0, np.float64),
        )
    orders, ws, errs = [], [], []
    for i in range(0, n, block):
        Xb = X[:, i : i + block]
        order = _llc_knn(D, Xb, knn)
        w, shift = _llc_weights(D, Xb, order, beta)
        r = np.einsum("dkn,nk->dn", shift, w)                 # Dz - x
        orders.append(order)
        ws.append(w)
        errs.append(np.linalg.norm(r, axis=0))
    return (
        np.concatenate(orders, axis=1),
        np.concatenate(ws, axis=0),
        np.concatenate(errs),
    )


# ---------------------------------------------------------------------------
# A5: K-SVD dictionary update sweep (approximate variant, Rubinstein 2008
# Alg. 2 — single power iteration instead of full SVD; deterministic).
# ---------------------------------------------------------------------------

def ksvd_update(
    D: np.ndarray, X: np.ndarray, Z: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """One approximate-K-SVD sweep over all atoms.

    For atom j with using-set I: E = X_I - D Z_I + d_j z_{j,I};
    d_new = normalize(E z_j) (sign-pinned); z_{j,I} = E^T d_new.
    Guarantees the Frobenius reconstruction error is non-increasing.
    """
    D = np.array(D, dtype=np.float64, copy=True)
    X = np.asarray(X, dtype=np.float64)
    Z = np.array(Z, dtype=np.float64, copy=True)
    m = D.shape[1]
    for j in range(m):
        I = np.nonzero(Z[j])[0]
        if I.size == 0:
            continue
        zj = Z[j, I]
        E = X[:, I] - D @ Z[:, I] + np.outer(D[:, j], zj)
        dnew = E @ zj
        nrm = np.linalg.norm(dnew)
        if nrm < _EPS:
            continue
        dnew = fix_sign(dnew / nrm)
        D[:, j] = dnew
        Z[j, I] = E.T @ dnew
    return D, Z


def replace_dead_atoms(
    D: np.ndarray, X: np.ndarray, Z: np.ndarray, seed: int = 42
) -> np.ndarray:
    """Replace unused atoms with the currently worst-reconstructed samples."""
    D = np.array(D, dtype=np.float64, copy=True)
    X = np.asarray(X, dtype=np.float64)
    usage = (np.abs(Z) > 0).sum(axis=1)
    dead = np.nonzero(usage == 0)[0]
    if dead.size == 0:
        return D
    err = recon_error(D, X, Z)
    worst = np.argsort(-err, kind="stable")[: dead.size]
    rng = np.random.default_rng(seed)
    for di, si in zip(dead, worst):
        v = X[:, si]
        if np.linalg.norm(v) < _EPS:
            v = rng.standard_normal(D.shape[0])
        D[:, di] = fix_sign(v / np.linalg.norm(v))
    return D


# ---------------------------------------------------------------------------
# A6: Online dictionary learning (Mairal 2009) — sample-additive sufficient
# statistics. `odl_accumulate` is the per-partition map (associative +
# commutative => distributable as a grouped aggregate / treeAggregate);
# `odl_update_dict` is the driver-side block-coordinate atom update.
# ---------------------------------------------------------------------------

def odl_accumulate(
    X: np.ndarray, Z: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Return partial sufficient statistics (A, B) = (Z Z^T, X Z^T)."""
    X = np.asarray(X, dtype=np.float64)
    Z = np.asarray(Z, dtype=np.float64)
    return Z @ Z.T, X @ Z.T


def odl_update_dict(
    D: np.ndarray, A: np.ndarray, B: np.ndarray, n_iter: int = 1
) -> np.ndarray:
    """Mairal 2009 Alg. 2: block-coordinate descent on atoms given (A, B).

    Projects each atom onto the unit L2 ball; atoms with A_jj ~ 0 (unused)
    are left untouched (dead-atom handling is separate).
    """
    D = np.array(D, dtype=np.float64, copy=True)
    m = D.shape[1]
    for _ in range(n_iter):
        for j in range(m):
            ajj = A[j, j]
            if ajj < _EPS:
                continue
            u = (B[:, j] - D @ A[:, j]) / ajj + D[:, j]
            D[:, j] = u / max(np.linalg.norm(u), 1.0)
    return D
