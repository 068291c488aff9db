"""Low-dimensional embedding + topological-summary operators: t-SNE, UMAP,
Mapper — the reference's three viz-embedding analysis_types
(ckg/analytics_core/analytics/analytics.py:960 run_tsne, :1015 run_umap,
:2673 run_mapper), previously declared out of scope, now implemented from
the published algorithms (no sklearn/umap-learn/kepler-mapper in this
environment):

- t-SNE: exact Barnes-Hut-free gradient descent from van der Maaten &
  Hinton 2008 — per-point perplexity binary search, symmetrized P, early
  exaggeration, momentum schedule, PCA init (the reference passes
  init='pca' too, which also makes the output deterministic).
- UMAP: McInnes, Healy & Melville 2018 — exact kNN, smooth-kNN-distance
  calibration (rho/sigma binary search to log2(k)), fuzzy-union graph
  B = A + A^T - A∘A^T, (a, b) curve fit from min_dist, spectral init from
  the symmetric-normalized graph Laplacian, per-edge negative-sampling SGD
  with linearly decaying learning rate. Seeded (the reference seeds
  numpy's global RNG at :1033 for the same reason).
- Mapper: Singh/Mémoli/Carlsson 2007 — 2-D lens [anomaly score, L2 norm]
  (the reference's lens1 is an IsolationForest decision_function; an
  isolation forest from Liu/Ting/Zhou 2008 is implemented here directly),
  overlapping hypercube cover, per-cube complete-linkage agglomerative
  clustering on correlation distance (numpy agglomeration — the same
  linkage/affinity the reference passes to AgglomerativeClustering), and
  the nerve graph on shared members.

Scale posture: these are viz operators over the SAMPLES dimension of a
wide matrix (reference input: samples as rows, proteins as columns) —
dictionary-scale by construction, and t-SNE/UMAP/Mapper all need global
pairwise structure, so they run on the driver over a collected wide
matrix, guarded by the same truncated-count probe as the other
driver-bound tails (canonicalize.connected_components, graph_algos
louvain/GN/AP). At corpus scale, embed with run_pca (distributed) or
aggregate first; these three are summaries of sample cohorts, not
row-scale transforms.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .analytics import to_wide

# t-SNE/UMAP need the dense NxN pairwise structure; 4000 samples ~= 128 MB
# of float64 — far beyond any cohort the reference's viz layer handles.
DRIVER_VIZ_MAX_SAMPLES = 4_000


def _collect_wide(df: DataFrame, index: str = "subject"):
    """Wide numeric matrix for the samples cohort, guarded: a truncated
    count of the distinct samples refuses more than
    ``DRIVER_VIZ_MAX_SAMPLES`` before the pivot is collected."""
    cap = DRIVER_VIZ_MAX_SAMPLES
    if df.select(index).distinct().limit(cap + 1).count() > cap:
        raise ValueError(
            f"embedding viz operators are driver-bound over the samples "
            f"dimension; > {cap} distinct {index!r} values. Aggregate or "
            f"use run_pca (distributed) instead.")
    wide = to_wide(df, index=index).toPandas().set_index(index).sort_index()
    wide = wide.reindex(sorted(wide.columns), axis=1)
    X = wide.to_numpy(dtype=np.float64)
    X = np.nan_to_num(X, nan=0.0)
    return list(wide.index), X


# ---------------------------------------------------------------- t-SNE

def _pairwise_sq(X: np.ndarray) -> np.ndarray:
    s = (X * X).sum(axis=1)
    D = s[:, None] + s[None, :] - 2.0 * (X @ X.T)
    np.fill_diagonal(D, 0.0)
    return np.maximum(D, 0.0)


def _perplexity_probs(D: np.ndarray, perplexity: float) -> np.ndarray:
    """Row-stochastic P with per-row beta binary-searched so each row's
    Shannon perplexity hits the target (vdM&H 2008 §3.1)."""
    n = D.shape[0]
    target = np.log(perplexity)
    P = np.zeros((n, n))
    for i in range(n):
        lo, hi, beta = 0.0, np.inf, 1.0
        Di = np.delete(D[i], i)
        for _ in range(60):
            ex = np.exp(-Di * beta)
            s = ex.sum()
            if s <= 0:
                H, Pi = 0.0, np.zeros_like(ex)
            else:
                Pi = ex / s
                H = beta * (Di * Pi).sum() + np.log(s)
            if abs(H - target) < 1e-6:
                break
            if H > target:
                lo = beta
                beta = beta * 2 if hi == np.inf else (beta + hi) / 2
            else:
                hi = beta
                beta = (beta + lo) / 2
        P[i, np.arange(n) != i] = Pi
    return P


def _pca_project(X: np.ndarray, k: int) -> np.ndarray:
    Xc = X - X.mean(axis=0)
    U, S, Vt = np.linalg.svd(Xc, full_matrices=False)
    # deterministic sign convention: largest-|loading| positive per comp
    for j in range(min(k, Vt.shape[0])):
        m = np.argmax(np.abs(Vt[j]))
        if Vt[j, m] < 0:
            Vt[j] = -Vt[j]
            U[:, j] = -U[:, j]
    return (U[:, :k] * S[:k])


def tsne_embed(X: np.ndarray, n_components: int = 2,
               perplexity: float = 30.0, n_iter: int = 1000,
               learning_rate: float | None = None, seed: int = 0) -> np.ndarray:
    """Exact t-SNE on a numpy matrix; deterministic (PCA init).
    learning_rate None = sklearn's 'auto' heuristic
    max(n/early_exaggeration/4, 50) — a fixed hot rate (e.g. 200) makes
    small cohorts oscillate without converging (measured: KL stuck ~0.8
    at lr=200 vs 0.11 at auto on a 24-sample fixture)."""
    n = X.shape[0]
    if n <= n_components:
        return np.zeros((n, n_components))
    perplexity = min(perplexity, (n - 1) / 3.0)
    P = _perplexity_probs(_pairwise_sq(X), perplexity)
    P = (P + P.T) / (2.0 * n)
    P = np.maximum(P, 1e-12)
    Y = _pca_project(X, n_components)
    scale = Y.std(axis=0).max()
    Y = Y / (scale if scale > 0 else 1.0) * 1e-4
    rng = np.random.RandomState(seed)
    Y = Y + rng.randn(n, n_components) * 1e-6  # break exact ties only
    vel = np.zeros_like(Y)
    gains = np.ones_like(Y)
    exaggeration = 12.0
    exag_until = min(250, max(50, n_iter // 4))
    if learning_rate is None:
        learning_rate = max(n / exaggeration / 4.0, 50.0)
    P_run = P * exaggeration
    for it in range(n_iter):
        if it == exag_until:
            P_run = P
        num = 1.0 / (1.0 + _pairwise_sq(Y))
        np.fill_diagonal(num, 0.0)
        Q = np.maximum(num / num.sum(), 1e-12)
        PQ = (P_run - Q) * num
        grad = 4.0 * ((np.diag(PQ.sum(axis=1)) - PQ) @ Y)
        momentum = 0.5 if it < exag_until else 0.8
        gains = np.where(np.sign(grad) != np.sign(vel),
                         gains + 0.2, gains * 0.8)
        gains = np.maximum(gains, 0.01)
        vel = momentum * vel - learning_rate * gains * grad
        Y = Y + vel
        Y = Y - Y.mean(axis=0)
    return Y


def run_tsne(df: DataFrame, index: str = "subject", n_components: int = 2,
             perplexity: float = 30.0, n_iter: int = 1000,
             seed: int = 0) -> DataFrame:
    """Reference run_tsne analog (analytics.py:960; init='pca' as there).
    Long (subject, feature, value) in; (subject, x, y) out."""
    spark = df.sparkSession
    ids, X = _collect_wide(df, index=index)
    cols = ["x", "y", "z"][:n_components]
    schema = f"{index} string, " + ", ".join(f"{c} double" for c in cols)
    if not ids:
        return spark.createDataFrame([], schema)
    Y = tsne_embed(X, n_components=n_components, perplexity=perplexity,
                   n_iter=n_iter, seed=seed)
    out = pd.DataFrame(Y, columns=cols)
    out.insert(0, index, ids)
    return spark.createDataFrame(out, schema=schema)


# ----------------------------------------------------------------- UMAP

def _smooth_knn(dists: np.ndarray, k: int):
    """Per-point (rho, sigma): rho = nearest nonzero distance, sigma
    binary-searched so sum_j exp(-(d-rho)/sigma) = log2(k)."""
    n = dists.shape[0]
    target = np.log2(k)
    rho = np.zeros(n)
    sigma = np.ones(n)
    for i in range(n):
        nz = dists[i][dists[i] > 0]
        rho[i] = nz.min() if nz.size else 0.0
        lo, hi, mid = 0.0, np.inf, 1.0
        for _ in range(64):
            val = np.exp(-np.maximum(dists[i] - rho[i], 0.0) / mid).sum()
            if abs(val - target) < 1e-5:
                break
            if val > target:
                hi = mid
                mid = (lo + mid) / 2
            else:
                lo = mid
                mid = mid * 2 if hi == np.inf else (mid + hi) / 2
        sigma[i] = mid
    return rho, sigma


def _fit_ab(min_dist: float, spread: float = 1.0):
    """Least-squares fit of (1 + a d^{2b})^{-1} to the min_dist membership
    curve — umap-learn's find_ab_params, here as a damped Gauss-Newton in
    numpy (no scipy in this environment; analytic Jacobian)."""
    xv = np.linspace(1e-6, spread * 3, 300)
    yv = np.where(xv < min_dist, 1.0, np.exp(-(xv - min_dist) / spread))
    a, b = 1.0, 1.0
    lam = 1e-3
    xl = np.log(xv)

    def resid(a, b):
        return 1.0 / (1.0 + a * xv ** (2 * b)) - yv

    r = resid(a, b)
    for _ in range(200):
        t = a * xv ** (2 * b)
        denom = (1.0 + t) ** 2
        Ja = -(xv ** (2 * b)) / denom
        Jb = -2.0 * t * xl / denom
        J = np.c_[Ja, Jb]
        g = J.T @ r
        H = J.T @ J + lam * np.eye(2)
        step = np.linalg.solve(H, g)
        na, nb = max(a - step[0], 1e-6), max(b - step[1], 1e-6)
        nr = resid(na, nb)
        if (nr * nr).sum() < (r * r).sum():
            a, b, r = na, nb, nr
            lam = max(lam * 0.5, 1e-9)
            if np.abs(step).max() < 1e-10:
                break
        else:
            lam *= 10.0
    return float(a), float(b)


def umap_embed(X: np.ndarray, n_components: int = 2, n_neighbors: int = 10,
               min_dist: float = 0.3, n_epochs: int = 300,
               seed: int = 1145536) -> np.ndarray:
    """UMAP core on a numpy matrix (Euclidean metric), deterministic for a
    fixed seed. Default seed mirrors the reference's np.random.seed(1145536)
    (analytics.py:1033)."""
    n = X.shape[0]
    if n <= n_components + 1:
        return np.zeros((n, n_components))
    k = min(n_neighbors, n - 1)
    D = np.sqrt(_pairwise_sq(X))
    order = np.argsort(D, axis=1)
    knn_idx = order[:, 1:k + 1]
    knn_d = np.take_along_axis(D, knn_idx, axis=1)
    rho, sigma = _smooth_knn(knn_d, k)
    # directed membership, then fuzzy union
    A = np.zeros((n, n))
    w = np.exp(-np.maximum(knn_d - rho[:, None], 0.0) / sigma[:, None])
    for i in range(n):
        A[i, knn_idx[i]] = w[i]
    B = A + A.T - A * A.T
    a, b = _fit_ab(min_dist)
    # spectral init: bottom nontrivial eigenvectors of sym-normalized L
    deg = B.sum(axis=1)
    dinv = 1.0 / np.sqrt(np.maximum(deg, 1e-12))
    L = np.eye(n) - (dinv[:, None] * B * dinv[None, :])
    vals, vecs = np.linalg.eigh(L)
    Y = vecs[:, 1:n_components + 1]
    span = np.abs(Y).max()
    Y = Y / (span if span > 0 else 1.0) * 10.0
    rng = np.random.RandomState(seed)
    Y = Y + rng.normal(0, 1e-4, Y.shape)
    # per-edge SGD with negative sampling (umap-learn's optimize_layout)
    ei, ej = np.nonzero(np.triu(B, 1))
    wts = B[ei, ej]
    if ei.size == 0:
        return Y
    epochs_per_sample = wts.max() / np.maximum(wts, 1e-12)
    next_epoch = epochs_per_sample.copy()
    neg_rate = 5
    for epoch in range(n_epochs):
        alpha = 1.0 * (1.0 - epoch / n_epochs)
        hot = np.nonzero(next_epoch <= epoch)[0]
        if hot.size:
            # vectorized epoch: batched scatter-add in place of umap-learn's
            # asynchronous per-edge updates (same gradients, same negative-
            # sampling rate; update order within an epoch is immaterial to
            # the layout objective and this is ~50x faster in numpy)
            i, j = ei[hot], ej[hot]
            diff = Y[i] - Y[j]
            d2 = (diff * diff).sum(axis=1)
            pos = d2 > 0
            g = np.zeros_like(d2)
            g[pos] = (-2.0 * a * b * d2[pos] ** (b - 1.0)) / (
                1.0 + a * d2[pos] ** b)
            gv = np.clip(g[:, None] * diff, -4, 4)
            np.add.at(Y, i, alpha * gv)
            np.add.at(Y, j, -alpha * gv)
            for _ in range(neg_rate):
                m = rng.randint(0, n, size=hot.size)
                keep = m != i
                diff = Y[i] - Y[m]
                d2 = (diff * diff).sum(axis=1)
                g = (2.0 * b) / ((0.001 + d2) * (1.0 + a * d2 ** b))
                gv = np.clip(g[:, None] * diff, -4, 4)
                gv[~keep] = 0.0
                np.add.at(Y, i, alpha * gv)
            next_epoch[hot] += epochs_per_sample[hot]
    return Y


def run_umap(df: DataFrame, index: str = "subject", n_components: int = 2,
             n_neighbors: int = 10, min_dist: float = 0.3,
             n_epochs: int = 300, seed: int = 1145536) -> DataFrame:
    """Reference run_umap analog (analytics.py:1015; its defaults
    n_neighbors=10, min_dist=0.3). Long in; (subject, x, y) out."""
    spark = df.sparkSession
    ids, X = _collect_wide(df, index=index)
    cols = ["x", "y", "z"][:n_components]
    schema = f"{index} string, " + ", ".join(f"{c} double" for c in cols)
    if not ids:
        return spark.createDataFrame([], schema)
    Y = umap_embed(X, n_components=n_components, n_neighbors=n_neighbors,
                   min_dist=min_dist, n_epochs=n_epochs, seed=seed)
    out = pd.DataFrame(Y, columns=cols)
    out.insert(0, index, ids)
    return spark.createDataFrame(out, schema=schema)


# --------------------------------------------------------------- Mapper

def isolation_scores(X: np.ndarray, n_trees: int = 100,
                     subsample: int = 256, seed: int = 1729) -> np.ndarray:
    """Isolation-forest anomaly score (Liu/Ting/Zhou 2008): mean isolation
    path length over random trees, normalized to s = 2^(-E[h]/c(n)) in
    (0, 1]; HIGHER = more anomalous. The reference's lens1 is sklearn's
    decision_function on the same forest (random_state=1729, mirrored as
    the default seed); sklearn's sign convention (higher = more normal) is
    0.5 - s, applied by run_mapper below."""
    rng = np.random.RandomState(seed)
    n, d = X.shape
    psi = min(subsample, n)
    if psi < 2:
        return np.full(n, 0.5)  # single point: neutral score, c(1) = 0

    def c(m):
        if m <= 1:
            return 0.0
        return 2.0 * (np.log(m - 1) + 0.5772156649) - 2.0 * (m - 1) / m

    depth_cap = int(np.ceil(np.log2(max(psi, 2))))
    paths = np.zeros(n)
    for _ in range(n_trees):
        idx = rng.choice(n, size=psi, replace=False)
        # tree as recursive splits; evaluate all points through it
        def build(rows, depth):
            if depth >= depth_cap or rows.size <= 1:
                return ("leaf", rows.size)
            q = rng.randint(d)
            col = X[rows, q]
            lo, hi = col.min(), col.max()
            if lo == hi:
                return ("leaf", rows.size)
            p = rng.uniform(lo, hi)
            return ("split", q, p,
                    build(rows[col < p], depth + 1),
                    build(rows[col >= p], depth + 1))

        tree = build(idx, 0)

        def path(x, node, depth):
            while node[0] == "split":
                _, q, p, lt, ge = node
                node = lt if x[q] < p else ge
                depth += 1
            return depth + c(node[1])

        paths += np.array([path(X[i], tree, 0) for i in range(n)])
    Eh = paths / n_trees
    return 2.0 ** (-Eh / c(psi))


def _correlation_dist(M: np.ndarray) -> np.ndarray:
    """Pairwise correlation distance 1 - pearson(rows); constant rows
    (zero variance) get distance 0 to everything, matching the
    nan-tolerant behavior callers need on tiny cubes."""
    Mc = M - M.mean(axis=1, keepdims=True)
    norm = np.sqrt((Mc * Mc).sum(axis=1))
    safe = np.where(norm > 0, norm, 1.0)
    C = (Mc @ Mc.T) / (safe[:, None] * safe[None, :])
    C[norm == 0, :] = 1.0
    C[:, norm == 0] = 1.0
    D = 1.0 - C
    np.fill_diagonal(D, 0.0)
    return np.maximum(D, 0.0)


def _complete_linkage_labels(M: np.ndarray, n_clusters: int) -> np.ndarray:
    """Complete-linkage agglomerative clustering on correlation distance —
    the clusterer the reference passes to mapper.map (linkage='complete',
    affinity='correlation'). Naive O(m^3) agglomeration: cubes are tiny by
    construction (a cover cell of a dictionary-scale cohort)."""
    m = M.shape[0]
    if m <= n_clusters:
        return np.arange(m)
    # Lance-Williams update for complete linkage: after merging clusters
    # i and j, d(ij, k) = max(d(i, k), d(j, k)) — keeps the whole
    # agglomeration O(m^3) with vectorized row maxima
    D = _correlation_dist(M).astype(float)
    np.fill_diagonal(D, np.inf)
    active = list(range(m))
    members = {i: [i] for i in range(m)}
    while len(active) > n_clusters:
        sub = D[np.ix_(active, active)]
        flat = np.argmin(sub)
        ai, aj = divmod(flat, len(active))
        i, j = active[ai], active[aj]
        if i > j:
            i, j = j, i
        newd = np.maximum(D[i], D[j])
        D[i, :] = newd
        D[:, i] = newd
        D[i, i] = np.inf
        members[i].extend(members.pop(j))
        active.remove(j)
    labels = np.zeros(m, dtype=int)
    for lbl, i in enumerate(sorted(active)):
        labels[members[i]] = lbl
    return labels


def run_mapper(df: DataFrame, index: str = "subject", n_cubes: int = 15,
               overlap: float = 0.5, n_clusters: int = 3,
               seed: int = 1729):
    """Reference run_mapper analog (analytics.py:2673): 2-D lens
    [isolation-forest decision function, row L2 norm], overlapping
    n_cubes x n_cubes cover, complete-linkage/correlation clustering per
    cube, nerve graph on shared members. Returns (nodes DF
    (node_id, cube_a, cube_n, cluster, members array, size),
    links DF (a, b, shared))."""
    spark = df.sparkSession
    ids, X = _collect_wide(df, index=index)
    n = X.shape[0]
    if n == 0:
        return (spark.createDataFrame(
                    [], "node_id string, cube_a int, cube_n int, "
                        "cluster int, members array<string>, size int"),
                spark.createDataFrame([], "a string, b string, shared int"))
    lens1 = 0.5 - isolation_scores(X, seed=seed)   # sklearn sign convention
    lens2 = np.sqrt((X * X).sum(axis=1))
    lens = np.c_[lens1, lens2]
    # overlapping cover (KeplerMapper cube scheme): chunk = range/n_cubes,
    # each cube widened by the overlap fraction on both sides
    lo = lens.min(axis=0)
    rng_ = np.maximum(lens.max(axis=0) - lo, 1e-12)
    chunk = rng_ / n_cubes
    half = chunk * (1.0 + overlap) / 2.0
    member_sets: dict = {}
    for ca in range(n_cubes):
        for cb in range(n_cubes):
            center = lo + (np.array([ca, cb]) + 0.5) * chunk
            inside = np.all(np.abs(lens - center) <= half, axis=1)
            rows = np.nonzero(inside)[0]
            if rows.size == 0:
                continue
            labels = _complete_linkage_labels(X[rows], n_clusters)
            for cl in np.unique(labels):
                members = [ids[r] for r in rows[labels == cl]]
                node_id = f"c{ca}_{cb}_k{cl}"
                member_sets[node_id] = (ca, cb, int(cl), members)
    node_rows = [(nid, ca, cb, cl, sorted(ms), len(ms))
                 for nid, (ca, cb, cl, ms) in sorted(member_sets.items())]
    link_rows = []
    keys = sorted(member_sets)
    for i in range(len(keys)):
        si = set(member_sets[keys[i]][3])
        for j in range(i + 1, len(keys)):
            shared = si & set(member_sets[keys[j]][3])
            if shared:
                link_rows.append((keys[i], keys[j], len(shared)))
    nodes_df = spark.createDataFrame(
        node_rows, "node_id string, cube_a int, cube_n int, cluster int, "
                   "members array<string>, size int")
    links_df = spark.createDataFrame(
        link_rows or [], "a string, b string, shared int")
    return nodes_df, links_df
