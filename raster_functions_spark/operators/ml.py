"""ML inference operators — SURVEY.md §2.9, implemented from scratch.

The reference wraps sklearn models (KNeighborsClassifier, NearestNeighbors,
RandomForestClassifier, GradientBoostedClassifier) and statsmodels SARIMAX
behind its UDF protocol; sklearn/statsmodels are not in this environment,
so the models are small pure-NumPy implementations fitted driver-side on
the (broadcastable) training table and applied per-pixel inside Arrow
batches — the same broadcast-train / vectorized-predict shape the Spark
deployment of the reference would use.

The SARIMA delta tiles are full-stack composites of :mod:`.stack` (the
tile-row contract of :mod:`raster`, ``n_obs`` = member count) and the
per-group forecasters run on :func:`stack.grouped_sorted_map`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from ..raster import TileOp
from .stack import _composite, grouped_sorted_map


# ------------------------------------------------------------- kNN ---------

def _knn_predict(X: np.ndarray, train_X: np.ndarray, train_y: np.ndarray,
                 k: int) -> np.ndarray:
    """Vectorized kNN vote: pairwise squared distances in one gemm-shaped
    expression, stable argsort for the k nearest (replaces the reference's
    sklearn fit+predict, KNearestNeighborsClassifier.py:116-117). The
    stable sort makes distance ties deterministic (smallest training index
    wins) — required for cross-engine oracle parity on integer features."""
    d2 = ((X ** 2).sum(1)[:, None] - 2.0 * X @ train_X.T
          + (train_X ** 2).sum(1)[None, :])
    idx = np.argsort(d2, axis=1, kind="stable")[:, :k]
    labels = train_y[idx]
    # majority vote; deterministic tie-break = smallest label
    out = np.empty(X.shape[0], dtype=train_y.dtype)
    for i in range(X.shape[0]):
        vals, counts = np.unique(labels[i], return_counts=True)
        out[i] = vals[np.argmax(counts)]
    return out


def knn_classifier(train_X: np.ndarray, train_y: np.ndarray, k: int = 5) -> TileOp:
    """Per-pixel kNN classification: features = band values
    (KNearestNeighborsClassifier.py:104-128 behavior)."""
    tX = np.asarray(train_X, dtype=np.float64)
    ty = np.asarray(train_y)

    def fn(px, meta):
        bands, h, w = px.shape
        X = px.reshape(bands, -1).T.astype(np.float64)
        pred = _knn_predict(X, tX, ty, k)
        return pred.reshape(1, h, w).astype(np.float32)

    return TileOp("knn_classifier", fn, bands_out=1, dtype_out="f4")


def nearest_neighbors(train_X: np.ndarray, train_y: np.ndarray, k: int = 3) -> TileOp:
    """k neighbor labels as k output bands — NearestNeighborsClassifier
    (NearestNeighborsClassifier.py:126-158 behavior)."""
    tX = np.asarray(train_X, dtype=np.float64)
    ty = np.asarray(train_y, dtype=np.float64)

    def fn(px, meta):
        bands, h, w = px.shape
        X = px.reshape(bands, -1).T.astype(np.float64)
        d2 = ((X ** 2).sum(1)[:, None] - 2.0 * X @ tX.T + (tX ** 2).sum(1)[None, :])
        # stable: distance ties break on training index (cross-engine parity)
        idx = np.argsort(d2, axis=1, kind="stable")[:, :k]
        return ty[idx].T.reshape(k, h, w).astype(np.float32)

    return TileOp("nearest_neighbors", fn, bands_out=k, dtype_out="f4")


# ------------------------------------------------- decision forest ---------

class _Tree:
    """Minimal CART classifier (gini, axis-aligned splits) — from scratch."""

    def __init__(self, max_depth: int = 6, min_leaf: int = 2, rng=None,
                 feature_frac: float = 1.0):
        self.max_depth = max_depth
        self.min_leaf = min_leaf
        self.rng = rng or np.random.default_rng(0)
        self.feature_frac = feature_frac
        self.nodes: list[tuple] = []  # (feat, thr, left, right) or ("leaf", label)

    def fit(self, X, y):
        self.classes_ = np.unique(y)
        self._grow(X, y, 0)
        return self

    def _grow(self, X, y, depth) -> int:
        node_id = len(self.nodes)
        self.nodes.append(None)
        vals, counts = np.unique(y, return_counts=True)
        majority = vals[np.argmax(counts)]
        if depth >= self.max_depth or len(vals) == 1 or y.size < 2 * self.min_leaf:
            self.nodes[node_id] = ("leaf", majority)
            return node_id
        best = None
        n_feat = X.shape[1]
        feats = self.rng.choice(n_feat, max(1, int(n_feat * self.feature_frac)),
                                replace=False)
        base_gini = self._gini(y)
        for f in feats:
            xs = np.unique(X[:, f])
            if xs.size < 2:
                continue
            thrs = (xs[:-1] + xs[1:]) / 2.0
            if thrs.size > 16:
                thrs = thrs[:: max(1, thrs.size // 16)]
            for t in thrs:
                left = X[:, f] <= t
                nl = int(left.sum())
                if nl < self.min_leaf or y.size - nl < self.min_leaf:
                    continue
                g = (nl * self._gini(y[left])
                     + (y.size - nl) * self._gini(y[~left])) / y.size
                if best is None or g < best[0]:
                    best = (g, f, t, left)
        if best is None or best[0] >= base_gini:
            self.nodes[node_id] = ("leaf", majority)
            return node_id
        _, f, t, left = best
        li = self._grow(X[left], y[left], depth + 1)
        ri = self._grow(X[~left], y[~left], depth + 1)
        self.nodes[node_id] = (int(f), float(t), li, ri)
        return node_id

    @staticmethod
    def _gini(y) -> float:
        _, c = np.unique(y, return_counts=True)
        p = c / c.sum()
        return float(1.0 - (p ** 2).sum())

    def predict(self, X) -> np.ndarray:
        out = np.empty(X.shape[0])
        for i in range(X.shape[0]):
            n = 0
            while True:
                node = self.nodes[n]
                if node[0] == "leaf":
                    out[i] = node[1]
                    break
                f, t, li, ri = node
                n = li if X[i, f] <= t else ri
        return out


class RandomForest:
    """Bagged CART ensemble (from scratch; deterministic seed) — stands in
    for sklearn RandomForestClassifier (RandomForestClassifier.py:92-111).
    Class probabilities = vote fractions (the reference's 3 output bands:
    class + top-2 probabilities)."""

    def __init__(self, n_trees: int = 16, max_depth: int = 6, seed: int = 42):
        self.n_trees = n_trees
        self.max_depth = max_depth
        self.seed = seed

    def fit(self, X, y):
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y)
        self.classes_ = np.unique(y)
        self.trees = []
        rng = np.random.default_rng(self.seed)
        for t in range(self.n_trees):
            idx = rng.integers(0, X.shape[0], X.shape[0])
            tree = _Tree(self.max_depth, rng=np.random.default_rng(self.seed + t + 1),
                         feature_frac=0.8)
            tree.fit(X[idx], y[idx])
            self.trees.append(tree)
        return self

    def predict_proba(self, X) -> np.ndarray:
        X = np.asarray(X, dtype=np.float64)
        votes = np.zeros((X.shape[0], self.classes_.size))
        for tree in self.trees:
            pred = tree.predict(X)
            for ci, c in enumerate(self.classes_):
                votes[:, ci] += pred == c
        return votes / self.n_trees

    def predict(self, X) -> np.ndarray:
        return self.classes_[np.argmax(self.predict_proba(X), axis=1)]


def random_forest_classifier(train_X: np.ndarray, train_y: np.ndarray,
                             n_trees: int = 16, max_depth: int = 6) -> TileOp:
    """Per-pixel RF classification → 3 bands: class, p(best), p(second) —
    output shape of RandomForestClassifier.py:92-111."""
    model = RandomForest(n_trees, max_depth).fit(train_X, train_y)

    def fn(px, meta):
        bands, h, w = px.shape
        X = px.reshape(bands, -1).T.astype(np.float64)
        proba = model.predict_proba(X)
        order = np.argsort(-proba, axis=1)
        cls = model.classes_[order[:, 0]].astype(np.float64)
        p1 = proba[np.arange(len(X)), order[:, 0]]
        p2 = (proba[np.arange(len(X)), order[:, 1]]
              if proba.shape[1] > 1 else np.zeros(len(X)))
        return np.stack([cls.reshape(h, w), p1.reshape(h, w),
                         p2.reshape(h, w)]).astype(np.float32)

    return TileOp("random_forest", fn, bands_out=3, dtype_out="f4")


def _fit_binary_boost(X: np.ndarray, y01: np.ndarray, n_rounds: int,
                      max_depth: int, lr: float, seed: int):
    """One binary logit-boosting ensemble; returns the tree list."""
    trees = []
    pred = np.zeros(X.shape[0])
    for r in range(n_rounds):
        p = 1.0 / (1.0 + np.exp(-pred))
        resid = y01 - p
        tree = _Tree(max_depth, rng=np.random.default_rng(seed + r))
        tree.fit(X, (resid > 0).astype(np.int64))
        # leaf value = mean residual of samples routed to each side (stump-ish)
        step = tree.predict(X) * 2 - 1
        gamma = (resid * step).sum() / max((np.abs(step)).sum(), 1e-12)
        trees.append((tree, gamma))
        pred = pred + lr * gamma * step
    return trees


def _boost_score(trees, Xp: np.ndarray, lr: float) -> np.ndarray:
    acc = np.zeros(Xp.shape[0])
    for tree, gamma in trees:
        acc += lr * gamma * (tree.predict(Xp) * 2 - 1)
    return 1.0 / (1.0 + np.exp(-acc))


def gradient_boosted_classifier(train_X: np.ndarray, train_y: np.ndarray,
                                n_rounds: int = 20, max_depth: int = 3,
                                lr: float = 0.3) -> TileOp:
    """Gradient-boosted stumps (logit boosting, from scratch) — capability
    analog of GradientBoostedClassifier.py:95-112. Binary labels use one
    ensemble (output bands [class, p]); K>2 classes train one-vs-rest
    ensembles with softmax-normalized scores (output bands
    [class, p_class0, …, p_classK-1], matching the reference's
    pred + predict_proba band layout)."""
    X = np.asarray(train_X, dtype=np.float64)
    yy = np.asarray(train_y)
    classes = np.unique(yy)
    if classes.size == 2:
        trees = _fit_binary_boost(X, (yy == classes[1]).astype(np.float64),
                                  n_rounds, max_depth, lr, 1000)

        def fn(px, meta):
            bands, h, w = px.shape
            Xp = px.reshape(bands, -1).T.astype(np.float64)
            p = _boost_score(trees, Xp, lr)
            cls = np.where(p >= 0.5, classes[1], classes[0]).astype(np.float64)
            return np.stack([cls.reshape(h, w), p.reshape(h, w)]).astype(np.float32)

        return TileOp("gbt_classifier", fn, bands_out=2, dtype_out="f4")

    # one-vs-rest: K ensembles, normalized per-class probabilities
    ensembles = [
        _fit_binary_boost(X, (yy == c).astype(np.float64),
                          n_rounds, max_depth, lr, 1000 + 7919 * k)
        for k, c in enumerate(classes)]

    def fn(px, meta):
        bands, h, w = px.shape
        Xp = px.reshape(bands, -1).T.astype(np.float64)
        P = np.stack([_boost_score(t, Xp, lr) for t in ensembles], axis=1)
        P = P / np.maximum(P.sum(axis=1, keepdims=True), 1e-12)
        cls = classes[P.argmax(axis=1)].astype(np.float64)
        out = [cls.reshape(h, w)] + [P[:, k].reshape(h, w)
                                     for k in range(classes.size)]
        return np.stack(out).astype(np.float32)

    return TileOp("gbt_classifier", fn, bands_out=1 + classes.size,
                  dtype_out="f4")


# ------------------------------------------------ seasonal forecast --------

def sarima_css_fit_batch(Y: np.ndarray, period: int = 12,
                         iters: int = 25) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Conditional-sum-of-squares fit of SARIMA (1,0,0)×(1,0,0,s) with a
    constant, from scratch, VECTORIZED over many series at once
    (Y: (n_series, T)) — the role statsmodels SARIMAX plays in
    SeasonalARIMA.py:199-204 (order + seasonal order + trend='c').

    Model:  y_t = c + φ·y_{t-1} + Φ·y_{t-s} − φΦ·y_{t-s-1} + e_t
    (the multiplicative AR polynomial (1−φB)(1−ΦB^s)).

    CSS is quadratic in (c, φ) for fixed Φ and in (c, Φ) for fixed φ, so
    coordinate descent alternates two exact OLS solves — each step is
    closed-form sums over t, so the whole fit is whole-array NumPy with no
    per-series Python loop, and CSS decreases monotonically.

    Returns (c, phi, Phi), each shape (n_series,)."""
    Y = np.asarray(Y, dtype=np.float64)
    s = period
    yt = Y[:, s + 1:]
    y1 = Y[:, s:-1]         # y_{t-1}
    ys = Y[:, 1:-s]         # y_{t-s}
    ys1 = Y[:, :-s - 1]     # y_{t-s-1}
    n = Y.shape[0]
    phi = np.zeros(n)
    Phi = np.zeros(n)

    def _ols(u, v):
        """Per-series OLS of u on v with intercept → (slope, intercept)."""
        mu_u = u.mean(axis=1)
        mu_v = v.mean(axis=1)
        cov = ((u - mu_u[:, None]) * (v - mu_v[:, None])).mean(axis=1)
        var = ((v - mu_v[:, None]) ** 2).mean(axis=1)
        slope = np.where(var > 1e-12, cov / np.maximum(var, 1e-12), 0.0)
        return slope, mu_u - slope * mu_v

    c = np.zeros(n)
    for _ in range(iters):
        # solve (phi, c) | Phi:  u = y_t − Φ y_{t-s},  v = y_{t-1} − Φ y_{t-s-1}
        u = yt - Phi[:, None] * ys
        v = y1 - Phi[:, None] * ys1
        phi, c = _ols(u, v)
        # solve (Phi, c) | phi:  u = y_t − φ y_{t-1},  v = y_{t-s} − φ y_{t-s-1}
        u = yt - phi[:, None] * y1
        v = ys - phi[:, None] * ys1
        Phi, c = _ols(u, v)
    # clamp to the (open) stationarity box — CSS without the constraint can
    # wander for short noisy series, matching enforce_stationarity=False
    # would allow it, but forecasts then explode; clamp like a practitioner
    phi = np.clip(phi, -0.999, 0.999)
    Phi = np.clip(Phi, -0.999, 0.999)
    return c, phi, Phi


def _batched_ols(X: np.ndarray, y: np.ndarray, ridge: float = 1e-9) -> np.ndarray:
    """OLS over many small problems at once: X (n, T, k), y (n, T) →
    beta (n, k) via batched normal equations (one np.linalg.solve over the
    (n, k, k) stack — no per-series Python loop). A trace-scaled ridge term
    keeps near-singular systems (constant pixels) solvable."""
    XtX = np.einsum("ntk,ntj->nkj", X, X)
    Xty = np.einsum("ntk,nt->nk", X, y)
    k = X.shape[2]
    scale = np.maximum(np.trace(XtX, axis1=1, axis2=2) / k, 1.0)
    XtX = XtX + (ridge * scale)[:, None, None] * np.eye(k)[None]
    return np.linalg.solve(XtX, Xty)


def sarima_hr_fit_batch(Y: np.ndarray, period: int = 12, P: int = 1,
                        Q: int = 0, iters: int = 2) -> dict:
    """Hannan–Rissanen CSS-style fit of (1,0,0)×(P,0,Q,s)+c, vectorized
    over many series (Y already seasonally differenced if D>0).

    The reference accepts arbitrary seasonal (P,D,Q,s) with fixed
    non-seasonal (1,0,0)+c (SeasonalARIMA.py:138-142,176-179, trend='c');
    statsmodels solves the nonlinear CSS/ML problem per pixel. Here the
    seasonal-MA term makes CSS nonlinear, so the classical two-step
    Hannan–Rissanen estimator is used: (1) a long-AR fit whitens each
    series to residual estimates, (2) OLS of y_t on lagged y's and lagged
    step-1 residuals gives the ARMA coefficients; a refinement pass
    recomputes residuals recursively under the fitted model and re-runs
    the regression. Every step is a batched closed-form solve.

    Returns {"c", "a1", "as", "as1", "theta"} arrays, the linear predictive
    form  y_t = c + a1·y_{t-1} + as·y_{t-s} + as1·y_{t-s-1} + θ·e_{t-s}
    (as/as1 zero when P=0, θ zero when Q=0; the multiplicative-AR constraint
    as1 = −a1·as is left unconstrained, standard for HR)."""
    Y = np.asarray(Y, dtype=np.float64)
    n, T = Y.shape
    s = period
    zeros = np.zeros(n)
    M = max(1, (s + 1) if P >= 1 else 0, s if Q >= 1 else 0)
    if T <= M + 2:                       # too short for the seasonal lags
        b = _batched_ols(
            np.stack([np.ones((n, T - 1)), Y[:, :-1]], axis=2), Y[:, 1:])
        return {"c": b[:, 0], "a1": np.clip(b[:, 1], -0.999, 0.999),
                "as": zeros, "as1": zeros, "theta": zeros}

    # step 1: long AR (lags 1..L) → residual estimates
    L = min(max(s + 1, 4), T - 2)
    X1 = np.stack([np.ones((n, T - L))]
                  + [Y[:, L - l:T - l] for l in range(1, L + 1)], axis=2)
    b1 = _batched_ols(X1, Y[:, L:])
    e = np.zeros((n, T))
    e[:, L:] = Y[:, L:] - np.einsum("ntk,nk->nt", X1, b1)

    cols = ["c", "a1"] + (["as", "as1"] if P >= 1 else []) \
        + (["theta"] if Q >= 1 else [])
    out = {}
    for _ in range(max(1, iters)):
        feats = [np.ones((n, T - M)), Y[:, M - 1:T - 1]]
        if P >= 1:
            feats += [Y[:, M - s:T - s], Y[:, M - s - 1:T - s - 1]]
        if Q >= 1:
            feats.append(e[:, M - s:T - s])
        b = _batched_ols(np.stack(feats, axis=2), Y[:, M:])
        out = {k: b[:, i] for i, k in enumerate(cols)}
        for k in ("a1", "as", "theta"):
            if k in out:
                out[k] = np.clip(out[k], -0.999, 0.999)
        # recompute residuals recursively under the fitted model (T small:
        # the loop is over time, vectorized across all series)
        if Q >= 1:
            e = np.zeros((n, T))
            for t in range(M, T):
                pred = out["c"] + out["a1"] * Y[:, t - 1]
                if P >= 1:
                    pred = pred + out["as"] * Y[:, t - s] \
                        + out["as1"] * Y[:, t - s - 1]
                pred = pred + out["theta"] * e[:, t - s]
                e[:, t] = Y[:, t] - pred
    for k in ("as", "as1", "theta"):
        out.setdefault(k, zeros)
    out["_resid"] = e
    return out


def sarima_forecast_batch(Y: np.ndarray, horizon: int, period: int = 12,
                          iters: int = 25,
                          seasonal_order: tuple[int, int, int] = (1, 0, 0)
                          ) -> np.ndarray:
    """Fit + recursive h-step forecast for a batch of series: returns
    (n_series, horizon). Forecast recursion uses actuals where available
    and prior forecasts beyond the sample (standard SARIMA prediction).

    ``seasonal_order`` = (P, D, Q) at period s — the reference's
    parameter surface (SeasonalARIMA.py:138-142: arbitrary seasonal order
    with fixed non-seasonal (1,0,0)+c). (1,0,0) keeps the exact
    coordinate-descent CSS path (byte-stable with prior releases); other
    orders difference D times, fit via Hannan–Rissanen, forecast, and
    integrate back."""
    Y = np.asarray(Y, dtype=np.float64)
    s = period
    P, D, Q = seasonal_order
    T = Y.shape[1]
    if (P, D, Q) == (1, 0, 0):
        c, phi, Phi = sarima_css_fit_batch(Y, period, iters)
        buf = np.concatenate([Y, np.zeros((Y.shape[0], horizon))], axis=1)
        for h in range(horizon):
            t = T + h
            buf[:, t] = (c + phi * buf[:, t - 1] + Phi * buf[:, t - s]
                         - phi * Phi * buf[:, t - s - 1])
        return buf[:, T:]
    # seasonal differencing ∇s^D: keep every intermediate level so the
    # forecast can be integrated back level by level (y_t = w_t + y_{t-s})
    levels = [Y]
    W = Y
    for _ in range(D):
        if W.shape[1] <= s:             # can't difference: naive hold
            return np.repeat(Y[:, -1:], horizon, axis=1)
        W = W[:, s:] - W[:, :-s]
        levels.append(W)
    fit = sarima_hr_fit_batch(W, period, P=P, Q=Q)
    Tw = W.shape[1]
    wbuf = np.concatenate([W, np.zeros((W.shape[0], horizon))], axis=1)
    ebuf = np.concatenate([fit.get("_resid", np.zeros_like(W)),
                           np.zeros((W.shape[0], horizon))], axis=1)
    for h in range(horizon):
        t = Tw + h
        pred = fit["c"] + fit["a1"] * wbuf[:, t - 1]
        if t - s >= 0:
            pred = pred + fit["as"] * wbuf[:, t - s] \
                + fit["theta"] * ebuf[:, t - s]
        if t - s - 1 >= 0:
            pred = pred + fit["as1"] * wbuf[:, t - s - 1]
        wbuf[:, t] = pred
    # integrate the seasonal difference back D times, innermost level
    # outward: at each level, y_t = w_t + y_{t-s} over the level's own
    # observed history (D = 1 reduces to the single-pass r4 behavior)
    out = wbuf[:, Tw:]
    for lvl in range(D - 1, -1, -1):
        base = levels[lvl]
        Tb = base.shape[1]
        ybuf = np.concatenate([base, np.zeros((base.shape[0], horizon))],
                              axis=1)
        for h in range(horizon):
            t = Tb + h
            ybuf[:, t] = out[:, h] + ybuf[:, t - s]
        out = ybuf[:, Tb:]
    return out


def _forecast_by_group(df, group_cols: list[str], value_col: str,
                       time_col: str, fit):
    """The one per-group forecaster body: each group's values in
    ``time_col`` order (SeasonalARIMA.py:162-163) through
    ``fit(values) -> (forecast, delta)``, one row per group on
    :func:`stack.grouped_sorted_map`."""
    out_schema = T.StructType([df.schema[c] for c in group_cols] + [
        T.StructField("forecast", T.DoubleType()),
        T.StructField("delta", T.DoubleType()),
        T.StructField("n_obs", T.LongType())])

    def per_group(key: tuple, pdf: pd.DataFrame) -> dict:
        vals = pdf.sort_values(time_col)[value_col].to_numpy(np.float64)
        fc, delta = fit(vals)
        return {**dict(zip(group_cols, key)), "forecast": fc, "delta": delta,
                "n_obs": len(vals)}

    return grouped_sorted_map(df, group_cols, per_group, out_schema)


def sarima_forecast(period: int = 12, horizon: int = 1):
    """The CSS-SARIMA (1,0,0)×(1,0,0,s)+c fit for one series: returns
    fn(values) -> (forecast, delta). Series shorter than 2·period+2 fall
    back to a naive hold (forecast = last value, delta 0)."""

    def fit_predict(values: np.ndarray) -> tuple[float, float]:
        if values.size < 2 * period + 2:
            fc = float(values[-1])               # too short: naive hold
        else:
            fc = float(sarima_forecast_batch(values[None], horizon, period)[0, -1])
        return fc, fc - float(values[-1])

    return fit_predict


def sarima_forecast_by_group(df, group_cols: list[str], value_col: str,
                             time_col: str, period: int = 12,
                             horizon: int = 1):
    """Per-group SARIMA (1,0,0)×(1,0,0,s)+c forecast — the true-SARIMA
    upgrade of seasonal_forecast_by_group (A11/M5,
    SeasonalARIMA.py:192-216): same distributed shape, CSS-fit model
    (:func:`sarima_forecast`)."""
    return _forecast_by_group(df, group_cols, value_col, time_col,
                              sarima_forecast(period, horizon))


def _pixel_series(stk: np.ndarray, value_band: int) -> np.ndarray:
    """(n_t, bands, h, w) f8 stack → (pixels, n_t) series of one band."""
    return stk[:, value_band].reshape(stk.shape[0], -1).T


def sarima_template_delta(df, data_start_year: int, train_start_year: int,
                          train_end_year: int, predict_year: int,
                          predict_month: int,
                          seasonal_order: tuple[int, int, int, int] = (0, 1, 1, 12),
                          current_year: int | None = None,
                          group_cols: list[str] = ["scene_id"],
                          order_col: str = "t", value_band: int = 0,
                          fmt_out: str = "zlib"):
    """The SeasonalARIMA .rft template's product: per-pixel
    delta = ŷ(predict_year) − ŷ(current_year) at predict_month, fitted on
    the monthly series between train_start_year and train_end_year
    (SeasonalARIMA.py:176-216: order (1,0,0) × the template's seasonal
    (P,D,Q,s), trend='c').

    Two DELIBERATE divergences from the reference's index arithmetic:

    - when train_start_year > data_start_year, the reference calls
      predict(start=train_data_end_index) on a model fit to the [i0:i1]
      slice, which shifts every forecast i0 extra steps past the training
      end (SeasonalARIMA.py:196-204 — arguably a bug: the index into the
      slice is computed against the unsliced axis); here forecasts start
      at the training end, so the (predict_year, predict_month) indexing
      is slice-origin-independent. NOTE the month labels themselves follow
      the REFERENCE's convention (SeasonalARIMA.py:205-209): the training
      slice ends at Dec(train_end_year − 1), yhat[0] = Jan(train_end_year),
      and the j = Δyears·12 − (12 − month) lookup therefore lands
      (12 − predict_month) months BEFORE the nominal calendar month — we
      replicate that labeling exactly (for train_start == data_start the
      two engines are index-for-index identical). A predict/current year
      equal to train_end_year with month < Dec computes j < 0: the
      reference's negative index falls into its except → −999 path; here
      it raises the explicit ValueError below (same sentinel divergence
      as documented next);
    - series too short to fit fall back to delta = 0.0 (a neutral 'no
      trend' answer), where the reference's exception handler emits the
      -999 sentinel (SeasonalARIMA.py:214) — pass the result through
      ReplaceNulls/remap if a sentinel is required downstream.

    ``current_year`` replaces the reference's wall-clock datetime.now()
    (SeasonalARIMA.py:181) with an explicit argument — default
    train_end_year + 1 — so runs are deterministic and replayable."""
    P, D, Q, s = seasonal_order
    cy = train_end_year + 1 if current_year is None else int(current_year)
    i0 = (train_start_year - data_start_year) * 12
    i1 = (train_end_year - data_start_year) * 12
    j_final = (predict_year - train_end_year) * 12 - (12 - predict_month)
    j_cur = (cy - train_end_year) * 12 - (12 - predict_month)
    if min(j_final, j_cur) < 0:
        raise ValueError("predict/current year precede the training end")
    horizon = max(j_final, j_cur) + 1

    def reducer(stk: np.ndarray) -> np.ndarray:
        Y = _pixel_series(stk, value_band)[:, i0:i1]
        if Y.shape[1] < 2 * s + 2:      # too short: the engine-wide fallback
            return np.zeros(stk.shape[2:])
        fc = sarima_forecast_batch(Y, horizon, period=s,
                                   seasonal_order=(P, D, Q))
        return (fc[:, j_final] - fc[:, j_cur]).reshape(stk.shape[2:])

    return (_composite(df, group_cols, reducer, fmt_out, None, order_col=order_col)
            .withColumnRenamed("n_rasters", "n_obs"))


def sarima_stack_delta(df, period: int = 12, horizon: int = 12,
                       group_cols: list[str] = ["scene_id"],
                       order_col: str = "t", value_band: int = 0,
                       fmt_out: str = "zlib"):
    """Per-PIXEL SARIMA delta over a co-registered time stack — the
    reference's actual shape (SeasonalARIMA.py:192-216 loops pixels and
    fits one SARIMAX each; here sarima_css_fit_batch fits EVERY pixel of
    the tile simultaneously as one whole-array solve). Output band =
    forecast(t+horizon) − last observation (its 'delta' product); a
    full-stack composite (:func:`stack._composite`), ``n_obs`` = the
    stack's member count."""

    def reducer(stk: np.ndarray) -> np.ndarray:
        Y = _pixel_series(stk, value_band)               # (pixels, T)
        if Y.shape[1] < period + 2:
            # short-series fallback: the CSS fit's regression slices are
            # Y[:, s+1:] — empty for T ≤ period+1, which would propagate
            # NaN coefficients into silently all-NaN tiles. (The stricter
            # 2s+2 bound the per-group paths use is about forecast
            # quality; here the exact historical behavior for
            # s+2 ≤ T < 2s+2 is kept byte-stable for the m5 oracles.)
            return np.zeros(stk.shape[2:])
        fc = sarima_forecast_batch(Y, horizon, period)[:, -1]
        return (fc - Y[:, -1]).reshape(stk.shape[2:])

    return (_composite(df, group_cols, reducer, fmt_out, None, order_col=order_col)
            .withColumnRenamed("n_rasters", "n_obs"))


def seasonal_forecast(period: int = 12, horizon: int = 1):
    """The seasonal fit for one series — SeasonalARIMA's slot
    (SeasonalARIMA.py:192-216). The cheap deterministic stand-in
    (seasonal-naive + linear trend); :func:`sarima_forecast` is the full
    CSS-SARIMA model. Returns fn(values) -> (forecast, delta)."""

    def fit_predict(values: np.ndarray) -> tuple[float, float]:
        n = values.size
        t = np.arange(n, dtype=np.float64)
        slope = (np.cov(t, values, bias=True)[0, 1] / np.var(t)) if n > 1 else 0.0
        # anchor on the last same-season observation, extend by OLS trend
        idx = n - period + (horizon - 1) % period if n >= period else n - 1
        fc = float(values[idx] + slope * (n + horizon - 1 - idx))
        return fc, float(fc - values[-1])

    return fit_predict


def seasonal_forecast_by_group(df, group_cols: list[str], value_col: str,
                               time_col: str, period: int = 12,
                               horizon: int = 1):
    """Per-group seasonal forecast — the distributed shape of
    SeasonalARIMA (A11/M5: model-per-group aggregation,
    SeasonalARIMA.py:192-216) with the :func:`seasonal_forecast` fit."""
    return _forecast_by_group(df, group_cols, value_col, time_col,
                              seasonal_forecast(period, horizon))


def training_from_table(df, feature_cols: list[str], label_col: str):
    """Collect a (small, broadcastable) labeled training table to NumPy —
    the training-CSV scan of the reference's ML operators (S4,
    KNearestNeighborsClassifier.py:84-101 reads CSV and drops id/x/y)."""
    pdf = df.select(*feature_cols, label_col).toPandas()
    X = pdf[feature_cols].to_numpy(np.float64)
    y = pdf[label_col].to_numpy()
    return X, y


def training_from_csv(spark, path: str, feature_cols: list[str], label_col: str):
    return training_from_table(
        spark.read.csv(path, header=True, inferSchema=True), feature_cols, label_col)
