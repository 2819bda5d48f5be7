"""Similarity search over embedding columns (``array<float>``).

Every cosine top-k path — brute force, single-table LSH, multi-table LSH
and IVF — scores through ONE kernel, :func:`_cosine_topk`:

1. the query set is collected once to the driver as a dense matrix and
   broadcast (an empty query set is an empty typed result; ``k < 1``
   raises before any job runs);
2. ONE ``mapInPandas`` streams the corpus. Per Arrow batch, a *group rule*
   splits the rows into groups, each paired with the queries that probe
   it; a group is scored with one GEMM (Q·Cᵀ / |q||c|) and cut to a
   per-query partial top-k (:func:`_partial_topk`);
3. the batch's partials merge — a (query, neighbour) pair that several
   groups scored is kept once, then k per query under the
   (−score, neighbor_id) order — and one ``Window.partitionBy("query_id")``
   takes the global top-k.

No candidate row ever exists and the only shuffle carries ≤ n_q·k
partial rows per batch. The paths differ only in their group rule:

- **brute force** (exact; the oracle-checkable path): one group holding
  every row, probed by every query;
- **LSH** (``lsh_topk``: one table + bit-flip probes; ``lsh_multi_topk``:
  OR-amplified tables): one group per table × sign bucket, probed by the
  queries the driver-side bucket lookup registers there. Bucket bits are
  bit-exact with ``lsh_bucket_col`` and the ``lsh_topk_sql`` oracle;
- **IVF**: one group per inverted list, probed by the queries whose
  ``n_probe`` nearest centroids include it (:func:`_probe_lists`).
  ``ivf_topk`` assigns lists inside the batch; ``ivf_search`` reads the
  index's ``list_id``.

Row-wise scoring of joined pairs (``cosine_near_dup_pairs``) uses a
vectorized pandas UDF. Spark evaluates array higher-order functions
*interpreted* and re-evaluates the lambda per use (no CSE) — measured in
round 1 (dedup.py); the HOF forms are kept only for tiny literal vectors
(the hyperplane dot in lsh_bucket_col, which stays JVM-side
whole-stage-codegen precisely because it must not round-trip the corpus
through Python just to bucket it).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .fixtures import splitmix64


def dot_col(a, b):
    """Dot product of two array columns — zip_with + aggregate, all JVM.
    Interpreted evaluation: use only where one side is a short literal."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm_col(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine_col(a, b):
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def _cosine_rows_udf():
    """Vectorized cosine over paired array columns: stack → einsum.
    den mirrors cosine_col's sqrt(qq)*sqrt(cc) factor order so scores are
    bit-compatible with the previous JVM expression where exact."""
    @F.pandas_udf("double")
    def cos(qv: pd.Series, cv: pd.Series) -> pd.Series:
        Q = np.stack(qv.to_numpy()).astype(np.float64)
        C = np.stack(cv.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", Q, C)
        den = (np.sqrt(np.einsum("ij,ij->i", Q, Q))
               * np.sqrt(np.einsum("ij,ij->i", C, C)))
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.where(den == 0.0, 0.0, num / den)
        return pd.Series(s)
    return cos


def _partial_topk(S: np.ndarray, nid: np.ndarray, kk: int) -> np.ndarray:
    """Per-row partial top-k of a score matrix under the SAME total order
    as the final merge window: (-score, neighbor_id asc). argpartition
    alone breaks ties at the k-th boundary arbitrarily, which would let a
    globally-ranked candidate be dropped inside its batch and make the
    result depend on partitioning. Cheap exact scheme: partition by score,
    widen to ALL entries tied with the k-th score, then lexsort just that
    candidate set. Returns (n_rows, kk) column indices into S."""
    n_c = S.shape[1]
    part = np.empty((S.shape[0], kk), dtype=np.int64)
    for qi in range(S.shape[0]):
        srow = S[qi]
        if n_c > 4 * kk:
            cut = np.argpartition(-srow, kk - 1)[:kk]
            cand = np.flatnonzero(srow >= srow[cut].min())
        else:
            cand = np.arange(n_c)
        order = np.lexsort((nid[cand], -srow[cand]))[:kk]
        part[qi] = cand[order]
    return part


def _corpus_rows(corpus: DataFrame, id_col: str, vec_col: str,
                 *extra) -> DataFrame:
    """The kernel's row contract: bigint ``neighbor_id`` + f8 ``cv``."""
    return corpus.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).cast("array<double>").alias("cv"),
                         *extra)


# A plan runs driver-side on the collected (n_q, dim) query matrix and
# returns (rows, groups, payload): the corpus rows to stream (_corpus_rows
# columns plus whatever the rule reads), the group rule, and the extra
# broadcast state. groups(b, C, pdf) sees the broadcast dict, one batch's
# f8 row matrix and its pandas frame, and yields (qi, ci) per group:
# query indices and batch-row indices (index arrays or slices).
Plan = Callable[[np.ndarray], "tuple[DataFrame, Callable, dict]"]


def _cosine_topk(queries: DataFrame, k: int, vec_col: str, qid_col: str,
                 plan: Plan, with_score: bool = True) -> DataFrame:
    """The one cosine top-k kernel behind every search path (module
    docstring). Output (query_id, neighbor_id, rank[, score]) — bigint
    ids, so results are engine-comparable without float-hash hazards;
    ``score`` is rounded to 6 places."""
    if k < 1:
        raise ValueError(f"top-k needs k ≥ 1, got k={k}")
    spark = queries.sparkSession
    q_pdf = queries.select(F.col(qid_col).alias("query_id"),
                           F.col(vec_col).alias("qv")).toPandas()
    out_cols = "query_id long, neighbor_id long, rank int"
    if not len(q_pdf):
        # empty query set: an empty RESULT, not an opaque np.stack crash
        return spark.createDataFrame(
            [], out_cols + (", score double" if with_score else ""))
    Q = np.stack(q_pdf["qv"].to_numpy()).astype(np.float64)
    rows, groups, payload = plan(Q)
    bq = spark.sparkContext.broadcast(
        {"ids": q_pdf["query_id"].to_numpy(np.int64), "Q": Q, **payload})

    def score(batches):
        b = bq.value
        Qv, ids = b["Q"], b["ids"]
        qn = np.sqrt(np.einsum("ij,ij->i", Qv, Qv))
        q_idx = np.arange(len(Qv))
        for pdf in batches:
            C = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            nid = pdf["neighbor_id"].to_numpy(np.int64)
            cn = np.sqrt(np.einsum("ij,ij->i", C, C))
            c_idx = np.arange(len(nid))
            out_q, out_c, out_s = [], [], []
            for qi, ci in groups(b, C, pdf):
                den = qn[qi][:, None] * cn[ci][None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    S = np.where(den == 0.0, 0.0, (Qv[qi] @ C[ci].T) / den)
                kk = min(k, S.shape[1])
                part = _partial_topk(S, nid[ci], kk)
                out_q.append(np.repeat(q_idx[qi], kk))
                out_c.append(c_idx[ci][part.ravel()])
                out_s.append(np.take_along_axis(S, part, axis=1).ravel())
            if not out_q:
                continue
            qa, ca, sa = (np.concatenate(v) for v in (out_q, out_c, out_s))
            # a pair scored by several groups (multi-table LSH) counts once:
            # its first group's score, as a single scan of the groups sees it
            _, first = np.unique(qa * np.int64(len(nid)) + ca,
                                 return_index=True)
            qa, ca, sa = qa[first], ca[first], sa[first]
            order = np.lexsort((nid[ca], -sa, qa))
            qa, ca, sa = qa[order], ca[order], sa[order]
            keep = np.arange(qa.size) - np.searchsorted(qa, qa) < k
            yield pd.DataFrame({"query_id": ids[qa[keep]],
                                "neighbor_id": nid[ca[keep]],
                                "score": sa[keep]})

    partials = rows.mapInPandas(
        score, "query_id long, neighbor_id long, score double")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (partials.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    *([F.round("score", 6).alias("score")] if with_score else [])))


def _all_rows(b: dict, C: np.ndarray, pdf: pd.DataFrame):
    """Brute-force group rule: one group, every row, every query."""
    yield slice(None), slice(None)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     qid_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k: one (queries × batch) GEMM per Arrow batch.
    Output (query_id, neighbor_id, rank) — integer-only so results are
    engine-comparable without float-hash hazards.

    Plan: corpus scan → mapInPandas (GEMM + per-batch top-k, ≤ n_q·k rows
    out per batch) → one small shuffle on query_id → window top-k. At
    10^12 corpus rows the shuffle carries n_q·k·n_partitions rows, not
    the candidate cross product."""
    return _cosine_topk(
        queries, k, vec_col, qid_col,
        lambda Q: (_corpus_rows(corpus, id_col, vec_col), _all_rows, {}),
        with_score=False)


def _hyperplanes(dim: int, n_bits: int, table: int = 0) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes from splitmix64 — identical
    on every executor/run (no RNG state). ``table`` selects an independent
    set (table 0 = the historical planes, byte-stable with prior rounds)."""
    scale = float(2**64)
    idx = (np.arange(n_bits * dim, dtype=np.uint64)
           + np.uint64((table * 0x9E3779B97F4A7C15) % (1 << 64)))
    u = splitmix64(idx).astype(np.float64) / scale  # U(0,1)
    # approx normal via sum of 4 uniforms (CLT, cheap, deterministic)
    u2 = splitmix64(idx ^ np.uint64(0xABCDEF)).astype(np.float64) / scale
    u3 = splitmix64(idx ^ np.uint64(0x123456)).astype(np.float64) / scale
    u4 = splitmix64(idx ^ np.uint64(0x999999)).astype(np.float64) / scale
    g = (u + u2 + u3 + u4) - 2.0
    return g.reshape(n_bits, dim)


def lsh_bucket_col(vec_col, dim: int, n_bits: int = 8):
    """Sign-bit bucket id as a pure column expression: for each hyperplane,
    sign(dot(v, h)) packed into an int. JVM-side (no UDF): bucketing must
    not ship the corpus through Python, and the literal hyperplane arrays
    are short enough that interpreted HOF cost is immaterial."""
    H = _hyperplanes(dim, n_bits)
    bucket = F.lit(0)
    for b in range(n_bits):
        hvec = F.array(*[F.lit(float(x)) for x in H[b]])
        d = dot_col(F.col(vec_col) if isinstance(vec_col, str) else vec_col, hvec)
        bucket = bucket + F.when(d > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return bucket


def _bucket_ids(X: np.ndarray, H: np.ndarray) -> np.ndarray:
    """Sign-bit bucket of each row of X under hyperplanes H (bits, dim) —
    the GEMM form of lsh_bucket_col (tests/test_dedup_text.py pins the
    two bit-exact)."""
    return ((X @ H.T) > 0).astype(np.int64) @ (1 << np.arange(H.shape[0])).astype(np.int64)


def _lsh_buckets(b: dict, C: np.ndarray, pdf: pd.DataFrame):
    """LSH group rule: one group per table × occupied bucket that some
    query probes."""
    for H, lut in zip(b["H"], b["lookups"]):
        cb = _bucket_ids(C, H)
        for bk in np.unique(cb):
            qi = lut.get(int(bk))
            if qi is not None:
                yield qi, np.nonzero(cb == bk)[0]


def _lsh_plan(corpus: DataFrame, id_col: str, vec_col: str, n_bits: int,
              n_tables: int, n_probes: int, dim: int | None) -> Plan:
    """The LSH rule's driver side: per table, a bucket → probing-query
    lookup. A query index is registered under its own bucket and under
    each of its ``n_probes-1`` single-bit-flip neighbour buckets — the
    group rule itself is probe-blind. A corpus row occupies exactly one
    bucket per table, so a (query, neighbour) pair repeats only across
    tables, and the kernel's merge keeps it once."""
    def plan(Q: np.ndarray):
        d = dim
        if d is None:
            row = corpus.select(vec_col).first()
            if row is None:
                raise ValueError("empty corpus: pass dim= explicitly (or skip "
                                 "the search — there is nothing to match)")
            d = len(row[0])
        Hs = [_hyperplanes(d, n_bits, table=t) for t in range(n_tables)]
        lookups = []
        for H in Hs:
            qb = _bucket_ids(Q, H)
            lut: dict[int, list] = {}
            for probe in range(n_probes):
                # probe 0 = own bucket; probe p>0 flips bit p-1 (the original
                # lsh_topk bit-flip probe sequence, preserved exactly)
                pb = qb if probe == 0 else qb ^ np.int64(1 << (probe - 1))
                for bk in np.unique(pb):
                    lut.setdefault(int(bk), []).append(np.nonzero(pb == bk)[0])
            lookups.append({bk: (np.concatenate(v) if len(v) > 1 else v[0])
                            for bk, v in lut.items()})
        return (_corpus_rows(corpus, id_col, vec_col), _lsh_buckets,
                {"H": Hs, "lookups": lookups})
    return plan


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "vec_id", n_bits: int = 6,
             n_probes: int = 1, dim: int | None = None) -> DataFrame:
    """ANN top-k, single hash table: queries probe their own sign-bucket
    plus ``n_probes-1`` single-bit-flip neighbors; exact cosine within
    candidates; top-k.

    Candidate semantics identical to the original bucket-equi-join form,
    executed on the streamed per-bucket GEMM kernel: the broadcast-join
    version materialized one ROW per (candidate, probe) pair carrying both
    embedding arrays through a per-pair pandas UDF — measured 24.4s vs
    4.7s brute force at 200k (BENCH/notes_r4.md); the kernel scores each
    occupied bucket with one GEMM inside a single mapInPandas, no join,
    shuffle = n_q·k partial rows.

    Ids must be integers (the module-wide contract: every similarity
    path emits bigint ids so results are engine-comparable without
    float/string-hash hazards — see brute_force_topk). Map string keys
    to a surrogate bigint upstream."""
    if n_probes < 1:
        raise ValueError(f"n_probes ≥ 1 (probe 1 = the query's own "
                         f"bucket), got n_probes={n_probes}")
    if n_probes - 1 > n_bits:
        # probe p flips bit p-1: probes beyond n_bits produce bucket ids
        # no corpus vector can occupy — silent no-ops that LOOK like
        # extra recall; refuse instead
        raise ValueError(f"n_probes ≤ n_bits+1 (= {n_bits + 1}): probe "
                         f"{n_bits + 2} would flip a nonexistent bit")
    return _cosine_topk(queries, k, vec_col, qid_col,
                        _lsh_plan(corpus, id_col, vec_col, n_bits, 1,
                                  n_probes, dim))


def lsh_multi_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   qid_col: str = "vec_id", n_bits: int = 8,
                   n_tables: int = 4, dim: int | None = None) -> DataFrame:
    """Amplified hyperplane LSH: ``n_tables`` independent sign-hash tables;
    a corpus vector is a candidate when it shares a bucket with the query
    in ANY table (the classic OR-amplification — collision probability
    1 − (1 − p^b)^L, steeply better recall than single-table bit-flip
    probing). Measured recall@10 vs brute force: 0.909 at 6 bits × 16
    tables on 200k×64 (BENCH/notes_r4.md) and 0.979 at the same
    operating point on a 1M×64 clustered corpus (notes_r6.md §8) —
    OR-amplification holds its recall as the corpus grows.

    Same kernel as lsh_topk with one group per (table, bucket): corpus
    batches are bucketed per table (sign GEMM), each occupied bucket's
    members are scored against only its probing queries, and pairs
    matched in several tables count once. No join, no candidate rows,
    shuffle = n_q·k partials."""
    if n_tables < 1:
        # no tables means no groups: the kernel would answer every query
        # with an empty result instead of failing
        raise ValueError(f"n_tables ≥ 1 (one sign-hash table at least), "
                         f"got n_tables={n_tables}")
    return _cosine_topk(queries, k, vec_col, qid_col,
                        _lsh_plan(corpus, id_col, vec_col, n_bits, n_tables,
                                  1, dim))


def _sq_dist(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, L) squared Euclidean distances of rows X to centroids C — the
    one expression k-means, list assignment and probing share, so inline
    and index IVF pick the same lists bit for bit."""
    return (X ** 2).sum(1)[:, None] - 2 * X @ C.T + (C ** 2).sum(1)[None, :]


def _kmeans_fit(X: np.ndarray, k: int, iters: int = 12) -> np.ndarray:
    """Deterministic Lloyd's k-means (from scratch; splitmix-seeded init)
    for IVF coarse quantization."""
    n = X.shape[0]
    idx = (splitmix64(np.arange(k, dtype=np.uint64) * np.uint64(7919))
           % np.uint64(n)).astype(np.int64)
    C = X[np.unique(idx)]
    while C.shape[0] < k:  # dedupe collisions deterministically
        extra = X[(C.shape[0] * 131) % n][None]
        C = np.vstack([C, extra])
    for _ in range(iters):
        assign = _sq_dist(X, C).argmin(1)
        for j in range(k):
            sel = assign == j
            if sel.any():
                C[j] = X[sel].mean(0)
    return C


def _train_sample(corpus: DataFrame, id_col: str, vec_col: str,
                  n: int) -> np.ndarray:
    """Deterministic UNBIASED k-means training sample: TakeOrdered on
    xxhash64(id) (id as tiebreaker). Same cost shape as orderBy(id) —
    a top-K, never a full sort — but decorrelated from ingest order."""
    vecs = (corpus.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col)).limit(n)
            .toPandas()[vec_col].to_numpy())
    if len(vecs) == 0:
        raise ValueError("empty corpus: no vectors to train the IVF "
                         "quantizer on (ivf_build and ivf_build_snapshot "
                         "accept fixed centroids=)")
    return np.stack(vecs)


def _probe_lists(Q: np.ndarray, C: np.ndarray,
                 n_probe: int) -> tuple[list, list]:
    """Driver-side probing (n_q × n_lists distances — tiny): the prober
    query indices of every list, and the sorted probed-list union for
    scan pruning."""
    if n_probe < 1:
        # n_probe=0 probes nothing and a negative slice drops the nearest
        # lists instead — both silently wrong results
        raise ValueError(f"n_probe ≥ 1 (the query's nearest list), got "
                         f"n_probe={n_probe}")
    probed = np.argsort(_sq_dist(Q, C), axis=1)[:, :n_probe]
    probers = [np.nonzero((probed == l).any(axis=1))[0]
               for l in range(C.shape[0])]
    return probers, sorted({int(l) for l in probed.ravel()})


def _list_groups(lists: np.ndarray, probers: list):
    """IVF group rule: one group per inverted list that some query probes."""
    for l in np.unique(lists):
        qi = probers[l]
        if qi.size:
            yield qi, np.nonzero(lists == l)[0]


def _inline_lists(b: dict, C: np.ndarray, pdf: pd.DataFrame):
    """ivf_topk: assign the batch's rows to lists in one GEMM."""
    return _list_groups(_sq_dist(C, b["C"]).argmin(1), b["probers"])


def _indexed_lists(b: dict, C: np.ndarray, pdf: pd.DataFrame):
    """ivf_search: the index carries each row's list."""
    return _list_groups(pdf["list_id"].to_numpy(np.int64), b["probers"])


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "vec_id", n_lists: int = 16, n_probe: int = 4,
             train_sample: int = 2000) -> DataFrame:
    """IVF ANN: k-means centroids (trained driver-side on a deterministic
    sample, broadcast) partition the corpus into inverted lists; each query
    probes its ``n_probe`` nearest lists, exact cosine GEMM against only
    those lists' members.

    Scale shape: ZERO shuffles beyond the final n_q·k-row top-k merge —
    corpus batches stream through one mapInPandas that assigns rows to
    lists and scores each list against its probing queries; flops =
    candidate count (≈ corpus·n_probe/n_lists per query) × dim, and
    candidates never materialize as rows.

    The k-means training sample is the train_sample lowest xxhash64(id)
    rows (a TakeOrdered top-K, not a full sort) — deterministic at any
    parallelism (a bare limit() is partition-order-dependent and would
    train different centroids run to run) AND unbiased w.r.t. id order:
    lowest-IDS sampling trains centroids on one corner of id-correlated
    corpora (ingest order ≈ source ≈ content cluster is the common case
    at scale), collapsing recall at low n_probe; hashing decorrelates
    (recall A/B in BENCH/notes_r5.md). Measured operating points vs
    brute force (recall@10, clustered corpora): 200k×64 — 0.985 at
    64 lists/n_probe=4; 1M×64 — 0.985 at 64/4, 0.999 at 64/16, 0.995
    at 256 lists/n_probe=8 (BENCH/notes_r6.md §8); recall at fixed
    n_probe does not degrade with corpus growth, and beyond ~10M
    vectors denser list counts (256+) shrink per-query candidate
    volume 4× at equal recall."""
    def plan(Q: np.ndarray):
        sample = _train_sample(corpus, id_col, vec_col, train_sample)
        C = _kmeans_fit(sample.astype(np.float64), n_lists)
        probers, _ = _probe_lists(Q, C, n_probe)
        return (_corpus_rows(corpus, id_col, vec_col), _inline_lists,
                {"C": C, "probers": probers})
    return _cosine_topk(queries, k, vec_col, qid_col, plan)


def cosine_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          n_bits: int = 0, limit_ids: int | None = None) -> DataFrame:
    """Embedding near-dup pairs: all-pairs within LSH buckets (or brute
    all-pairs when n_bits=0 — tests/small tables only). Scoring via the
    vectorized pandas UDF over the joined candidates."""
    cast = F.col(vec_col).cast("array<double>")
    d = df.select(F.col(id_col).alias("_id"), cast.alias("v"))
    if limit_ids is not None:
        # a true CARDINALITY cap (the lowest limit_ids ids, TakeOrdered +
        # semi-join) — the previous value filter `_id < limit_ids` only
        # approximated it for dense 0-based ids and silently dropped
        # EVERYTHING for surrogate/hashed id spaces
        keep = d.select("_id").orderBy("_id").limit(int(limit_ids))
        d = d.join(F.broadcast(keep), "_id", "left_semi")
    if n_bits > 0:
        dim = len(df.select(vec_col).first()[0])
        d = d.withColumn("bucket", lsh_bucket_col(F.col("v"), dim, n_bits))
        a, b = d.alias("a"), d.alias("b")
        pairs = a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                       & (F.col("a._id") < F.col("b._id")))
    else:
        a, b = d.alias("a"), d.alias("b")
        pairs = a.join(b, F.col("a._id") < F.col("b._id"))
    out = pairs.select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
                       _cosine_rows_udf()(F.col("a.v"), F.col("b.v")).alias("cos"))
    return (out.filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 6).alias("cos")))


# ----------------------------------------------- persistent IVF index ------

def _assign_lists(corpus: DataFrame, C: np.ndarray,
                  id_col: str, vec_col: str, bC=None) -> DataFrame:
    """Coarse-quantize: each vector to its nearest centroid's list, one
    broadcast + one GEMM per Arrow batch (shared by build and append).
    ``bC`` lets a long-lived caller (the streaming sink) reuse ONE
    centroid broadcast across microbatches instead of registering a new
    one per batch (the per-batch-broadcast leak prepare_aoi fixed for
    the flagship sink)."""
    if bC is None:
        bC = corpus.sparkSession.sparkContext.broadcast(
            np.asarray(C, dtype=np.float64))

    @F.pandas_udf("long")
    def nearest_list(v):
        X = np.stack(v.to_numpy()).astype(np.float64)
        return pd.Series(_sq_dist(X, bC.value).argmin(1).astype(np.int64))

    return _corpus_rows(corpus, id_col, vec_col,
                        nearest_list(F.col(vec_col)).alias("list_id"))


def ivf_build(corpus: DataFrame, n_lists: int = 16, train_sample: int = 2000,
              id_col: str = "vec_id", vec_col: str = "embedding",
              index_path: str | None = None, centroids=None):
    """Build-once half of the production ANN shape: train the coarse
    quantizer (deterministic k-means over the TakeOrdered sample — same
    protocol as ivf_topk) and materialize the corpus WITH its list
    assignment. When ``index_path`` is given, the index is written as
    parquet PARTITIONED BY list_id — searches then read only the probed
    lists' partitions (Catalyst partition pruning does the candidate
    skip at the SCAN, before any compute). ``centroids`` overrides
    training with a fixed quantizer (parity tests; re-building a grown
    corpus against the original centroids).

    Returns (index_df, centroids). The assignment column makes repeated
    searches skip the per-batch assignment GEMM too."""
    if centroids is None:
        sample = _train_sample(corpus, id_col, vec_col, train_sample)
        centroids = _kmeans_fit(sample.astype(np.float64), n_lists)
    C = np.asarray(centroids, dtype=np.float64)
    index = _assign_lists(corpus, C, id_col, vec_col)
    if index_path is not None:
        index.write.mode("overwrite").partitionBy("list_id").parquet(index_path)
        index = corpus.sparkSession.read.parquet(index_path)
    return index, C


# --------------------------------------- snapshot-backed IVF (streaming) ----
#
# The streaming-corpus production shape: the index lives in a
# SnapshotTable partitioned by list_id, with the trained centroids in an
# atomic sidecar (centroids.json). ivf_append assigns new vectors to the
# EXISTING centroids and commits exactly-once (run_id replay protection
# — a retried microbatch cannot double-insert vectors), closing the
# build-once/search-many loop for a corpus that keeps growing. Because
# assignment depends only on the frozen centroids,
# search(append(build(A), B)) ≡ search(build(A ∪ B, same centroids))
# by construction — asserted in tests/test_round6_ivf_append.py.

def ivf_build_snapshot(corpus: DataFrame, snap_path: str, n_lists: int = 16,
                       train_sample: int = 2000, id_col: str = "vec_id",
                       vec_col: str = "embedding", centroids=None,
                       run_id: str = "ivf-build-0"):
    """Build the snapshot-backed IVF index: train (or accept) centroids,
    persist them as an atomic sidecar, commit the assigned corpus as the
    first snapshot. Returns (SnapshotTable, centroids)."""
    from .lineage import _write_json_atomic
    from .snapshots import SnapshotTable
    if centroids is None:
        sample = _train_sample(corpus, id_col, vec_col, train_sample)
        centroids = _kmeans_fit(sample.astype(np.float64), n_lists)
    C = np.asarray(centroids, dtype=np.float64)
    spark = corpus.sparkSession
    # sidecar first: append() is replay-protected by run_id, and an
    # identical sidecar rewrite on retry is harmless (atomic rename)
    _write_json_atomic(spark, snap_path, "centroids.json", {"C": C.tolist()})
    table = SnapshotTable(spark, snap_path)
    table.append(_assign_lists(corpus, C, id_col, vec_col), "list_id",
                 run_id=run_id)
    return table, C


def ivf_load_centroids(spark, snap_path: str) -> np.ndarray:
    from .lineage import _read_manifest_path
    m = _read_manifest_path(spark, f"{snap_path}/centroids.json")
    if m is None:
        raise ValueError(f"no IVF centroids sidecar at {snap_path}")
    return np.asarray(m["C"], dtype=np.float64)


def ivf_append(new_rows: DataFrame, snap_path: str, run_id: str,
               id_col: str = "vec_id", vec_col: str = "embedding",
               centroids=None, _bc=None) -> int:
    """Incremental index maintenance: assign ``new_rows`` to the index's
    EXISTING centroids and commit one snapshot (exactly-once via run_id —
    wire ``run_id=f"ivf-{batch_id}"`` from a foreachBatch sink). Work is
    O(new rows), never a rebuild. Returns the new snapshot id.
    ``centroids``/``_bc`` let a streaming sink load + broadcast the
    frozen quantizer once for the stream's lifetime."""
    from .snapshots import SnapshotTable
    spark = new_rows.sparkSession
    C = centroids if centroids is not None \
        else ivf_load_centroids(spark, snap_path)
    table = SnapshotTable(spark, snap_path)
    return table.append(_assign_lists(new_rows, C, id_col, vec_col, _bc),
                        "list_id", run_id=run_id)


def start_ivf_ingest(stream: DataFrame, snap_path: str, checkpoint: str,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     compact_every: int | None = None,
                     expire_every: int | None = None, keep_last: int = 64,
                     query_name: str = "ivf-ingest",
                     run_prefix: str = "ivf"):
    """Wire a vector stream into the snapshot-backed IVF index: one
    ivf_append per microbatch on the shared loop
    (SnapshotTable.microbatch_sink — exactly-once per
    <run_prefix>-<batch_id>, so a retried batch cannot double-insert,
    with its compaction and retention cadence). The index must
    already exist (ivf_build_snapshot) — appends assign against its
    frozen centroids, so searches stay parity-exact with a full rebuild
    at any point in the stream."""
    from .snapshots import SnapshotTable

    spark = stream.sparkSession
    # frozen quantizer: load + broadcast ONCE for the stream's lifetime
    # (per-batch reload re-read the sidecar and registered a fresh
    # broadcast every microbatch)
    C = ivf_load_centroids(spark, snap_path)
    bC = spark.sparkContext.broadcast(C)
    table = SnapshotTable(spark, snap_path)

    def commit(batch_df: DataFrame, run_id: str, _) -> None:
        ivf_append(batch_df, snap_path, run_id=run_id, id_col=id_col,
                   vec_col=vec_col, centroids=C, _bc=bC)

    return table.start_stream(
        stream, table.microbatch_sink(commit, run_prefix, compact_every,
                                      expire_every, keep_last),
        checkpoint, query_name)


def _search_lists(read_lists: Callable[[list], DataFrame], centroids,
                  queries: DataFrame, k: int, n_probe: int, vec_col: str,
                  qid_col: str) -> DataFrame:
    """IVF search over a list-assigned index: ``read_lists(probed)``
    returns the index rows, given the probed-list union; the scan is
    filtered to that union (partition pruning on a partitioned index —
    unprobed lists are never read)."""
    C = np.asarray(centroids, dtype=np.float64)

    def plan(Q: np.ndarray):
        probers, probed_union = _probe_lists(Q, C, n_probe)
        rows = (read_lists(probed_union)
                .filter(F.col("list_id").isin(probed_union))
                .select("neighbor_id", "cv", "list_id"))
        return rows, _indexed_lists, {"probers": probers}
    return _cosine_topk(queries, k, vec_col, qid_col, plan)


def ivf_search_snapshot(spark, snap_path: str, queries: DataFrame,
                        k: int = 3, n_probe: int = 4,
                        vec_col: str = "embedding",
                        qid_col: str = "vec_id") -> DataFrame:
    """Search the snapshot-backed index: probe lists are computed
    driver-side, the snapshot read is pruned at the MANIFEST level to the
    probed lists' files (the snapshot-table equivalent of partition
    pruning — unprobed lists' files are never opened), then the same
    per-list GEMM scoring as ivf_search."""
    from .snapshots import SnapshotTable
    C = ivf_load_centroids(spark, snap_path)
    table = SnapshotTable(spark, snap_path)
    return _search_lists(
        lambda lists: table.read(partition_values=[str(l) for l in lists]),
        C, queries, k, n_probe, vec_col, qid_col)


def ivf_search(index: DataFrame, centroids: np.ndarray, queries: DataFrame,
               k: int = 3, n_probe: int = 4, vec_col: str = "embedding",
               qid_col: str = "vec_id") -> DataFrame:
    """Search-many half: probe lists per query are computed driver-side,
    the index scan is FILTERED to the union of probed lists (partition
    pruning on a partitioned index — unprobed lists are never read), and
    each batch scores per-list GEMMs against only its probing queries.
    Identical results to ivf_topk on the same corpus/queries (same
    centroids, same assignment, same tie-exact order)."""
    return _search_lists(lambda lists: index, centroids, queries, k, n_probe,
                         vec_col, qid_col)
