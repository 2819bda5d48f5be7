"""Deduplication suite for web-scale training-data pipelines.

Five dedup families over the ``documents`` table (and phash for images):

- exact        — md5 content hash, groupBy (one shuffle on the hash)
- MinHash+LSH  — char-shingles → H minhashes → B bands → bucket join;
                 the oracle-parity variant computes minhashes as
                 ``min(md5(shingle || ':' || seed))`` in pure SQL
                 expressions so DuckDB reproduces them byte-for-byte
- SimHash      — 64-bit sign-aggregated token hashes (Hamming near-dup)
- n-gram Jaccard — exact verification of candidate pairs
- embedding cosine — near-dup by vector similarity (see similarity.py)

Scale notes: exact dedup is one shuffle on the content hash. The LSH
families (MinHash, SimHash, phash) share one band-bucket pair generator,
``_band_pairs``: one banded shuffle on (band, bsig) whose window sizes
and salt-splits hot buckets (a crawl with boilerplate) and whose
collect emits each bucket's pairs, then one shuffle on the pair (MinHash
plans three Exchanges in all: round-robin before the signature pass, the
band bucket, the pair count). The expensive per-pair Jaccard runs only
on LSH candidates, never all-pairs.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ------------------------------------------------------------- exact -------

def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: content hash → (canonical id, dup count).
    One hash-partitioned aggregation; fully decomposable."""
    return (df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count("*").alias("n_dups"))
            .filter(F.col("n_dups") > 1))


def exact_dedup_keep_first(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Return the deduplicated table (keep min-id row per content hash)."""
    w = F.row_number().over(
        Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col))
    return df.withColumn("_rn", w).filter(F.col("_rn") == 1).drop("_rn")


# ----------------------------------------------------------- MinHash -------

def shingles_col(text_col: str, k: int = 5):
    """Distinct character k-shingles as an array column — pure SQL
    (sequence + transform + substring), identical in DuckDB."""
    return F.array_distinct(F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)),"
        f" i -> substring({text_col}, i, {k}))"))


# universal-hash family for minhash: h_i(x) = (A_i·x + B_i) mod P over a
# k-char polynomial rolling hash. Everything is exact BIGINT arithmetic —
# identical in any engine (no hash-function implementation to disagree on)
# and, unlike string-min over md5 digests, aggregates through Spark's
# codegen HashAggregate (min over VARCHAR falls back to sort-based
# aggregation — measured 2× slower at sf0.1).
MINHASH_P = 2147483629  # prime < 2^31: A·x + B < 2^62, no bigint overflow
MINHASH_MAX_HASHES = 128
# the first 8 (A, B) pairs are anchored literals (byte-stable with every
# prior round's signatures); minhash_family extends past them from a
# seeded splitmix64 stream
_MH_A = [1103515245, 1588635695, 1117695901, 987654323,
         805306457, 1299709663, 715827883, 433494437]
_MH_B = [12345, 413158523, 268435399, 786433123,
         905460059, 122949829, 536870923, 674506081]


def _splitmix64(x: int) -> int:
    """Scalar splitmix64 finalizer (public domain); bit-identical to the
    vectorized fixtures.splitmix64 (cross-checked in tests)."""
    mask = (1 << 64) - 1
    z = (x + 0x9E3779B97F4A7C15) & mask
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
    return z ^ (z >> 31)


def minhash_family(n_hashes: int) -> tuple[list[int], list[int]]:
    """(A_i, B_i) constants for the universal-hash minhash family.

    The first 8 pairs are the anchored literals above; pairs 8..127 are
    derived deterministically from a seeded splitmix64 stream
    (A_i ∈ [1, P-1], B_i ∈ [0, P-1]). The constants are plain integers
    emitted LITERALLY into both the Spark expressions and the DuckDB
    oracle SQL, so engine/oracle parity holds by construction at any
    family size — the pre-r6 hard cap at 8 was an artifact of the
    hand-listed constants, not a design limit."""
    if not 1 <= n_hashes <= MINHASH_MAX_HASHES:
        raise ValueError(
            f"n_hashes={n_hashes} outside [1, {MINHASH_MAX_HASHES}]")
    A, B = list(_MH_A), list(_MH_B)
    for i in range(len(A), n_hashes):
        A.append(_splitmix64(2 * i) % (MINHASH_P - 1) + 1)
        B.append(_splitmix64(2 * i + 1) % MINHASH_P)
    return A[:n_hashes], B[:n_hashes]


def choose_bands(n_hashes: int, target_jaccard: float) -> int:
    """Pick the band count (a divisor of ``n_hashes``) whose LSH S-curve
    threshold (1/b)^(r/n·…) — precisely t = (1/b)^(1/r) with r = n/b —
    lands closest to ``target_jaccard``. E.g. choose_bands(64, 0.5) = 16
    (t ≈ 0.50), choose_bands(128, 0.7) = 16 (t ≈ 0.707)."""
    if not 0.0 < target_jaccard < 1.0:
        raise ValueError("target_jaccard must be in (0, 1)")
    best = None
    for b in range(1, n_hashes + 1):
        if n_hashes % b:
            continue
        t = (1.0 / b) ** (b / n_hashes)
        d = abs(t - target_jaccard)
        if best is None or d < best[0]:
            best = (d, b)
    return best[1]


def _check_shingle_k(k: int) -> None:
    """Reject shingle sizes the int64 rolling hash cannot represent: k ≤ 7
    keeps the leading term < 2^63 for every Unicode code point (see
    _polyhash_sql); k < 1 has no shingles."""
    if not 1 <= k <= 7:
        raise ValueError(
            f"shingle k={k} is out of range: the rolling hash overflows "
            "BIGINT for non-ASCII text beyond k = 7 (valid: 1 ≤ k ≤ 7)")


def _polyhash_sql(s_expr: str, k: int) -> str:
    """((a1·131 + a2)·131 + …) % P with aj = unicode point of char j —
    valid Spark SQL and DuckDB SQL alike."""
    # cast at the leaf: ascii() returns 32-bit INT and the polynomial
    # overflows it (ANSI mode errors); all arithmetic must run in BIGINT.
    # k ≤ 7 keeps the leading term < 2^63 for EVERY Unicode code point
    # (1,114,111 · 131^6 ≈ 5.6e18); k=8 already overflows on astral-plane
    # text — Spark non-ANSI would wrap silently while DuckDB promotes to
    # HUGEINT, splitting the engines apart
    _check_shingle_k(k)
    e = f"CAST(ascii(substring({s_expr}, 1, 1)) AS BIGINT)"
    for j in range(2, k + 1):
        e = f"({e} * 131 + ascii(substring({s_expr}, {j}, 1)))"
    return f"({e} % {MINHASH_P})"


def minhash_sql(text_expr: str, k: int = 5, n_hashes: int = 8) -> list[str]:
    """DuckDB expressions mirroring :func:`oracles.minhash_signature`
    (the Spark array form) exactly."""
    A, B = minhash_family(n_hashes)
    sh = (f"list_distinct(list_transform(range(1, greatest(length({text_expr}) - {k - 1}, 1) + 1),"
          f" i -> substring({text_expr}, i, {k})))")
    return [f"list_min(list_transform({sh},"
            f" s -> ({a} * {_polyhash_sql('s', k)} + {b}) % {MINHASH_P}))"
            for a, b in zip(A, B)]


def _minhash_sig_batch(ids: np.ndarray, texts, A: np.ndarray, B: np.ndarray,
                       k: int) -> pd.DataFrame:
    """Vectorized NumPy minhash signatures for one Arrow batch — value-
    identical to the SQL form (``oracles.minhash_signature`` / the pre-r7 explode+
    64-min-agg plan) but one C pass instead of one JVM row per character
    position (guide §4.2; the SQL plan additionally paid an O(position)
    UTF8 char-offset scan per substring, making it superlinear per doc).

    Exactness argument, piece by piece vs the SQL:
    - ``ascii(substring(t, j, 1))`` = the j-th Unicode code point =
      utf-32-le words; positions past the end give ascii('') = 0 = the
      zero padding below (only reachable when length < k, where SQL
      evaluates exactly one shingle at position 1).
    - the rolling polynomial is plain int64 arithmetic, no intermediate
      mod (max term < 2^63 for k ≤ 7, enforced by _polyhash_sql) —
      identical in NumPy int64.
    - ``%`` on non-negative int64 agrees between Spark, DuckDB and NumPy.
    - min over all positions == the SQL's min over (distinct) shingles.
    NULL text → all-NULL signature row, matching SQL null propagation.
    """
    n = len(texts)
    H = len(A)
    null_rows = []
    bufs, n_pos = [], np.empty(n, np.int64)
    eff = np.empty(n, np.int64)
    for i in range(n):
        t = texts[i]
        if t is None:
            null_rows.append(i)
            t = ""
        enc = t.encode("utf-32-le")
        L = len(enc) >> 2
        if L < k:                       # pad to k code points (ascii('')=0)
            enc += b"\x00" * (4 * (k - L))
            eff[i] = k
        else:
            eff[i] = L
        bufs.append(enc)
        n_pos[i] = max(L - (k - 1), 1)
    codes = np.frombuffer(b"".join(bufs), dtype="<u4").astype(np.int64)
    m = codes.size - (k - 1)            # defined window starts (may cross
    ph = codes[:m].copy()               # doc bounds; those are never selected)
    for j in range(1, k):
        ph *= 131
        ph += codes[j:m + j]
    ph %= MINHASH_P
    # per-doc valid window starts: starts[i] + [0, n_pos[i])
    starts = np.concatenate(([0], np.cumsum(eff)[:-1]))
    pos_starts = np.concatenate(([0], np.cumsum(n_pos)[:-1]))
    total = int(n_pos.sum())
    idx = (np.arange(total)
           + np.repeat(starts - pos_starts, n_pos))
    ph = ph[idx]
    out = {"_id": ids}
    for h in range(H):
        x = (A[h] * ph + B[h]) % MINHASH_P
        out[f"h{h}"] = np.minimum.reduceat(x, pos_starts)
    pdf = pd.DataFrame(out)
    if null_rows:
        for h in range(H):
            col = pdf[f"h{h}"].astype(object)
            col.iloc[null_rows] = None
            pdf[f"h{h}"] = col
    return pdf


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 5,
                       n_hashes: int = 8) -> DataFrame:
    """Signature table (_id, h0..h{n-1}) via the vectorized Arrow kernel —
    the production path minhash_lsh_candidates builds on. Raises for a
    shingle size outside 1 ≤ k ≤ 7, like the SQL form (_check_shingle_k):
    the int64 kernel would wrap silently on astral-plane text."""
    _check_shingle_k(k)
    A, B = minhash_family(n_hashes)
    An, Bn = np.asarray(A, np.int64), np.asarray(B, np.int64)
    narrow = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    # The kernel's parallelism equals the scan's EFFECTIVE split count
    # (row-group bound) — a small one-row-group corpus would run the
    # whole signature pass on one core; see ensure_min_parallelism for
    # the size-based rule (a no-op on any corpus big enough to matter).
    from .session import ensure_min_parallelism
    narrow = ensure_min_parallelism(narrow)
    fields = [T.StructField("_id", narrow.schema["_id"].dataType)]
    fields += [T.StructField(f"h{h}", T.LongType()) for h in range(n_hashes)]

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield _minhash_sig_batch(pdf["_id"].to_numpy(), pdf["_t"].tolist(),
                                     An, Bn, k)

    return narrow.mapInPandas(gen, schema=T.StructType(fields))


def _check_max_bucket(max_bucket: int) -> None:
    """``max_bucket`` sizes the salt split: 0 divides by zero in the
    executor and a negative cap turns salting off without a word."""
    if max_bucket < 1:
        raise ValueError(f"max_bucket={max_bucket} must be >= 1")


def _salted_buckets(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Bound LSH bucket size WITHOUT dropping content: buckets larger than
    ``max_bucket`` are split into ⌈n/max_bucket⌉ salt sub-buckets by a hash
    of the member id. Returns the banded rows with ``salt`` plus the
    bucket's global ``_n`` (size) and ``_bmin`` (canonical = min member
    ``m``) so callers can emit canonical→sub-bucket *bridge* pairs (pair
    recall inside a sub-bucket is exact; cross-sub-bucket pairs are
    represented through the canonical member). MinHash candidates are
    unverified, so each oversized bucket stays one connected group; the
    hash families verify every pair by hamming, bridges included, so a
    near-dup pair split across sub-buckets of a bucket whose canonical
    is far from both is lost.

    ``_n``/``_bmin`` are WINDOW aggregates over (band, bsig), not a size
    aggregation joined back on the same key: one pass over ``banded``, no
    equi-join, and (because the window's hash partitioning on
    (band, bsig) already satisfies the downstream groupBy(band, bsig,
    salt) clustering) exactly ONE exchange for the whole
    size→salt→pair chain. A member ``m`` that carries a payload is
    ``struct(_id, payload)``: ordered by id first, so its min is the
    canonical row and the payload rides along with no lookup join.

    A NULL id raises (inline, in the member's projection — no extra job):
    a NULL member can be neither paired nor elected canonical."""
    w = Window.partitionBy("band", "bsig")
    j = banded.withColumn("m", F.when(F.col("_id").isNull(), F.raise_error(
        F.lit("LSH input has a NULL id; ids must be non-null"))).otherwise(F.col("m")))
    j = (j.withColumn("_n", F.count("*").over(w))
         .withColumn("_bmin", F.min("m").over(w)))
    n_sub = F.ceil(F.col("_n") / max_bucket)
    salt = F.when(F.col("_n") <= max_bucket, F.lit(0)) \
        .otherwise(F.pmod(F.xxhash64(F.col("_id").cast("string")), n_sub))
    return j.withColumn("salt", salt.cast("int"))


def _band_pairs(banded: DataFrame, max_bucket: int) -> DataFrame:
    """The one LSH pair generator: banded rows ``(_id, band, bsig, m)`` →
    candidate pairs ``(a, b)`` of members with ``a < b``, one row per
    (pair, band bucket) it is found in.

    Buckets are salt-split by :func:`_salted_buckets`; each (band, bsig,
    salt) sub-bucket collects its sorted members ``xs`` and emits, in ONE
    array expression, its within-bucket pairs plus the canonical bridge
    ``_bmin ↔ xs[0]`` when the bucket was split and the sub-bucket does
    not hold the canonical. One expression rather than a union of the
    two: a union would recompute the whole signature→banding→window→
    collect chain once per branch. The member ``m`` is the raw id
    (MinHash) or ``struct(_id, sh)`` (SimHash/phash); either way its
    order is id order, so ``a < b`` holds with no reordering."""
    _check_max_bucket(max_bucket)
    grouped = (_salted_buckets(banded, max_bucket)
               .groupBy("band", "bsig", "salt")
               .agg(F.sort_array(F.collect_list("m")).alias("xs"),
                    F.first("_bmin").alias("_bmin"), F.first("_n").alias("_n"))
               .filter((F.size("xs") > 1) | (F.col("_n") > F.size("xs"))))
    pair_list = F.expr(
        "concat("
        " flatten(transform(xs, (a, i) -> "
        "   transform(slice(xs, i + 2, size(xs) - i - 1),"
        "             b -> named_struct('a', a, 'b', b)))),"
        " filter(array(named_struct('a', _bmin, 'b', xs[0])),"
        f"        x -> _n > {int(max_bucket)} AND _bmin < xs[0]))")
    return grouped.select(F.explode(pair_list).alias("p")).select("p.a", "p.b")


def lsh_bucket_stats(banded: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """Monitoring side output: per-band bucket sizes that exceeded
    ``max_bucket`` (i.e. were salt-split). On a production crawl this is
    the 'boilerplate hot bucket' report — run it alongside the candidate
    job (same one aggregation) and alert on growth."""
    _check_max_bucket(max_bucket)
    return (banded.groupBy("band", "bsig")
            .agg(F.count("*").alias("n_docs"))
            .filter(F.col("n_docs") > max_bucket)
            .withColumn("n_sub_buckets",
                        F.ceil(F.col("n_docs") / max_bucket).cast("int")))


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 5,
                           n_hashes: int = 8, bands: int = 4,
                           max_bucket: int = 1000) -> DataFrame:
    """LSH candidate pairs: split the signature into ``bands`` bands of
    n_hashes/bands rows; docs sharing any band signature are candidates.
    Output: (id_a, id_b, n_shared_bands), id_a < id_b.

    Plan shape: one narrow signature pass → explode(bands) → ONE banded
    shuffle on (band, bsig) → within-bucket pairing (:func:`_band_pairs`)
    → a pair shuffle whose count is ``n_shared_bands``. Hot buckets
    (boilerplate text) are the skew risk — pair generation is quadratic
    per bucket, so buckets larger than ``max_bucket`` are salt-split into
    bounded sub-buckets and re-connected through canonical bridge pairs
    (see _salted_buckets; sizes observable via lsh_bucket_stats). Nothing
    is silently dropped.

    r7: signatures come from the vectorized Arrow kernel
    (:func:`minhash_signatures` — values identical to the SQL form, see
    _minhash_sig_batch's exactness argument) and bucket sizes from window
    aggregates sharing the pairing shuffle's exchange (_salted_buckets),
    so the signature stage runs ONCE per job and nothing needs to be
    persisted — the returned DataFrame is fully lazy with no cache to
    release.

    Family size: any ``n_hashes`` up to :data:`MINHASH_MAX_HASHES` (128);
    pick ``bands`` with :func:`choose_bands` to target a Jaccard
    threshold — e.g. (64, bands=16) ⇒ t ≈ 0.50, (128, bands=16) ⇒
    t ≈ 0.71. Larger families sharpen the S-curve: fewer low-similarity
    false candidates reach the Jaccard verification join at equal
    recall (measured in BENCH/notes_r6.md)."""
    if bands < 1:
        raise ValueError(f"bands={bands} must be >= 1")
    if n_hashes % bands:
        # silently dropping the trailing hashes would weaken the signature
        # with no signal (and the banded column refs would blow up later
        # with an opaque AnalysisException)
        raise ValueError(f"bands={bands} must divide n_hashes={n_hashes}")
    rows = n_hashes // bands
    sig_df = minhash_signatures(df, text_col, id_col, k, n_hashes)
    banded = sig_df.select("_id", F.col("_id").alias("m"), F.posexplode(F.array(*[
        F.concat_ws("|", *[F.col(f"h{b * rows + r}") for r in range(rows)])
        for b in range(bands)])).alias("band", "bsig"))
    return (_band_pairs(banded, max_bucket)
            .groupBy(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
            .agg(F.count("*").alias("n_shared_bands")))


def _i64(x: int) -> int:
    """Two's-complement fold to signed 64-bit (JVM longs are signed)."""
    return x - (1 << 64) if x >= (1 << 63) else x


# ----------------------------------------------------------- SimHash -------

def simhash64_udf(text_col: str = "text", token_split: str = " "):
    """64-bit SimHash as a vectorized pandas UDF: per token, an md5-derived
    hash contributes ±1 to each bit position; sign of the sum per bit.
    Bit-exact SQL oracle (contract query dedup_simhash): DuckDB's
    md5_number_upper(tok) equals int.from_bytes(md5[:8], 'little'), so the
    whole sign aggregation replays engine-independently."""
    @F.pandas_udf("long")
    def simhash(s: pd.Series) -> pd.Series:
        out = np.empty(len(s), dtype=np.int64)
        bitpos = np.arange(64, dtype=np.uint64)
        for i, txt in enumerate(s):
            if not txt:                 # null/empty doc → documented 0
                # (''.split(' ') is [''] — truthy — so the old guard was
                # unreachable and empty docs got md5('')'s simhash,
                # clustering every empty doc as a near-dup of that value)
                out[i] = 0
                continue
            toks = txt.split(token_split)
            # deterministic token hash (NOT Python hash(): that is
            # process-salted and would differ across executors)
            hs = np.array([int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "little")
                           for t in toks], dtype=np.uint64)
            bits = ((hs[:, None] >> bitpos[None, :]) & np.uint64(1)).astype(np.int64)
            acc = (2 * bits - 1).sum(axis=0)
            v = 0
            for b in np.nonzero(acc > 0)[0].tolist():
                v |= 1 << b
            out[i] = v - (1 << 64) if v >= (1 << 63) else v
        return pd.Series(out)
    return simhash(F.col(text_col))


def band_masks(max_hamming: int, band_bits: int = 16) -> list[int]:
    """Bit-band masks whose count GUARANTEES candidate generation for every
    pair within ``max_hamming`` (pigeonhole: h differing bits cannot touch
    all of h+1 disjoint bands). Equal ``band_bits``-wide bands are used
    when enough of them exist; otherwise the 64 bits are re-split into
    max_hamming+1 near-equal contiguous bands. Shared with the DuckDB
    oracle builder so engine and oracle can never band differently."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming={max_hamming} must be >= 0")
    if band_bits < 1:
        raise ValueError(f"band_bits={band_bits} must be >= 1")
    n_bands = 64 // band_bits
    if n_bands >= max_hamming + 1:
        return [_i64(((1 << band_bits) - 1) << (b * band_bits))
                for b in range(n_bands)]
    n_bands = max_hamming + 1
    if n_bands > 64:
        raise ValueError("max_hamming ≥ 64 needs no LSH — all pairs match")
    edges = [(64 * b) // n_bands for b in range(n_bands + 1)]
    return [_i64(((1 << (edges[b + 1] - edges[b])) - 1) << edges[b])
            for b in range(n_bands)]


def _hash_band_near_dups(d: DataFrame, max_hamming: int, band_bits: int,
                         max_bucket: int = 1000) -> DataFrame:
    """Shared 64-bit-hash LSH: bucket by bit-bands (band_masks — enough
    bands that a pair within max_hamming ALWAYS shares ≥1 exact band),
    pair through :func:`_band_pairs` (salt-split oversized buckets with
    canonical bridges), verify with bit_count. Input d: (_id, sh). Each
    member is ``struct(_id, sh)``, so a bridge pair carries the
    canonical's hash with no lookup join or corpus broadcast."""
    masks = band_masks(max_hamming, band_bits)
    bandcols = [(F.col("sh").cast("long").bitwiseAND(F.lit(m))).alias(f"b{b}")
                for b, m in enumerate(masks)]
    banded = d.select("_id", F.struct("_id", "sh").alias("m"),
                      F.posexplode(F.array(*bandcols)).alias("band", "bsig"))
    return (_band_pairs(banded, max_bucket)
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
                    F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


def simhash_near_dups(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", max_hamming: int = 3,
                      band_bits: int = 16, max_bucket: int = 1000) -> DataFrame:
    """SimHash near-dup pairs: band-bucket LSH + Hamming verify; oversized
    buckets are salt-split, never dropped (_salted_buckets)."""
    d = df.select(F.col(id_col).alias("_id"),
                  simhash64_udf(text_col).alias("sh"))
    return _hash_band_near_dups(d, max_hamming, band_bits, max_bucket)


# ------------------------------------------------------ n-gram Jaccard -----

def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        threshold: float = 0.5,
                        candidates: DataFrame | None = None) -> DataFrame:
    """Exact k-gram Jaccard similarity for candidate pairs (from LSH, or
    all-pairs if ``candidates`` is None — only for small tables/tests)."""
    sh = shingles_col(text_col, k)
    docs = df.select(F.col(id_col).alias("_id"), sh.alias("grams"))
    if candidates is None:
        a = docs.alias("a"); b = docs.alias("b")
        pairs = (a.join(b, F.col("a._id") < F.col("b._id"))
                 .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
                         F.col("a.grams").alias("ga"), F.col("b.grams").alias("gb")))
    else:
        pairs = (candidates
                 .join(docs.withColumnRenamed("grams", "ga"),
                       candidates.id_a == docs._id).drop("_id")
                 .join(docs.withColumnRenamed("grams", "gb").withColumnRenamed("_id", "_id2"),
                       F.col("id_b") == F.col("_id2")).drop("_id2"))
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    union = F.size(F.array_union("ga", "gb")).cast("double")
    return (pairs.withColumn("jaccard", F.round(inter / union, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# --------------------------------- exact-substring (span-level) dedup ------

def duplicate_spans(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 8,
                    min_count: int = 2) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    span-level companion to whole-document dedup): find every maximal
    token span that appears at least ``min_count`` times ANYWHERE in the
    corpus (another document, or another position of the same document)
    at k-token granularity. Returns one row per maximal span:
    (id_col, span_start, span_end, n_grams) with token offsets 0-based,
    end exclusive — the spans a span-remover would cut (boilerplate
    headers, licence blocks, templated footers).

    Semantics: a position p of a document is covered when the word
    k-gram starting at p occurs ≥ min_count times corpus-wide
    (occurrences counted positionally, NOT distinct-per-doc, so
    within-document repetition is duplication too — same rule as the
    reference algorithm's suffix-array occurrence count). Overlapping or
    touching covered intervals [p, p+k) merge into maximal spans.
    Documents shorter than k tokens yield no rows (no k-gram exists;
    the guard matters because Spark's ``sequence(1, n)`` DESCENDS when
    n < 1 rather than returning empty).

    Scale plan (no suffix array needed — the relational form): one
    projection builds positional md5(k-gram) keys inline with the scan;
    ONE shuffle on the 32-hex gram hash computes the corpus-wide
    occurrence count as a window aggregate (keeping the positional rows,
    so the count never needs a second join-back shuffle of the gram
    stream); ONE shuffle on the doc id merges covered positions into
    maximal spans (lag + running-sum interval merge — the sessionize
    kernel). Hot grams (crawl boilerplate occurring 10^6×) land one
    window partition each; WindowExec buffers through the spillable
    external sorter, so they degrade to disk streaming, not OOM — and
    the payload rows are only (doc_id, pos). Grouping on md5 keeps the
    shuffle key fixed-width (vs shuffling raw k-gram strings) and is
    what DuckDB replays by construction.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if min_count < 2:
        raise ValueError("min_count must be >= 2 (1 marks everything)")
    base = (df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_t"))
            .filter(F.size("_t") >= k))
    grams = base.select(
        F.col(id_col),
        F.posexplode(F.expr(
            f"transform(sequence(1, size(_t) - {k - 1}),"
            f" i -> md5(concat_ws(' ', slice(_t, i, {k}))))"))
        .alias("pos", "_g"))
    counted = grams.withColumn(
        "_c", F.count("*").over(Window.partitionBy("_g")))
    covered = counted.filter(F.col("_c") >= min_count).select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") > F.lag("pos").over(w) + k, 1).otherwise(0)
    spans = (covered.withColumn("_sid",
                                F.sum(brk).over(w.rowsBetween(
                                    Window.unboundedPreceding, 0)))
             .groupBy(id_col, "_sid")
             .agg(F.min("pos").cast("long").alias("span_start"),
                  (F.max("pos") + k).cast("long").alias("span_end"),
                  F.count("*").alias("n_grams"))
             .drop("_sid"))
    return spans


def duplicate_spans_sql(table: str, text_expr: str = "text",
                        id_col: str = "doc_id", k: int = 8,
                        min_count: int = 2) -> str:
    """DuckDB replay of :func:`duplicate_spans` — identical tokenization
    (space split), identical md5 gram keys, identical interval-merge rule
    (new span when pos > prev_pos + k)."""
    toks = f"string_split({text_expr}, ' ')"
    return f"""
WITH base AS (
  SELECT {id_col}, {toks} AS t FROM {table} WHERE len({toks}) >= {k}),
g AS (
  SELECT {id_col}, unnest(range(0, len(t) - {k} + 1)) AS pos, t FROM base),
h AS (
  SELECT {id_col}, pos,
         md5(array_to_string(t[pos + 1 : pos + {k}], ' ')) AS gh
  FROM g),
c AS (
  SELECT {id_col}, pos, COUNT(*) OVER (PARTITION BY gh) AS n FROM h),
f AS (SELECT {id_col}, pos FROM c WHERE n >= {min_count}),
m AS (
  SELECT {id_col}, pos,
         CASE WHEN pos > LAG(pos) OVER w + {k} THEN 1 ELSE 0 END AS brk
  FROM f WINDOW w AS (PARTITION BY {id_col} ORDER BY pos)),
s AS (
  SELECT {id_col}, pos,
         SUM(brk) OVER (PARTITION BY {id_col} ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM m)
SELECT {id_col}, MIN(pos) AS span_start, MAX(pos) + {k} AS span_end,
       COUNT(*) AS n_grams
FROM s GROUP BY {id_col}, sid"""


# ------------------------------------------------ duplicate clusters -------

def _star_edges(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (or small-star) contraction round over a symmetric
    edge table (a, b): every node u computes m = min(Γ(u) ∪ {u}) and
    re-attaches its larger (large) / smaller (small) neighbors — plus
    itself — directly to m (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SOCC'14). The neighbor view is re-symmetrized
    every round (the emitted edges are directed child→parent); the body
    is one min-aggregation on the node id + one equi-join back on the
    same key. Every replaced edge (u,v) keeps u—v connected through m
    (both endpoints re-attach to m within the round), and a node's
    attachment id only ever decreases — monotone convergence to stars
    rooted at each component minimum."""
    # symmetrize in ONE pass via explode — unioning a plan with its own
    # reversed projection reuses the subtree twice, which Catalyst's
    # relation dedup mishandles when the result is later checkpointed
    # ("key not found: b#N" from inside localCheckpoint)
    sym = (edges.select(F.explode(F.array(
               F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
               F.struct(F.col("b").alias("a"), F.col("a").alias("b"))))
           .alias("_e")).select("_e.a", "_e.b"))
    mins = (sym.groupBy("a")
            .agg(F.least(F.min("b"), F.first("a")).alias("_m"))
            .withColumnRenamed("a", "_u"))
    sel = (F.col("b") > F.col("a")) if large else (F.col("b") < F.col("a"))
    reattached = (sym.filter(sel)
                  .join(mins, F.col("a") == F.col("_u"))
                  .select(F.col("b").alias("a"), F.col("_m").alias("b")))
    self_link = mins.select(F.col("_u").alias("a"), F.col("_m").alias("b"))
    return (reattached.unionByName(self_link)
            .filter(F.col("a") != F.col("b")).distinct())


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 50) -> DataFrame:
    """Duplicate clusters from a candidate/verified pair graph: every doc
    gets ``component_id`` = the minimum doc id reachable through pairs —
    the grouping step the LSH/SimHash/phash candidate generators defer to
    (their salt-split bridge pairs exist exactly so this pass re-joins
    oversized buckets).

    Algorithm: alternating large-star/small-star contraction (Kiveris et
    al., SOCC'14) — each round is one min-aggregation plus one equi-join,
    both shuffling on the node id, and the edge set contracts toward
    stars rooted at each component's minimum. Rounds to converge are
    O(log² n) even on pathological long-path graphs, where plain hash-min
    label propagation pays O(diameter) rounds (A/B at 1.6M docs: 206s
    hash-min vs 71s star contraction, identical components; a 200-node
    path converges in ≤12 alternations vs ~200 propagation rounds —
    BENCH/notes_r6.md §9). Each round localCheckpoints the edge table so
    lineage stays O(1); convergence is detected by an (edge count,
    xor-hash) fingerprint — two tiny aggregations, no data to the
    driver. Degree skew is bounded upstream by max_bucket; the star
    contraction itself only ever lowers a node's attachment point.

    Returns (doc_id, component_id) for every doc that appears in a pair;
    singleton docs are absent (their component is trivially themselves —
    left-join and coalesce with the corpus when the full mapping is
    needed, see dedup_keep_canonical)."""
    endpoints = (pairs.select(F.explode(F.array(
                     F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                     F.struct(F.col(dst).alias("a"), F.col(src).alias("b"))))
                 .alias("_e")).select("_e.a", "_e.b"))
    # nodes derive from the RAW endpoints (before the self-loop filter):
    # a degenerate self-pair (x, x) must still yield (x, x) in the
    # output — the documented contract and what the recursive-CTE oracle
    # returns — rather than silently vanishing
    nodes = endpoints.select(F.col("a").alias("doc_id")).distinct() \
                     .localCheckpoint(eager=True)
    edges = (endpoints.filter(F.col("a") != F.col("b"))
             .distinct().localCheckpoint(eager=True))

    def fingerprint(e: DataFrame):
        # pmod bounds each summand to 2^31 so the ANSI-mode sum cannot
        # overflow long below 2^32 edges
        r = e.agg(F.count("*").alias("n"),
                  F.sum(F.pmod(F.xxhash64("a", "b"),
                               F.lit(1 << 31))).alias("h")).first()
        return (r["n"], r["h"])

    prev = fingerprint(edges)
    for _ in range(max_iter):
        # large-star result feeds small-star within the same round
        edges = _star_edges(edges, large=True)
        edges = _star_edges(edges, large=False).localCheckpoint(eager=True)
        cur = fingerprint(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise ValueError(f"connected_components: no convergence in "
                         f"{max_iter} rounds")
    # converged edges are stars (u → component root); the root itself has
    # no outgoing edge, so left-join and default to self
    roots = edges.groupBy("a").agg(F.min("b").alias("component_id"))
    return (nodes.join(roots, nodes.doc_id == roots.a, "left")
            .select("doc_id",
                    F.coalesce("component_id", F.col("doc_id"))
                    .alias("component_id")))


def dedup_keep_canonical(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """The end of the dedup pipeline: keep ONE representative per
    duplicate cluster — the min-id member PRESENT IN ``df`` — and drop
    the rest. Docs in no pair are their own cluster and are kept. The
    representative is chosen among df's own rows (not the cluster's
    global min id): when pairs reference ids absent from df (a stale or
    broader candidate run), the cluster still keeps exactly one
    surviving member instead of silently losing all of them. The
    representative election runs over an IDS-ONLY projection (8-byte
    rows), so the wide corpus is never shuffled through the per-cluster
    aggregation — it pays exactly one semi-join on the kept-id set."""
    comp = (connected_components(pairs)
            .withColumnRenamed("doc_id", "_cc_id")      # avoid colliding
            .withColumnRenamed("component_id", "_cc_comp"))  # with id_col
    ids = df.select(F.col(id_col).alias("_id"))
    labeled = (ids.join(comp, ids["_id"] == comp["_cc_id"], "left")
               .select("_id", F.coalesce("_cc_comp", F.col("_id")).alias("_cc")))
    keep = (labeled.groupBy("_cc").agg(F.min("_id").alias("_keep"))
            .select("_keep"))
    return df.join(keep, df[id_col] == keep["_keep"], "left_semi")


def components_sql(pairs_sql: str) -> str:
    """DuckDB oracle for connected_components: min reachable id via a
    recursive CTE over the symmetric edge set (UNION dedups states, so
    the recursion terminates on cyclic graphs)."""
    return f"""
      WITH RECURSIVE pr AS ({pairs_sql}),
      edges AS (SELECT id_a AS a, id_b AS b FROM pr
                UNION SELECT id_b, id_a FROM pr),
      reach(id, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
      SELECT id AS doc_id, MIN(r) AS component_id
      FROM reach GROUP BY id"""


# ----------------------------------------------------- phash near-dup ------

def phash_near_dups(images: DataFrame, max_hamming: int = 8,
                    band_bits: int = 16, max_bucket: int = 1000) -> DataFrame:
    """Image near-dup pairs on the 64-bit perceptual hash column — same
    band-bucket LSH as simhash, entirely JVM-side (no decode); oversized
    buckets salt-split, never dropped."""
    d = images.select(F.col("image_id").alias("_id"), F.col("phash").alias("sh"))
    return _hash_band_near_dups(d, max_hamming, band_bits, max_bucket)


# ------------------------------------------------- cross-modal dedup -------

def caption_exact_pairs(images: DataFrame, caption_col: str = "caption",
                        id_col: str = "image_id") -> DataFrame:
    """Exact-duplicate caption edges in STAR form: one (group-min id,
    member id) edge per extra member of each duplicated caption —
    O(group size) edges where the naive pair join emits O(group²) (a
    boilerplate caption shared by 10^5 crawl rows would otherwise
    produce 10^10 pairs). Star edges carry exactly the connectivity the
    downstream component pass needs. Group key is md5(caption) — a
    fixed-width shuffle key instead of arbitrary-length text. Null
    captions are excluded (absence of a caption is not a duplicate
    signal)."""
    d = (images.filter(F.col(caption_col).isNotNull())
         .select(F.md5(F.col(caption_col)).alias("_ck"),
                 F.col(id_col).alias("_id")))
    mins = (d.groupBy("_ck")
            .agg(F.min("_id").alias("id_a"), F.count("*").alias("_n"))
            .filter(F.col("_n") > 1))
    return (d.join(mins.select("_ck", "id_a"), "_ck")
            .filter(F.col("_id") != F.col("id_a"))
            .select("id_a", F.col("_id").alias("id_b")))


def crossmodal_dedup(images: DataFrame, caption_col: str = "caption",
                     id_col: str = "image_id", phash_col: str = "phash",
                     max_hamming: int = 10, band_bits: int = 16,
                     max_bucket: int = 1000) -> DataFrame:
    """Cross-modal duplicate clustering over an image+caption table: two
    rows are duplicates when their captions are byte-equal OR their
    perceptual hashes are within ``max_hamming`` bits. Both modalities'
    edge sets union into ONE graph before the component pass, so a
    caption chain can merge two visually-distinct clusters and a phash
    chain can merge caption rewrites — the transitive matches that
    running each modality's dedup separately provably misses. Returns
    (doc_id, component_id) for every image in ≥1 edge (singletons are
    their own cluster; see dedup_keep_canonical for the kept corpus).

    Scale: caption edges are star-form (linear in group size), phash
    edges are band-bucket LSH with salt-split hot buckets — no stage is
    quadratic in a duplicate group, and the component pass is the
    large-star/small-star contraction (O(log² n) rounds)."""
    cap = caption_exact_pairs(images, caption_col, id_col)
    ph = (phash_near_dups(
            images.select(F.col(id_col).alias("image_id"),
                          F.col(phash_col).alias("phash")),
            max_hamming, band_bits, max_bucket)
          .select("id_a", "id_b"))
    return connected_components(cap.unionByName(ph))


# -------------------------------------- Bloom batch-vs-corpus prefilter ----
#
# Production shape for "dedupe today's crawl batch against the committed
# 10^12-doc corpus": the CORPUS must never shuffle. Build a Bloom filter
# from the (small) incoming batch's keys, broadcast it, and evaluate it as
# a narrow map-only filter inside the corpus scan — only the corpus rows
# that MIGHT collide (true matches + a tunable false-positive sliver)
# survive to the exact verification join, which is then broadcast-sized.
# This is the same direction Spark's own runtime row-level bloom join
# pushes (small side builds, big side filters); here it is explicit so the
# filter bits are engine-replayable: positions come from the md5-backed
# u60 draw (sampling.u60_col / u60_sql — bit-identical in Spark and
# DuckDB) via Kirsch-Mitzenmacher double hashing, so an oracle can replay
# every set bit, INCLUDING the false positives, by construction.

BLOOM_SEED = 41


def _bloom_check_m(m_bits: int) -> None:
    if m_bits % 64 or m_bits <= 0 or m_bits > (1 << 32):
        raise ValueError("m_bits must be a positive multiple of 64 ≤ 2^32")


def bloom_positions_col(key, m_bits: int, k_hashes: int,
                        seed: int = BLOOM_SEED,
                        hashes: str = "md5") -> list:
    """The k bit positions of ``key`` as JVM Columns (pure expression
    arithmetic — whole-stage-codegen'd, no Python). Position i is
    (h1 + i·h2) mod m with h2 ∈ [1, m-1] (Kirsch-Mitzenmacher);
    intermediates stay < k·2^32 « 2^63 for m ≤ 2^32.

    ``hashes="md5"`` (default): h1/h2 are disjoint 60-bit slices of ONE
    md5 digest (hex chars 1-15 / 17-31 — one digest, both bases: md5
    dominates the per-key cost). DuckDB-replayable via
    :func:`bloom_positions_sql` — the oracle-parity mode.

    ``hashes="xxhash64"``: two seeded xxhash64 draws — measured 3×
    cheaper than md5 at 20M keys (1.1s vs 3.5s JVM-side); the
    production mode when no cross-engine replay is needed."""
    h1, h2 = _bloom_bases_col(key, m_bits, seed, hashes)
    return [(h1 + F.lit(i) * h2) % F.lit(m_bits) for i in range(k_hashes)]


def _bloom_bases_col(key, m_bits: int, seed: int, hashes: str):
    """(h1, h2) Kirsch-Mitzenmacher base Columns; h1 ∈ [0, m), h2 ∈ [1, m)."""
    _bloom_check_m(m_bits)
    if hashes == "md5":
        d = F.md5(F.concat(key.cast("string"), F.lit(f":{seed}")))
        h1 = (F.conv(F.substring(d, 1, 15), 16, 10).cast("long")
              % F.lit(m_bits))
        h2 = (F.conv(F.substring(d, 17, 15), 16, 10).cast("long")
              % F.lit(m_bits - 1) + F.lit(1))
    elif hashes == "xxhash64":
        h1 = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(m_bits))
        h2 = (F.pmod(F.xxhash64(key, F.lit(seed + 1)), F.lit(m_bits - 1))
              + F.lit(1))
    else:
        raise ValueError(f"unknown hashes mode {hashes!r}")
    return h1, h2


def bloom_positions_sql(key_expr: str, m_bits: int, k_hashes: int,
                        seed: int = BLOOM_SEED,
                        dialect: str = "duckdb") -> list[str]:
    """The identical k positions as SQL text (oracle parity; md5 mode
    only — xxhash64 has no cross-engine equivalent)."""
    assert dialect in ("duckdb", "spark")
    if dialect == "duckdb":
        d = f"md5(CAST({key_expr} AS VARCHAR) || ':{seed}')"
        def u(off):
            return f"CAST(concat('0x', substr({d}, {off}, 15)) AS BIGINT)"
    else:
        d = f"md5(concat(CAST({key_expr} AS STRING), ':{seed}'))"
        def u(off):
            return f"CAST(conv(substr({d}, {off}, 15), 16, 10) AS BIGINT)"
    h1 = f"({u(1)} % {m_bits})"
    h2 = f"(({u(17)} % {m_bits - 1}) + 1)"
    return [f"(({h1} + {i} * {h2}) % {m_bits})" for i in range(k_hashes)]


def bloom_build(df: DataFrame, key_col: str, m_bits: int = 1 << 16,
                k_hashes: int = 5, seed: int = BLOOM_SEED,
                hashes: str = "md5") -> np.ndarray:
    """Build the filter from ``df[key_col]`` and return it as an int64
    word array of length m_bits/64 (bit p lives at word p>>6, bit p&63).

    Distributed build: explode each key to its k positions, aggregate
    ``bit_or`` of the per-position masks grouped by word index — ONE
    shuffle bounded by m/64 keys (not by corpus size), then a driver
    scatter of the ≤ m/64 sparse (word, value) rows. At the production
    batch size (10^7 keys, m = 2^30 ≈ 128 MiB) both the shuffle and the
    broadcast stay executor-friendly."""
    # NULL keys carry no membership information: drop them here (a NULL
    # would otherwise become a NULL word index and kill the scatter) and
    # bloom_might_contain reports them as non-members symmetrically
    pos = (df.filter(F.col(key_col).isNotNull())
           .select(F.explode(F.array(
               *bloom_positions_col(F.col(key_col), m_bits, k_hashes,
                                    seed, hashes))).alias("p")))
    # Arrow transfer + vectorized scatter: at production sizing the sparse
    # word set is millions of rows (m=2^29, 6M keys → ~7M nonzero words) —
    # row-at-a-time collect() costs ~30s there, toPandas ~1s
    wpd = (pos
           .select(F.shiftright("p", 6).alias("w"),
                   F.expr("shiftleft(1L, cast(p % 64 AS INT))").alias("m"))
           .groupBy("w").agg(F.expr("bit_or(m)").alias("v"))
           .toPandas())
    words = np.zeros(m_bits >> 6, dtype=np.int64)
    words[wpd["w"].to_numpy()] = wpd["v"].to_numpy()
    return words


def bloom_might_contain(df: DataFrame, key_col: str, words: np.ndarray,
                        k_hashes: int = 5, seed: int = BLOOM_SEED,
                        out_col: str = "bloom_hit",
                        hashes: str = "md5") -> DataFrame:
    """Append boolean ``out_col``: True iff every one of the key's k bits
    is set in ``words``. Positions are computed JVM-side; Python does
    only the broadcast-bitmap gather — one vectorized Arrow kernel
    (numpy shift/AND over an (n, k) int64 matrix), measured ~0.15 µs/row
    at 20M probes. A zero-Python alternative was built and REJECTED:
    probing via k BroadcastHashJoins against the sparse (word, value)
    table is 4-25× slower, because at useful sizing a Bloom filter is
    ~30-50% dense, so the "sparse" relation approaches m/64 entries and
    every probe pays k hash-relation lookups (measured 106s vs 24s at
    20M×4 probes; the Arrow gather is an L2-resident array index)."""
    m_bits = int(words.shape[0]) << 6
    h1, h2 = _bloom_bases_col(F.col(key_col), m_bits, seed, hashes)
    bc = df.sparkSession.sparkContext.broadcast(words)

    # ship the TWO bases as scalar long columns (zero-copy Arrow→numpy)
    # and derive the k positions vectorized in numpy — transferring the
    # expanded array<long> column instead costs a python-object list per
    # row on the receive side (np.array(series.tolist())), measured ~3×
    # the whole kernel at 60M probes
    @F.pandas_udf("boolean")
    def _hit(a: pd.Series, b: pd.Series) -> pd.Series:
        w = bc.value
        if len(a) == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        av = a.to_numpy(dtype=np.int64, copy=False)
        bv = b.to_numpy(dtype=np.int64, copy=False)
        acc = np.ones(len(av), dtype=bool)
        for i in range(k_hashes):
            p = (av + i * bv) % m_bits
            acc &= ((w[p >> 6] >> (p & 63)) & 1).astype(bool)
        return pd.Series(acc)

    # NULL keys are non-members by definition (mirrors bloom_build's
    # null drop); coalescing the bases keeps the Arrow kernel all-int64
    return (df.withColumn("_bh1", F.coalesce(h1, F.lit(0)))
            .withColumn("_bh2", F.coalesce(h2, F.lit(1)))
            .withColumn(out_col,
                        F.when(F.col(key_col).isNull(), F.lit(False))
                        .otherwise(_hit("_bh1", "_bh2")))
            .drop("_bh1", "_bh2"))


def bloom_dedup_batch(batch: DataFrame, corpus: DataFrame, key_col: str,
                      m_bits: int = 1 << 16, k_hashes: int = 5,
                      seed: int = BLOOM_SEED,
                      hashes: str = "md5") -> DataFrame:
    """Batch rows annotated ``is_dup`` (its key already in the corpus),
    computed without ever shuffling the corpus: bloom(batch) filters the
    corpus scan map-side, the survivors (true matches + FP sliver) feed a
    plain equi-join that AQE broadcast-sizes. Exact — false positives are
    eliminated by the verification join, false negatives are impossible."""
    words = bloom_build(batch.select(key_col), key_col, m_bits,
                        k_hashes, seed, hashes)
    surv = (bloom_might_contain(corpus.select(key_col), key_col, words,
                                k_hashes, seed, hashes=hashes)
            .filter(F.col("bloom_hit")).select(key_col).distinct())
    return (batch.join(surv.withColumn("_in_corpus", F.lit(True)),
                       key_col, "left")
            .withColumn("is_dup", F.coalesce("_in_corpus", F.lit(False)))
            .drop("_in_corpus"))


def bow_fingerprint_col(text_col: str):
    """Bag-of-words fingerprint: sorted distinct space-tokens rejoined —
    the normalization key the bloom contract query dedupes on (robust to
    token reordering/repetition, the dominant near-dup mode in crawls)."""
    return F.array_join(
        F.array_sort(F.array_distinct(F.split(F.col(text_col), " "))), " ")


def bow_fingerprint_sql(text_expr: str) -> str:
    return (f"array_to_string(list_sort(list_distinct("
            f"string_split({text_expr}, ' '))), ' ')")


# ------------------------------------------- incremental corpus ingest -----
#
# The production training-data loop: crawl batches arrive continuously,
# only NOVEL documents (content key unseen in the committed corpus) may
# land, retries must be no-ops, and the committed corpus must never be
# re-read per batch. Design:
#
#   corpus snapshot table (exactly-once, time-travel)
#   ├── docs   — the deduplicated corpus rows, bucket-partitioned
#   └── hashes — (content_hash, bucket) index, SAME buckets
#   + an in-memory Bloom cache of the committed hashes (pure cache:
#     rebuilt from the index at stream start, OR-folded per batch)
#
# Per batch: within-batch keep-first → Bloom probe (map-only) splits the
# batch into definitely-novel rows and candidates → candidates verify by
# anti-join against ONLY their buckets of the hash index (manifest-level
# partition pruning — the index scan is ∝ candidate buckets, the corpus
# itself is never touched) → one ATOMIC commit of (docs, hashes). A
# replayed batch no-ops twice over: run_id dedup at the commit layer,
# and every row already being in the index. Bloom staleness in either
# direction is harmless — false positives fall to the exact verify,
# false negatives cannot exist for committed rows after the start-up
# rebuild, and an uncommitted-row bit (crash between bloom fold and a
# failed commit) only produces extra candidates.

class DedupIngest:
    """Incremental exactly-once dedup ingestion into a snapshot corpus.

    ``key`` is the content identity (default md5 of ``text_col``; pass a
    normalized key Column — e.g. md5(bow_fingerprint) — for near-exact
    ingestion). ``n_buckets`` sets the hash-index partition fan-out: the
    verify join reads only candidate buckets, but every commit writes up
    to n_buckets files per dataset, so size it to corpus scale (64-1024
    in production), not to batch scale."""

    def __init__(self, spark, corpus_path: str, text_col: str = "text",
                 id_col: str = "doc_id", key=None,
                 m_bits: int = 1 << 22, k_hashes: int = 5,
                 n_buckets: int = 16, seed: int = BLOOM_SEED):
        from .snapshots import SnapshotTable
        self.spark, self.text_col, self.id_col = spark, text_col, id_col
        self.key = key if key is not None else F.md5(F.col(text_col))
        self.m_bits, self.k_hashes, self.seed = m_bits, k_hashes, seed
        self.n_buckets = n_buckets
        self.table = SnapshotTable(spark, corpus_path)
        if self.table.current_id is not None:
            self.words = bloom_build(
                self.table.read(table="hashes").select("content_hash"),
                "content_hash", m_bits, k_hashes, seed)
        else:
            self.words = np.zeros(m_bits >> 6, dtype=np.int64)

    def _bucket(self, c):
        return F.pmod(F.xxhash64(c), F.lit(self.n_buckets)).cast("long")

    def ingest(self, batch_df: DataFrame, run_id: str) -> dict:
        """Commit the batch's novel rows; returns counters. Deterministic
        given (committed state, batch, run_id) — the streaming sink and
        batch backfills share this exact path."""
        b = (batch_df
             .withColumn("content_hash", self.key)
             .withColumn("_bkt", self._bucket(F.col("content_hash"))))
        stats = b.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("content_hash").isNull(), 1)
                  .otherwise(0)).alias("n_null")).first()
        if stats["n_null"]:
            # NULL keys are bloom non-members AND null-skipped by the
            # anti-join, so they would land in the corpus EVERY batch —
            # quarantine them with a counter instead (a curation corpus
            # has no use for rows without a content identity)
            b = b.filter(F.col("content_hash").isNotNull())
        w = Window.partitionBy("content_hash").orderBy(self.id_col)
        b = (b.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1).drop("_rn"))
        probed = bloom_might_contain(b, "content_hash", self.words,
                                     self.k_hashes, self.seed)
        cand = probed.filter(F.col("bloom_hit")).drop("bloom_hit")
        fresh = probed.filter(~F.col("bloom_hit")).drop("bloom_hit")
        if self.table.current_id is not None:
            buckets = [r["_bkt"] for r in
                       cand.select("_bkt").distinct().collect()]
            if buckets:
                idx = self.table.read(
                    table="hashes",
                    partition_values=[str(x) for x in buckets]
                ).select("content_hash")
                cand = cand.join(idx, "content_hash", "left_anti")
        novel = fresh.unionByName(cand).localCheckpoint(eager=True)
        n_novel = novel.count()
        self.table.append_tables(
            {"docs": (novel, "_bkt"),
             "hashes": (novel.select("content_hash", "_bkt"), "_bkt")},
            run_id=run_id)
        # fold into the cache AFTER the commit (idempotent OR; a crash in
        # between leaves only harmless extra candidates on replay)
        self.words |= bloom_build(novel.select("content_hash"),
                                  "content_hash", self.m_bits,
                                  self.k_hashes, self.seed)
        return {"batch_rows": int(stats["n"]), "novel": n_novel,
                "null_key": int(stats["n_null"] or 0)}

    def corpus(self) -> DataFrame:
        """The deduplicated corpus as committed (current snapshot)."""
        return self.table.read(table="docs").drop("_bkt")


def start_dedup_ingest(stream: DataFrame, corpus_path: str, checkpoint: str,
                       text_col: str = "text", id_col: str = "doc_id",
                       key=None, m_bits: int = 1 << 22, k_hashes: int = 5,
                       n_buckets: int = 16,
                       compact_every: int | None = None,
                       expire_every: int | None = None, keep_last: int = 64,
                       query_name: str = "dedup-ingest",
                       run_prefix: str = "batch"):
    """Streaming wrapper over :class:`DedupIngest`: one exactly-once
    commit per microbatch on the shared loop
    (SnapshotTable.microbatch_sink, run_id=<run_prefix>-<id>), novel
    rows only."""
    ing = DedupIngest(stream.sparkSession, corpus_path, text_col, id_col,
                      key, m_bits, k_hashes, n_buckets)
    t = ing.table
    return t.start_stream(
        stream, t.microbatch_sink(
            lambda df, run_id, _: ing.ingest(df, run_id=run_id),
            run_prefix, compact_every, expire_every, keep_last),
        checkpoint, query_name)
