"""Round-6: generalized MinHash hash family (seeded splitmix64 extension
past the 8 anchored constants), bands presets, and 64-hash engine/oracle
parity."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from raster_functions_spark import dedup, fixtures, oracles

SF_DIR = "/root/testdata/sf0.001"


def test_scalar_splitmix64_matches_fixture_vectorized():
    xs = [0, 1, 8, 255, 2**31, 2**63 - 1, 2**64 - 1]
    want = fixtures.splitmix64(np.array(xs, dtype=np.uint64))
    got = [dedup._splitmix64(x) for x in xs]
    assert got == [int(w) for w in want]


def test_minhash_family_anchored_prefix_and_extension():
    A8, B8 = dedup.minhash_family(8)
    assert A8 == dedup._MH_A and B8 == dedup._MH_B
    A, B = dedup.minhash_family(128)
    assert A[:8] == dedup._MH_A and B[:8] == dedup._MH_B
    # deterministic, in-range, and pairwise distinct (a degenerate family
    # would silently weaken the signature)
    A2, B2 = dedup.minhash_family(128)
    assert A == A2 and B == B2
    assert all(1 <= a < dedup.MINHASH_P for a in A)
    assert all(0 <= b < dedup.MINHASH_P for b in B)
    assert len(set(zip(A, B))) == 128
    with pytest.raises(ValueError, match="n_hashes"):
        dedup.minhash_family(129)
    with pytest.raises(ValueError, match="n_hashes"):
        dedup.minhash_family(0)


def test_choose_bands_presets():
    assert dedup.choose_bands(64, 0.5) == 16      # (1/16)^(1/4) ≈ 0.500
    assert dedup.choose_bands(128, 0.7) == 16     # (1/16)^(1/8) ≈ 0.707
    assert dedup.choose_bands(8, 0.84) == 2       # the legacy 2×4 config
    t = (1 / 16) ** (1 / 4)
    assert t == pytest.approx(0.5, abs=0.01)
    with pytest.raises(ValueError, match="target_jaccard"):
        dedup.choose_bands(64, 1.5)


def test_minhash_signature_64_matches_duckdb(spark):
    """The extended family must stay byte-identical across engines —
    the generated constants are emitted literally into the oracle SQL."""
    import pandas as pd
    docs_pdf = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_hashes = 64
    got = (docs.filter(F.col("doc_id") < 10)
           .select("doc_id", oracles.minhash_signature("text", 5, n_hashes).alias("sig"))
           .orderBy("doc_id").toPandas())
    con = duckdb.connect()
    con.register("docs", docs_pdf[docs_pdf.doc_id < 10])
    exprs = ", ".join(f"{e} AS h{i}" for i, e in
                      enumerate(dedup.minhash_sql("text", 5, n_hashes)))
    want = con.sql(f"SELECT doc_id, {exprs} FROM docs ORDER BY doc_id").df()
    for i in range(n_hashes):
        assert (got["sig"].apply(lambda s, i=i: s[i]) == want[f"h{i}"]).all(), f"hash {i}"


def test_lsh_explode_form_matches_signature_form_at_64(spark):
    """minhash_lsh_candidates' explode+agg signature path must agree with
    the array-expression form for the extended family (they share the
    constants but not the execution shape)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
    sig = (docs.select("doc_id",
                       oracles.minhash_signature("text", 5, 64).alias("sig"))
           .toPandas().set_index("doc_id")["sig"])
    pairs = dedup.minhash_lsh_candidates(docs, n_hashes=64, bands=16)
    # replay banding over the signature form
    want = {}
    for b in range(16):
        buckets = {}
        for did, s in sig.items():
            key = tuple(s[4 * b + r] for r in range(4))
            buckets.setdefault(key, []).append(did)
        for ids in buckets.values():
            ids = sorted(ids)
            for i, x in enumerate(ids):
                for y in ids[i + 1:]:
                    want[(x, y)] = want.get((x, y), 0) + 1
    got = {(r.id_a, r.id_b): r.n_shared_bands for r in pairs.collect()}
    assert got == want


def test_sharper_s_curve_cuts_candidates_at_equal_recall(spark):
    """The point of the bigger family: on a corpus with a block of
    mid-similarity (J≈0.3) pairs and a block of true near-dups (J≥0.8),
    the 64-hash/16-band family must admit strictly fewer low-similarity
    candidates than the legacy 8-hash/4-band S-curve while keeping every
    true near-dup."""
    rng = np.random.default_rng(7)
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight ") * 4
    words = base.split()
    rows = []
    for i in range(30):                      # 15 near-dup pairs, J ≥ ~0.8
        w = list(words)
        w[rng.integers(len(w))] = "zxqj"
        rows.append((100 + i, " ".join(words if i % 2 == 0 else w)))
    for i in range(40):                      # mid-similarity: shuffled halves
        w = list(words)
        rng.shuffle(w)
        rows.append((200 + i, " ".join(w)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    loose = dedup.minhash_lsh_candidates(df, n_hashes=8, bands=4)
    sharp = dedup.minhash_lsh_candidates(df, n_hashes=64, bands=16)
    n_loose, n_sharp = loose.count(), sharp.count()
    truth = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(
        df, k=5, threshold=0.8).collect()}
    got_sharp = {(r.id_a, r.id_b) for r in
                 dedup.minhash_lsh_candidates(df, n_hashes=64, bands=16).collect()}
    assert truth and truth <= got_sharp      # full recall on true near-dups
    assert n_sharp < n_loose                 # fewer junk candidates
