import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster_functions_spark import dedup, oracles, similarity, text

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def docs_pdf():
    return pd.read_parquet(f"{SF_DIR}/documents.parquet")


def test_exact_dedup_matches_pandas(spark, docs, docs_pdf):
    got = {r.content_hash: (r.canonical_id, r.n_dups)
           for r in dedup.exact_dedup(docs).collect()}
    import hashlib
    h = docs_pdf.assign(h=[hashlib.md5(t.encode()).hexdigest() for t in docs_pdf.text])
    want = {k: (int(g.doc_id.min()), len(g)) for k, g in h.groupby("h") if len(g) > 1}
    assert got == want


def test_exact_dedup_keep_first(spark, docs, docs_pdf):
    kept = dedup.exact_dedup_keep_first(docs).count()
    assert kept == docs_pdf.text.nunique()


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [(0, base), (1, base.replace("quick", "fast")),  # near-dup pair
            (2, base), (3, "completely different content here " * 10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in
             dedup.minhash_lsh_candidates(df, n_hashes=8, bands=8).collect()}
    assert (0, 2) in pairs           # exact dup always caught
    assert (0, 1) in pairs or (1, 2) in pairs  # near dup caught
    assert not any(3 in p for p in pairs)       # unrelated not caught


@pytest.mark.parametrize("k", [8, 0])
def test_minhash_lsh_rejects_unsafe_shingle_k(spark, k):
    """The NumPy signature kernel never builds the SQL rolling hash, so it
    must reject the same k range itself: at k ≥ 8 its int64 hash would
    wrap silently on astral-plane text."""
    df = spark.createDataFrame([(0, "\U0001F600" * 12)], "doc_id long, text string")
    with pytest.raises(ValueError, match="BIGINT"):
        dedup.minhash_lsh_candidates(df, k=k)


@pytest.mark.parametrize("max_bucket", [1000, 1])
def test_lsh_rejects_null_ids(spark, max_bucket):
    """A NULL id can be neither paired nor elected bucket canonical:
    MinHash and SimHash both raise, salted or not."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    df = spark.createDataFrame([(None, base), (1, base), (2, base)],
                               "doc_id long, text string")
    for build in (lambda: dedup.minhash_lsh_candidates(df, n_hashes=8, bands=8,
                                                       max_bucket=max_bucket),
                  lambda: dedup.simhash_near_dups(df, max_hamming=8,
                                                  max_bucket=max_bucket)):
        with pytest.raises(Exception, match="NULL id"):
            build().collect()


@pytest.mark.parametrize("family, kwargs, arg", [
    ("minhash", {"max_bucket": 0}, "max_bucket"),
    ("minhash", {"max_bucket": -1}, "max_bucket"),
    ("minhash", {"n_hashes": 8, "bands": -2}, "bands"),
    ("minhash", {"n_hashes": 8, "bands": 0}, "bands"),
    ("simhash", {"max_bucket": 0}, "max_bucket"),
    ("simhash", {"band_bits": 0}, "band_bits"),
    ("phash", {"max_bucket": -1}, "max_bucket"),
    ("phash", {"max_hamming": -1}, "max_hamming"),
])
def test_lsh_rejects_bad_arguments_on_driver(spark, family, kwargs, arg):
    """Bad LSH arguments fail while the plan is built, naming the argument:
    a zero cap used to die in the executor with DIVIDE_BY_ZERO, a negative
    cap silently turned salting off, and bands=-2 silently returned no
    rows."""
    df = spark.createDataFrame([(0, "alpha beta"), (1, "alpha beta")],
                               "doc_id long, text string")
    build = {"minhash": dedup.minhash_lsh_candidates,
             "simhash": dedup.simhash_near_dups,
             "phash": lambda d, **kw: dedup.phash_near_dups(d.select(
                 F.col("doc_id").alias("image_id"),
                 F.col("doc_id").alias("phash")), **kw)}[family]
    with pytest.raises(ValueError, match=f"{arg}="):
        build(df, **kwargs)


def _components(pairs) -> set[frozenset]:
    """Connected components of an edge list, as a set of member sets."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    groups: dict = {}
    for x in list(parent):
        groups.setdefault(find(x), set()).add(x)
    return {frozenset(g) for g in groups.values()}


def test_lsh_families_match_bruteforce_replay(spark, docs):
    """The shared band-bucket pair generator against plain replays:
    unsalted MinHash counts exactly the equal band keys of its own
    signatures; unsalted phash finds exactly the pairs within max_hamming
    (the pigeonhole guarantee of band_masks). Salting (max_bucket=2) only
    drops pairs, never invents them, and MinHash's unverified bridges
    keep its candidate groups whole. (phash verifies its bridges by
    hamming, so a salted phash can lose a group: not asserted here.)"""
    n_hashes, bands, rows = 8, 4, 2
    sig = dedup.minhash_signatures(docs, "text", "doc_id", 5, n_hashes).toPandas()
    shared: dict = {}
    for b in range(bands):
        keys = sig[[f"h{b * rows + r}" for r in range(rows)]].astype(str).agg("|".join, axis=1)
        for ids in sig["_id"].groupby(keys).agg(sorted):
            for i, a in enumerate(ids):
                for c in ids[i + 1:]:
                    shared[(a, c)] = shared.get((a, c), 0) + 1

    def minhash_pairs(max_bucket):
        return {(r.id_a, r.id_b): r.n_shared_bands for r in dedup.minhash_lsh_candidates(
            docs, n_hashes=n_hashes, bands=bands, max_bucket=max_bucket).collect()}

    got, salted = minhash_pairs(10**6), minhash_pairs(2)
    assert got == shared and len(got) > 0
    assert len(salted) < len(got)          # the cap did split buckets
    assert set(salted) <= set(got)
    assert _components(salted) == _components(got)

    # ~300 64-bit hashes: 240 random, 60 planted near-dups of them with
    # 0..max_hamming+2 flipped bits (some just past the threshold)
    max_hamming, rng = 8, np.random.default_rng(7)
    h = list(rng.integers(0, 2**63, 240, dtype=np.uint64) * np.uint64(2)
             + rng.integers(0, 2, 240, dtype=np.uint64))
    for j in range(60):
        flips = rng.choice(64, j % (max_hamming + 3), replace=False)
        h.append(h[int(rng.integers(0, 240))]
                 ^ np.uint64(sum(1 << int(f) for f in flips)))
    h = np.array(h, dtype=np.uint64)
    ids = [f"i{i:03d}" for i in range(len(h))]
    bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1)
    ham = (bits[:, None, :] != bits[None, :, :]).sum(axis=2)
    want = {(ids[i], ids[j], int(ham[i, j]))
            for i in range(len(h)) for j in range(i + 1, len(h))
            if ham[i, j] <= max_hamming}
    images = spark.createDataFrame(pd.DataFrame(
        {"image_id": ids, "phash": h.view(np.int64)}))

    def phash_pairs(max_bucket):
        return {tuple(r) for r in dedup.phash_near_dups(
            images, max_hamming=max_hamming, max_bucket=max_bucket).collect()}

    unsalted, salted = phash_pairs(10**6), phash_pairs(2)
    assert unsalted == want and len(want) >= 40
    assert salted <= unsalted


def test_minhash_signature_matches_duckdb(spark, docs, docs_pdf):
    """The md5-minhash signature must be byte-identical across engines."""
    n_hashes = 4
    got = (docs.filter(F.col("doc_id") < 20)
           .select("doc_id", oracles.minhash_signature("text", 5, n_hashes).alias("sig"))
           .orderBy("doc_id").toPandas())
    con = duckdb.connect()
    con.register("docs", docs_pdf[docs_pdf.doc_id < 20])
    exprs = ", ".join(f"{e} AS h{i}" for i, e in
                      enumerate(dedup.minhash_sql("text", 5, n_hashes)))
    want = con.sql(f"SELECT doc_id, {exprs} FROM docs ORDER BY doc_id").df()
    for i in range(n_hashes):
        assert (got["sig"].apply(lambda s, i=i: s[i]) == want[f"h{i}"]).all(), f"hash {i}"


def test_ngram_jaccard(spark):
    rows = [(0, "abcdefgh"), (1, "abcdefgh"), (2, "abcdxxxx")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.id_a, r.id_b): r.jaccard
           for r in dedup.ngram_jaccard_pairs(df, k=3, threshold=0.1).collect()}
    assert out[(0, 1)] == 1.0
    assert 0.1 < out[(0, 2)] < 0.5


def test_simhash_properties(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    rows = [(0, base), (1, base), (2, base.replace("gamma", "gamoa")),
            (3, "unrelated words entirely different corpus " * 6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r.doc_id: r.sh for r in
          df.select("doc_id", dedup.simhash64_udf("text").alias("sh")).collect()}
    assert sh[0] == sh[1]  # identical text → identical simhash
    ham = bin((sh[0] ^ sh[2]) & (2**64 - 1)).count("1")
    ham_far = bin((sh[0] ^ sh[3]) & (2**64 - 1)).count("1")
    assert ham < ham_far
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in dedup.simhash_near_dups(df, max_hamming=8).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 0


def test_phash_near_dups(spark):
    import pandas as pd
    pdf = pd.DataFrame({"image_id": ["a", "b", "c"],
                        "phash": [0x1234567890ABCDEF, 0x1234567890ABCDEE, -42]})
    out = {(r.id_a, r.id_b): r.hamming
           for r in dedup.phash_near_dups(spark.createDataFrame(pdf)).collect()}
    assert out == {("a", "b"): 1}


def test_lang_id_against_table(spark, docs, docs_pdf):
    """lang_id Spark expr == the same expr evaluated in DuckDB."""
    got = (docs.select("doc_id", text.lang_id(F.col("text")).alias("lang_pred"))
           .orderBy("doc_id").toPandas())
    con = duckdb.connect()
    con.register("docs", docs_pdf)
    want = con.sql(f"SELECT doc_id, {text.lang_id_sql('text')} AS lang_pred "
                   "FROM docs ORDER BY doc_id").df()
    assert (got.lang_pred == want.lang_pred).all()
    assert got.lang_pred.nunique() > 1  # heuristic actually discriminates


def test_quality_features_matches_duckdb(spark, docs, docs_pdf):
    got = (text.quality_features(docs)
           .select("doc_id", "n_chars_q", "n_tokens", "mean_tok_len", "punct_ratio")
           .orderBy("doc_id").toPandas())
    con = duckdb.connect()
    con.register("docs", docs_pdf)
    want = con.sql(f"SELECT doc_id, {text.quality_sql('text')} FROM docs ORDER BY doc_id").df()
    for c in ["n_chars_q", "n_tokens", "mean_tok_len", "punct_ratio"]:
        assert np.allclose(got[c], want[c], atol=1e-9), c


def test_fingerprint(spark):
    df = spark.createDataFrame([("Hello World",), ("helloworld",), ("other",)],
                               "text string")
    fps = [r.fp for r in df.select(text.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_brute_force_topk_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    got = (similarity.brute_force_topk(corpus, queries, k=3)
           .orderBy("query_id", "rank").toPandas())
    pdf = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    V = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    ids = pdf.vec_id.to_numpy()
    cn = V / np.linalg.norm(V, axis=1, keepdims=True)
    mask = ids >= 5
    for q in range(5):
        sims = cn[mask] @ cn[ids == q][0]
        order = np.lexsort((ids[mask], -sims))
        want = ids[mask][order[:3]].tolist()
        assert got[got.query_id == q].neighbor_id.tolist() == want, q


def test_lsh_topk_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    exact = (similarity.brute_force_topk(corpus, queries, k=1)
             .select("query_id", "neighbor_id").toPandas())
    ann = (similarity.lsh_topk(corpus, queries, k=1, n_bits=4, n_probes=5)
           .select("query_id", "neighbor_id").toPandas())
    m = exact.merge(ann, on="query_id", suffixes=("_x", "_a"))
    recall = (m.neighbor_id_x == m.neighbor_id_a).mean()
    assert recall >= 0.5, f"LSH recall@1 too low: {recall}"


def test_cosine_near_dup_pairs(spark):
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.999, 0.01, 0.0]),
            (2, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r.id_a, r.id_b) for r in
           similarity.cosine_near_dup_pairs(df, threshold=0.95).collect()}
    assert out == {(0, 1)}


def test_lsh_gemm_buckets_match_jvm_fold_order(spark):
    """The ann_lsh DuckDB oracle unrolls the JVM fold-order hyperplane
    dot; the r5 streamed kernel buckets with a numpy GEMM. The two differ
    only below float64 ulp — razor-edge sign flips would need |dot| within
    rounding error of 0, which real embeddings never sit at. This test
    pins the invariant on the actual sf0.01 corpus plus random vectors so
    any future divergence (BLAS change, dtype change) fails loudly here
    before it can surface as an oracle mismatch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from raster_functions_spark import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    n_bits = 6
    jvm = (emb.select("vec_id",
                      sim.lsh_bucket_col(F.col("embedding").cast("array<double>"),
                                         dim, n_bits).alias("b"))
           .toPandas().sort_values("vec_id"))
    X = np.stack(emb.orderBy("vec_id").toPandas()["embedding"].to_numpy()
                 ).astype(np.float64)
    H = sim._hyperplanes(dim, n_bits)
    pow2 = (1 << np.arange(n_bits)).astype(np.int64)
    gemm = ((X @ H.T) > 0).astype(np.int64) @ pow2
    assert np.array_equal(jvm["b"].to_numpy(np.int64), gemm)
    # random vectors at another dim
    rng = np.random.default_rng(11)
    Y = rng.normal(0, 1, (500, 48))
    H2 = sim._hyperplanes(48, 8)
    g = ((Y @ H2.T) > 0).astype(np.int64) @ (1 << np.arange(8)).astype(np.int64)
    pdf = pd.DataFrame({"vec_id": np.arange(500),
                        "embedding": [r.tolist() for r in Y]})
    jvm2 = (spark.createDataFrame(pdf)
            .select("vec_id", sim.lsh_bucket_col(
                F.col("embedding").cast("array<double>"), 48, 8).alias("b"))
            .toPandas().sort_values("vec_id"))
    assert np.array_equal(jvm2["b"].to_numpy(np.int64), g)


def test_lang_id_tie_break_consistent_across_forms(spark):
    """A text scoring equally in two languages must resolve to the EARLIER
    language in LANG_MARKERS in all three implementations (column, frame,
    SQL) — the column/SQL forms used to let the LAST language win."""
    import pandas as pd
    from raster_functions_spark import text as X
    langs = list(X.LANG_MARKERS)
    w_first = X.LANG_MARKERS[langs[0]][0]
    w_last = X.LANG_MARKERS[langs[-1]][0]
    s = f" {w_first}  {w_last} "                  # one marker hit each
    df = spark.createDataFrame(pd.DataFrame({"text": [s]}))
    col_form = df.select(X.lang_id(F.col("text")).alias("l")).first()["l"]
    frame_form = X.lang_id_frame(df).first()["lang_pred"]
    sql_form = spark.sql(
        f"SELECT {X.lang_id_sql('text')} AS l FROM {{t}}", t=df).first()["l"]
    assert col_form == frame_form == sql_form == langs[0]
