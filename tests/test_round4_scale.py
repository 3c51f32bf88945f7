"""Round-4 scale fixes: projection kernels (bounded plans at realistic
embedding dims), exact_dedup precomputed-hash overload, one-job-per-round
connected components, decode-cache lifecycle, vocab partition knob."""

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from parquet_playground_rs_spark.operators import dedup, similarity

SF = "/root/testdata/sf0.001"


def _vec_df(spark, n, dim, seed=7, n_parts=4):
    rng = np.random.default_rng(seed)
    X = rng.standard_normal((n, dim)).round(4)  # round: exact float repr
    rows = [(int(i), [float(v) for v in X[i]]) for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").repartition(n_parts)


# ---------------------------------------------------------------- LSH kernel

def test_signbit_kernel_matches_literal(spark):
    """The mapInArrow matmul path must produce byte-identical (id, band,
    key) rows to the literal-expression path on the same data/seed."""
    dim, n_planes, bands = 32, 16, 4
    df = _vec_df(spark, 300, dim)
    lit_rows = sorted(
        similarity.signbit_buckets(df, dim, n_planes, bands, seed=42)
        .collect())
    ker_rows = sorted(
        similarity._signbit_buckets_kernel(df, dim, n_planes, bands, 42,
                                           "vec_id", "embedding").collect())
    assert lit_rows == ker_rows
    assert len(lit_rows) == 300 * bands


def test_signbit_routes_large_matrix_to_kernel_with_bounded_plan(spark):
    dim, n_planes = 768, 64  # 49k elements: literal plan would explode
    df = _vec_df(spark, 60, dim)
    t0 = time.time()
    out = similarity.signbit_buckets(df, dim, n_planes, bands=8, seed=1)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    planning_sec = time.time() - t0
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan
    assert len(plan) < 20_000, f"plan not bounded: {len(plan)} chars"
    assert planning_sec < 10.0
    assert out.count() == 60 * 8


def test_string_id_column_survives_kernel(spark):
    dim = 16
    df = _vec_df(spark, 50, dim).select(
        F.concat(F.lit("d"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding")
    rows = similarity._signbit_buckets_kernel(
        df, dim, 8, 2, 3, "vec_id", "embedding").collect()
    assert len(rows) == 100
    assert all(isinstance(r["id"], str) for r in rows)


# ---------------------------------------------------------------- IVF kernel

def test_ivf_cells_kernel_matches_literal(spark):
    dim, k = 24, 12
    df = _vec_df(spark, 200, dim, seed=11)
    rng = np.random.default_rng(5)
    C = rng.standard_normal((k, dim)).round(4)
    scores = similarity._cell_scores("embedding", C)
    lit_cell = {
        r["vec_id"]: r["cell"]
        for r in df.select(
            "vec_id",
            F.array_position(scores, F.array_max(scores)).cast("int")
            .alias("cell")).collect()
    }
    ker = similarity._with_cells_kernel(df, C, dim, "vec_id", "embedding")
    ker_cell = {r["vec_id"]: r["cell"] for r in ker.collect()}
    assert lit_cell == ker_cell

    # nprobe variant: top cells ordered by descending score, ties -> low idx
    nprobe = 3
    ranked = F.slice(
        F.array_sort(
            F.zip_with(scores, F.sequence(F.lit(1), F.lit(k)),
                       lambda s, i: F.struct((-s).alias("neg"),
                                             i.alias("idx")))), 1, nprobe)
    lit_cells = {
        r["vec_id"]: r["cells"]
        for r in df.select(
            "vec_id",
            F.transform(ranked, lambda s: s["idx"]).alias("cells")).collect()
    }
    kerp = similarity._with_cells_kernel(df, C, dim, "vec_id", "embedding",
                                         nprobe=nprobe)
    kerp_cells = {r["vec_id"]: r["cells"] for r in kerp.collect()}
    assert lit_cells == kerp_cells


def test_ivf_topk_large_dim_completes_with_bounded_plan(spark):
    """768-d x 256 cells (196k matrix elements): the round-3 literal plan
    would hold ~400k literal expressions twice over; the kernel path must
    plan in bounded space/time and return a correct-shaped top-k."""
    dim, n_centroids = 768, 256
    corpus = _vec_df(spark, 150, dim, seed=3)
    queries = corpus.limit(8)
    t0 = time.time()
    out = similarity.ivf_topk(corpus, queries, dim, k=5,
                              n_centroids=n_centroids, nprobe=16,
                              sample=150)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    planning_sec = time.time() - t0
    assert len(plan) < 60_000, f"plan not bounded: {len(plan)} chars"
    assert planning_sec < 30.0
    rows = out.collect()
    assert rows and all(1 <= r["rank"] <= 5 for r in rows)
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)


def test_ivf_topk_kernel_and_literal_agree_on_same_centroids(spark):
    """Same data + same centroid matrix through both paths -> identical
    top-k (threshold monkeypatched to force each routing)."""
    dim = 16
    corpus = _vec_df(spark, 120, dim, seed=9)
    queries = corpus.limit(6)
    rng = np.random.default_rng(13)
    C = rng.standard_normal((8, dim)).round(4)
    lit = sorted(similarity.ivf_topk(
        corpus, queries, dim, k=4, nprobe=3, centroids=C).collect())
    orig = similarity.LITERAL_PROJECTION_MAX
    similarity.LITERAL_PROJECTION_MAX = 1  # force kernel routing
    try:
        ker = sorted(similarity.ivf_topk(
            corpus, queries, dim, k=4, nprobe=3, centroids=C).collect())
    finally:
        similarity.LITERAL_PROJECTION_MAX = orig
    assert lit == ker


# ------------------------------------------------- exact_dedup hash overload

@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    df.count()
    return df


def test_exact_dedup_precomputed_hashes_same_result(spark, docs):
    base = docs.limit(7).withColumn("doc_id", F.col("doc_id") + 10_000_000)
    with_dups = docs.unionByName(base)
    inline = sorted(
        r["doc_id"] for r in dedup.exact_dedup(with_dups).select("doc_id").collect())
    hashes = with_dups.select("doc_id", F.md5("text").alias("text_md5"))
    pre = sorted(
        r["doc_id"]
        for r in dedup.exact_dedup(with_dups, hashes=hashes, validate=True)
        .select("doc_id").collect())
    assert pre == inline
    assert len(inline) == docs.count()  # every planted dup removed


def test_exact_dedup_precomputed_hashes_single_doc_scan(spark, docs):
    """With a MATERIALIZED hash table, the documents source appears in the
    executed plan exactly once (the anti-join scan) — the 100-TB overload
    contract."""
    hashes = spark.createDataFrame(
        docs.select("doc_id", F.md5("text").alias("text_md5")).collect(),
        "doc_id long, text_md5 string")
    out = dedup.exact_dedup(docs, hashes=hashes)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("documents.parquet") == 1, plan


def test_exact_dedup_null_hash_rows_group_together(spark):
    rows = [(1, None), (2, None), (3, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashes = df.select("doc_id", F.md5("text").alias("text_md5"))
    out = dedup.exact_dedup(df, hashes=hashes)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]


# ------------------------------------------- components: one job per round

def _eager_cc(pairs, max_iter=6):
    """The round-3 formulation: eager checkpoint job + separate count job
    per round. Kept here as the comparison baseline."""
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                       F.col("doc_a").alias("dst")))
             .distinct().localCheckpoint(eager=False))
    labels = edges.select(F.col("src").alias("id")).distinct() \
        .withColumn("comp", F.col("id"))
    for _ in range(max_iter):
        nbr = (edges.join(labels.select(F.col("id").alias("dst"),
                                        F.col("comp").alias("dst_comp")),
                          "dst")
               .groupBy("src").agg(F.min("dst_comp").alias("nbr_comp")))
        updated = (labels.join(nbr, labels["id"] == nbr["src"], "left")
                   .select(labels["id"],
                           F.least(F.col("comp"),
                                   F.coalesce("nbr_comp", "comp"))
                           .alias("comp"),
                           (F.coalesce("nbr_comp", "comp") < F.col("comp"))
                           .alias("_changed"))
                   .localCheckpoint(eager=True))
        n_changed = updated.filter("_changed").count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            break
    return labels


def test_connected_components_fewer_jobs_than_eager_loop(spark):
    """The lazy-checkpoint loop folds the convergence count into the job
    that materializes each round's checkpoint — with AQE every action
    fans into sub-jobs, so the assertion is comparative: strictly fewer
    jobs than the eager-materialize-then-count formulation on identical
    data, same round count."""
    from parquet_playground_rs_spark.operators import components

    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long")

    sc.setJobGroup("cc-new", "lazy checkpoint loop")
    try:
        out = components.connected_components(pairs, max_iter=6)
        n_rows = out.count()
    finally:
        sc.setJobGroup(None, None)
    sc.setJobGroup("cc-old", "eager checkpoint + count loop")
    try:
        old = _eager_cc(pairs, max_iter=6)
        assert old.count() == n_rows
    finally:
        sc.setJobGroup(None, None)

    tracker = sc.statusTracker()
    n_new = len(tracker.getJobIdsForGroup("cc-new"))
    n_old = len(tracker.getJobIdsForGroup("cc-old"))
    assert n_rows == 9
    assert n_new < n_old, f"lazy loop {n_new} jobs vs eager {n_old}"
    comp = {r["id"]: r["comp"] for r in out.collect()}
    assert comp[3] == 1 and comp[23] == 20 and comp[11] == 10


# ------------------------------------------------- decode cache lifecycle

def _persistent_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs the context holds persisted. The JVM keeps them in
    a weak-valued map, so a GC can drop old ones: compare id sets, not
    the map's size."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_verify_job_releases_decode_cache(spark, tmp_path):
    """verify_job leaves no cached blocks behind in the session."""
    from parquet_playground_rs_spark.plans import pipeline
    from parquet_playground_rs_spark.sources.generator import sequences_df

    seq = sequences_df(spark, 200, seed=42, partitions=2)
    src = str(tmp_path / "src")
    seq.write.parquet(src)
    out = str(tmp_path / "pipe")
    pipeline.run_encode_job_files(spark, src, out, n_buckets=4,
                                  chunk_size=1024)
    before = _persistent_rdd_ids(spark)
    verdict = pipeline.verify_job(spark, seq, out)
    assert verdict["n_mismatch"] == 0
    assert _persistent_rdd_ids(spark) - before == set()


def test_pipeline_concurrent_commits_match_sequential(spark, tmp_path):
    """concurrent_commits overlaps commit groups that write disjoint
    commit dirs; the result (data + manifests) must equal the
    sequential run's."""
    from parquet_playground_rs_spark.plans import pipeline
    from parquet_playground_rs_spark.sources.generator import sequences_df

    seq = sequences_df(spark, 400, seed=5, partitions=4)
    src = str(tmp_path / "src")
    seq.repartition(12).write.parquet(src)
    seq_out = str(tmp_path / "seq")
    con_out = str(tmp_path / "con")
    s1 = pipeline.run_encode_job_files(spark, src, seq_out, n_buckets=12,
                                       chunk_size=1024,
                                       buckets_per_commit=3)
    s2 = pipeline.run_encode_job_files(spark, src, con_out, n_buckets=12,
                                       chunk_size=1024,
                                       buckets_per_commit=3,
                                       concurrent_commits=4)
    assert s1["processed_buckets"] == s2["processed_buckets"] == 12
    assert s1["n_rows"] == s2["n_rows"]
    assert s1["output_bytes"] == s2["output_bytes"]
    m1 = {r["bucket"]: (r["n_rows"], r["block_crc"])
          for r in pipeline.read_manifest(spark, seq_out).collect()}
    m2 = {r["bucket"]: (r["n_rows"], r["block_crc"])
          for r in pipeline.read_manifest(spark, con_out).collect()}
    assert m1 == m2
    assert pipeline.verify_job(spark, seq, con_out)["n_mismatch"] == 0
    with pytest.raises(ValueError):
        pipeline.run_encode_job_files(spark, src, str(tmp_path / "x"),
                                      n_buckets=4, buckets_per_commit=1,
                                      fail_after_buckets=1,
                                      concurrent_commits=2)


def test_ivf_index_query_matches_one_pass(spark, tmp_path):
    """write_ivf_index + ivf_query == ivf_topk on the same centroids,
    and the query scan prunes to the probed cell partitions."""
    dim = 16
    corpus = _vec_df(spark, 200, dim, seed=31)
    queries = corpus.filter(F.col("vec_id") < 6)
    path = str(tmp_path / "ivf")
    C = similarity.write_ivf_index(corpus, dim, path, n_centroids=8,
                                   sample=200)
    q_idx = similarity.ivf_query(queries, dim, path, k=4, nprobe=3)
    one_pass = similarity.ivf_topk(corpus, queries, dim, k=4, nprobe=3,
                                   centroids=C)
    a = sorted((r["query_id"], r["neighbor_id"], r["rank"])
               for r in q_idx.collect())
    b = sorted((r["query_id"], r["neighbor_id"], r["rank"])
               for r in one_pass.collect())
    assert a == b and a
    plan = q_idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_ivf_index_roundtrips_centroids(spark, tmp_path):
    dim = 12
    corpus = _vec_df(spark, 80, dim, seed=2)
    path = str(tmp_path / "ivf2")
    C = similarity.write_ivf_index(corpus, dim, path, n_centroids=5,
                                   sample=80)
    C2 = similarity.read_ivf_centroids(spark, path)
    assert np.array_equal(C, C2)


def test_ivf_index_kernel_path_at_768d(spark, tmp_path):
    dim = 768
    corpus = _vec_df(spark, 60, dim, seed=41)
    queries = corpus.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivf768")
    similarity.write_ivf_index(corpus, dim, path, n_centroids=16,
                               sample=60)  # 16*768 > threshold -> kernel
    rows = similarity.ivf_query(queries, dim, path, k=3, nprobe=4).collect()
    assert rows and all(1 <= r["rank"] <= 3 for r in rows)


def test_lsh_topk_and_near_dups_at_768d_kernel_path(spark):
    """The composed consumers of signbit_buckets (candidate join, bucket
    caps, exact re-score) must work end-to-end when the projection
    routes through the kernel (768-d x 64 planes)."""
    dim = 768
    corpus = _vec_df(spark, 80, dim, seed=17)
    queries = corpus.limit(5)
    out = similarity.lsh_topk(corpus, queries, dim=dim, k=3,
                              n_planes=64, bands=16)
    rows = out.collect()
    assert rows and all(1 <= r["rank"] <= 3 for r in rows)
    # duplicate two vectors -> near-dup pairs must surface
    dup = corpus.filter(F.col("vec_id") < 2) \
        .withColumn("vec_id", F.col("vec_id") + 1000)
    pairs = similarity.embedding_near_dups(
        corpus.unionByName(dup), dim=dim, threshold=0.999,
        n_planes=64, bands=16)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1000) in found and (1, 1001) in found


# ------------------------------------------------- embedding quantization

def test_quantize_error_bound_and_pack_roundtrip(spark):
    from parquet_playground_rs_spark.operators import quantize as qz

    df = _vec_df(spark, 150, 24, seed=21)
    q = qz.quantize_embeddings(df)
    rows = {r["vec_id"]: r for r in q.collect()}
    src = {r["vec_id"]: r["embedding"] for r in df.collect()}
    for vid, r in rows.items():
        v = np.array(src[vid])
        scale = (r["vmax"] - r["vmin"]) / 255.0
        rec = r["vmin"] + np.array(r["codes"]) * scale
        assert np.abs(rec - v).max() <= scale / 2 + 1e-9
        assert min(r["codes"]) >= 0 and max(r["codes"]) <= 255
    # packed binary round-trips bit-exactly
    unpacked = qz.unpack_codes(qz.pack_codes(q))
    back = {r["vec_id"]: r["codes"] for r in unpacked.collect()}
    assert back == {vid: r["codes"] for vid, r in rows.items()}
    # dequantize matches the manual reconstruction
    deq = {r["vec_id"]: r["embedding"]
           for r in qz.dequantize_embeddings(q).collect()}
    for vid, r in rows.items():
        scale = (r["vmax"] - r["vmin"]) / 255.0
        manual = r["vmin"] + np.array(r["codes"]) * scale
        assert np.allclose(deq[vid], manual, atol=0)


def test_quantize_property_bound(spark):
    """Hypothesis sweep: arbitrary finite float vectors (negatives, tiny
    ranges, mixed magnitudes) keep the scale/2 reconstruction bound and
    uint8 code range."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from parquet_playground_rs_spark.operators import quantize as qz

    @settings(max_examples=15, deadline=None)
    @given(st.lists(
        st.lists(st.floats(min_value=-1e6, max_value=1e6,
                           allow_nan=False, allow_infinity=False,
                           width=32),
                 min_size=1, max_size=24),
        min_size=1, max_size=6))
    def check(vectors):
        rows = [(i, [float(v) for v in vec])
                for i, vec in enumerate(vectors)]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        for r in qz.quantize_embeddings(df).collect():
            src = dict(rows)[r["vec_id"]]
            scale = (r["vmax"] - r["vmin"]) / 255.0
            rec = np.array(r["vmin"]) + np.array(r["codes"]) * scale
            assert np.abs(rec - np.array(src)).max() <= scale / 2 + 1e-6 \
                or scale == 0
            assert all(0 <= c <= 255 for c in r["codes"])

    check()


def test_pack_codes_rejects_nulls(spark):
    from parquet_playground_rs_spark.operators import quantize as qz

    df = spark.createDataFrame(
        [(1, [1, 2, 3], 0.0, 1.0, 3), (2, None, 0.0, 1.0, 3)],
        "vec_id long, codes array<int>, vmin double, vmax double, dim int")
    with pytest.raises(Exception, match="NULL"):
        qz.pack_codes(df).collect()


def test_quantize_constant_vector(spark):
    from parquet_playground_rs_spark.operators import quantize as qz

    df = spark.createDataFrame([(1, [3.5, 3.5, 3.5])],
                               "vec_id long, embedding array<double>")
    r = qz.quantize_embeddings(df).first()
    assert r["codes"] == [0, 0, 0] and r["vmin"] == r["vmax"] == 3.5
    rec = qz.dequantize_embeddings(
        qz.quantize_embeddings(df)).first()["embedding"]
    assert rec == [3.5, 3.5, 3.5]


def test_quantize_plan_is_shuffle_free(spark, tmp_path):
    from parquet_playground_rs_spark.operators import quantize as qz

    path = str(tmp_path / "emb")
    _vec_df(spark, 50, 8).write.parquet(path)
    plan = qz.quantize_embeddings(spark.read.parquet(path)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # one Project over the scan, no shuffle


# ------------------------------------------- multibatch streaming verdict

def test_streaming_multibatch_verdict(spark):
    """The 5-file finite-watermark sessionizer run (driver query) must
    produce a perfect verdict row: every expected session emitted and
    matched, no value drift. (check_oracles also compares this against
    DuckDB; this pytest keeps it in CI.)"""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_mod", "/root/repo/__spark_entry__.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    r = m._q_streaming_sessions_multibatch(spark, SF).first()
    assert r["n_expected"] == r["n_stream"] == r["n_matched"] > 0
    assert r["n_value_mismatch"] == 0


# ------------------------------------------------------- vocab knob

def test_vocab_knob_threads_through_tokenizer(spark, docs):
    from parquet_playground_rs_spark.sources import tokenizer as tok

    a = tok.tokenize_documents(docs, vocab_partitions=4)
    b = tok.tokenize_documents(docs, est_distinct_words=50_000_000)  # -> 25
    ha = a.agg(F.bit_xor(F.xxhash64("doc_id", "tokens"))).first()[0]
    hb = b.agg(F.bit_xor(F.xxhash64("doc_id", "tokens"))).first()[0]
    assert ha == hb  # ids invariant to the partition count

    assert tok.vocab_partitions_for(1) == 1
    assert tok.vocab_partitions_for(2_000_000) == 1
    assert tok.vocab_partitions_for(2_000_001) == 2
    assert tok.vocab_partitions_for(10**8) == 50
