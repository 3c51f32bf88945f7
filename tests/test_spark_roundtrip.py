"""End-to-end Spark round-trip: generate -> encode -> decode -> exact equality.

The distributed version of the reference's write-then-read-back equality
suite (/root/reference/src/vec_pq_reader.rs:821-880), including the
chunk-boundary discipline: runs at several Arrow batch sizes and partition
counts, plus through a real Parquet write/read of the encoded table.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from parquet_playground_rs_spark.operators import decode as dec
from parquet_playground_rs_spark.operators import encode as enc
from parquet_playground_rs_spark.sources.generator import sequences_df

N_ROWS = 400
EDGE_CHUNK = 256


def _mixed_codec_doc() -> list[int]:
    """Four blocks at EDGE_CHUNK that the selector encodes with different
    codecs: a constant run, a ramp, full-range noise, a short tail."""
    rng = np.random.default_rng(5)
    return (
        [7] * EDGE_CHUNK
        + list(range(1000, 1000 + 3 * EDGE_CHUNK, 3))
        + rng.integers(-2**31, 2**31 - 1, EDGE_CHUNK).tolist()
        + rng.integers(0, 4, 100).tolist())


@pytest.fixture(scope="module")
def seq(spark):
    df = sequences_df(spark, N_ROWS, seed=42, partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def edge(spark):
    """Block-boundary documents at chunk_size=EDGE_CHUNK: empty, exactly
    one block, one token over, and a multi-codec multi-block document."""
    rows = [("e_empty", []), ("e_exact", list(range(EDGE_CHUNK))),
            ("e_plus1", list(range(EDGE_CHUNK + 1))),
            ("e_mixed", _mixed_codec_doc())]
    df = spark.createDataFrame(
        [(d, t, len(t), "web") for d, t in rows],
        "doc_id string, tokens array<int>, n_tok int, source string")
    return df.cache()


def test_generator_shape_and_determinism(spark, seq):
    assert seq.schema.simpleString() == (
        "struct<doc_id:string,tokens:array<int>,n_tok:int,source:string>"
    )
    assert seq.count() == N_ROWS
    # n_tok always equals size(tokens)
    bad = seq.filter(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0
    # deterministic across parallelism levels
    a = {r["doc_id"]: r["tokens"] for r in seq.collect()}
    b = {r["doc_id"]: r["tokens"]
         for r in sequences_df(spark, N_ROWS, seed=42, partitions=13).collect()}
    assert a == b
    # covers empties and long-tail rows
    assert seq.filter(F.col("n_tok") == 0).count() > 0
    assert seq.filter(F.col("n_tok") > 1000).count() > 0
    # int32 bounds actually exercised
    mm = seq.select(F.min(F.array_min("tokens")), F.max(F.array_max("tokens"))).first()
    assert mm[0] == -(2**31) and mm[1] == 2**31 - 1


def test_roundtrip_exact(spark, seq):
    encoded = enc.encode_tokens(seq, chunk_size=512)
    decoded = dec.decode_tokens(encoded)
    res = dec.verify_roundtrip(seq, decoded).first()
    assert res["n_mismatch"] == 0
    assert res["n_source"] == res["n_decoded"] == res["n_joined"] == N_ROWS


def test_roundtrip_with_small_byte_bounded_batches(spark, seq):
    """The mapper-split path under a tiny arrow byte cap: long documents
    arrive in byte-bounded batches and must still chunk+round-trip."""
    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "65536")
    try:
        encoded = enc.encode_tokens(seq, chunk_size=256)
        res = dec.verify_roundtrip(seq, dec.decode_tokens(encoded)).first()
        assert res["n_mismatch"] == 0 and res["n_joined"] == N_ROWS
    finally:
        spark.conf.set(key, old)


def test_decode_output_batches_fit_the_token_budget(monkeypatch):
    """decode_tokens' map cuts each input batch into output batches of
    whole rows within DECODE_TOKEN_BUDGET tokens; a row over the budget
    goes alone, and the rows come back exact and in order."""
    import pyarrow as pa

    budget = 3000
    monkeypatch.setattr(dec, "DECODE_TOKEN_BUDGET", budget)
    rng = np.random.default_rng(9)
    docs = [np.full(10_000, 7, np.int32),            # one row over budget
            np.zeros(0, np.int32)]
    for i in range(40):
        n = int(rng.integers(0, 1500))
        docs.append(np.full(n, i, np.int32) if i % 3 == 0 else
                    rng.integers(-2**31, 2**31 - 1, n, dtype=np.int64)
                    .astype(np.int32))
    docs.insert(20, np.arange(4000, dtype=np.int32))  # over budget, mid-batch
    batch = pa.RecordBatch.from_pydict({
        "doc_id": [f"d{i}" for i in range(len(docs))],
        "source": ["web"] * len(docs),
        "tokens": pa.array([d.tolist() for d in docs], pa.list_(pa.int32()))})
    encoded = enc.encode_arrow_batch(batch, chunk_size=512)
    inputs = [encoded.slice(0, 25), encoded.slice(25, 0), encoded.slice(25)]
    out = list(dec._decode_map(iter(inputs)))
    assert len(out) > len(inputs)
    for b in out:
        n_tok = b.column("n_tok").to_numpy()
        assert b.num_rows == 1 or n_tok.sum() <= budget, n_tok
    ids = [i for b in out for i in b.column("doc_id").to_pylist()]
    assert ids == [f"d{i}" for i in range(len(docs))]
    got = [t for b in out for t in b.column("tokens").to_pylist()]
    assert all(g == d.tolist() for g, d in zip(got, docs))


def test_documents_over_the_decode_budget_roundtrip(spark):
    """Constant documents of 3/4 DECODE_TOKEN_BUDGET each (a few stored
    bytes each) sit in one stored batch with short documents, so the
    batch is cut into runs; both decode maps return every row exact."""
    big = dec.DECODE_TOKEN_BUDGET * 3 // 4
    src = spark.range(6, numPartitions=1).select(
        F.concat(F.lit("b"), F.col("id").cast("string")).alias("doc_id"),
        F.when(F.col("id") % 2 == 0,
               F.array_repeat(F.col("id").cast("int"), big))
        .otherwise(F.sequence(F.lit(0), F.col("id").cast("int") * 100))
        .alias("tokens"),
        F.lit("web").alias("source"))
    src = src.withColumn("n_tok", F.size("tokens")).cache()
    encoded = enc.encode_tokens(src).cache()
    for decoded in (dec.decode_tokens(encoded),
                    dec.decode_blocks_rowwise(encoded)):
        res = dec.verify_roundtrip(src, decoded, method="hash").first()
        assert res["n_mismatch"] == 0 and res["n_joined"] == 6
    encoded.unpersist()
    src.unpersist()


@pytest.mark.parametrize("batch_size", [1, 7, 100, 8192, 10000])
def test_roundtrip_across_arrow_batch_sizes(spark, seq, edge, batch_size):
    """Multi-block documents and block-boundary edge documents round-trip
    whatever the Arrow batch boundaries."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size))
    try:
        for src in (seq, edge):
            encoded = enc.encode_tokens(src, chunk_size=EDGE_CHUNK)
            res = dec.verify_roundtrip(src, dec.decode_tokens(encoded)).first()
            assert res["n_mismatch"] == 0
            assert res["n_joined"] == res["n_source"] == src.count()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_roundtrip_through_parquet(spark, seq, tmp_path):
    """Encoded table survives a real partitioned Parquet write/read."""
    out = str(tmp_path / "encoded")
    enc.encode_tokens(seq, chunk_size=512).write.partitionBy("source").parquet(out)
    encoded = spark.read.parquet(out)
    res = dec.verify_roundtrip(seq, dec.decode_tokens(encoded)).first()
    assert res["n_mismatch"] == 0 and res["n_joined"] == N_ROWS


def test_composed_decode_is_single_execution(spark, seq):
    """decode_tokens over a composed encode pipeline is one chain of two
    maps: encode runs once, nothing is persisted, nothing shuffled."""
    encoded = enc.encode_tokens(seq, chunk_size=512)
    out = dec.decode_tokens(encoded)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("InMemoryRelation") == 1  # the cached source only
    assert plan.count("MapInArrow") == 2
    res = dec.verify_roundtrip(seq, out).first()
    assert res["n_mismatch"] == 0 and res["n_joined"] == N_ROWS


def test_scan_input_decode_skips_materialization(spark, seq, tmp_path):
    """Parquet-scan inputs decode as one map over the scan: no persist,
    no exchange."""
    out_dir = str(tmp_path / "enc_scan")
    enc.encode_tokens(seq, chunk_size=512).write.parquet(out_dir)
    encoded = spark.read.parquet(out_dir)
    out = dec.decode_tokens(encoded)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan and "Exchange" not in plan
    res = dec.verify_roundtrip(seq, out).first()
    assert res["n_mismatch"] == 0 and res["n_joined"] == N_ROWS


def test_long_document_decode_plan_is_one_map(spark, tmp_path):
    """A Zipfian long-document table (most documents span many blocks)
    decodes with no Exchange and no InMemoryRelation in its plan, and its
    checksum matches the source."""
    rng = np.random.default_rng(11)
    vocab = rng.choice(2**31, 5000, replace=False).astype(np.int64)
    rows = []
    for i, n in enumerate(rng.integers(100, 3000, 24)):
        ranks = np.minimum(rng.zipf(1.2, n), vocab.size) - 1
        rows.append((f"z{i:03d}", vocab[ranks].tolist(), int(n), "web"))
    src = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    out_dir = str(tmp_path / "enc_long")
    enc.write_encoded(enc.encode_tokens(src, chunk_size=256), out_dir)
    encoded = spark.read.parquet(out_dir)
    assert encoded.filter(F.col("n_chunks") > 1).count() > 20
    decoded = dec.decode_tokens(encoded)
    plan = decoded._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "InMemoryRelation" not in plan
    res = dec.verify_roundtrip(src, decoded, method="checksum").first()
    assert res["n_mismatch"] == 0 and res["n_decoded"] == 24


def test_lost_block_fails_loudly(spark, seq, tmp_path):
    """A multi-block row that lost one blob in storage must fail the
    decode instead of returning a shorter document."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = str(tmp_path / "enc_lost")
    enc.write_encoded(enc.encode_tokens(seq, chunk_size=256).coalesce(1),
                      out_dir)
    (path,) = glob.glob(out_dir + "/*.parquet")
    t = pq.read_table(path)
    blocks = t.column("block").to_pylist()
    victim = next(i for i, b in enumerate(blocks) if len(b) > 1)
    blocks[victim] = blocks[victim][:-1]
    t = t.set_column(t.schema.get_field_index("block"), "block",
                     pa.array(blocks, type=t.schema.field("block").type))
    bad_dir = tmp_path / "enc_lost_bad"
    bad_dir.mkdir()
    pq.write_table(t, str(bad_dir / "part-0.parquet"))
    with pytest.raises(Exception, match="block count does not match"):
        dec.decode_tokens(spark.read.parquet(str(bad_dir))).collect()


def test_flipped_stored_bit_fails_the_read(spark, seq, tmp_path):
    """One bit flipped inside the `block` column chunk of a file copied
    without its `.crc` sidecar fails the read on the Parquet page CRC,
    instead of decoding to wrong tokens."""
    import glob
    import os

    import pyarrow.parquet as pq

    out_dir = str(tmp_path / "enc_flip")
    enc.write_encoded(enc.encode_tokens(seq, chunk_size=256).coalesce(1),
                      out_dir)
    for sidecar in glob.glob(out_dir + "/.*.crc"):
        os.remove(sidecar)
    (path,) = glob.glob(out_dir + "/*.parquet")
    rg = pq.ParquetFile(path).metadata.row_group(0)
    (chunk,) = [rg.column(j) for j in range(rg.num_columns)
                if rg.column(j).path_in_schema == "block.list.element"]
    start = chunk.dictionary_page_offset or chunk.data_page_offset
    with open(path, "r+b") as fh:
        fh.seek(start + chunk.total_compressed_size // 2)
        byte = fh.read(1)[0]
        fh.seek(-1, os.SEEK_CUR)
        fh.write(bytes([byte ^ 0x10]))
    with pytest.raises(Exception, match="CRC checksum verification failed"):
        dec.decode_tokens(spark.read.parquet(out_dir)).collect()


def test_split_offsets_edges():
    """Mapper-side split: block offsets over an untouched values buffer
    (empty rows, exact multiples, 1-token rows, long tails)."""
    offsets = np.array([0, 0, 5, 5, 21, 22, 1046], dtype=np.int64)
    new_off, n_chunks = enc._split_offsets(offsets, 8)
    lens = np.diff(offsets)
    exp_chunks = [1, 1, 1, 2, 1, 128]
    assert list(n_chunks) == exp_chunks
    assert new_off[0] == 0 and new_off[-1] == 1046
    out_lens = np.diff(new_off)
    assert out_lens.max() <= 8 and (out_lens >= 0).all()
    # each document's blocks are adjacent and add up to the document
    first = np.concatenate(([0], np.cumsum(n_chunks)))
    for i in range(6):
        assert out_lens[first[i]:first[i + 1]].sum() == lens[i]
        assert new_off[first[i]] == offsets[i]


def test_skew_split_chunks_longtail(spark, seq, edge):
    """Every blob obeys the size cap, each row holds n_chunks blobs that
    add up to the document, long documents do split, and the mixed
    document's blocks use different codecs."""
    from parquet_playground_rs_spark.functions import kernels

    rows = enc.encode_tokens(seq.unionByName(edge), chunk_size=EDGE_CHUNK) \
        .select("doc_id", "n_chunks", "block", "meta.n_tok").collect()
    want = {r["doc_id"]: r["n_tok"]
            for r in seq.unionByName(edge).collect()}
    assert {r["doc_id"] for r in rows} == set(want)
    for r in rows:
        sizes = [kernels.decode(b).size for b in r["block"]]
        assert len(sizes) == r["n_chunks"] >= 1
        assert max(sizes) <= EDGE_CHUNK
        assert sum(sizes) == r["n_tok"] == want[r["doc_id"]]
    assert sum(r["n_chunks"] > 1 for r in rows) > 1
    by_id = {r["doc_id"]: r for r in rows}
    assert [by_id[d]["n_chunks"] for d in ("e_empty", "e_exact", "e_plus1")] \
        == [1, 1, 2]
    mixed = by_id["e_mixed"]["block"]
    assert len(mixed) == 4 and len({b[0] for b in mixed}) >= 3


def test_compression_beats_plain(spark, seq):
    encoded = enc.encode_tokens(seq, chunk_size=512).cache()
    agg = encoded.agg(
        F.sum("meta.input_bytes").alias("inb"),
        F.sum("meta.output_bytes").alias("outb"),
    ).first()
    assert agg["outb"] < agg["inb"]  # net win across the mixed workload
    # every codec family appears on this workload
    codecs = {r["codec"] for r in encoded.select("codec").distinct().collect()}
    assert {"plain", "rle", "dict", "bitpack", "fordelta"} <= codecs
    encoded.unpersist()


def test_encoded_sink_writer_config(spark, seq, tmp_path):
    """E5-E7 fidelity: v2 writer encodings in the footer, stats disabled on
    the block column only, readable round-trip."""
    import glob

    import pyarrow.parquet as pq

    out = str(tmp_path / "enc_cfg")
    enc.write_encoded(enc.encode_tokens(seq, chunk_size=512), out)
    files = glob.glob(out + "/*.parquet")
    assert files
    saw_block = saw_v2_encoding = False
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                root = col.path_in_schema.split(".")[0]
                if root == "block":
                    saw_block = True
                    assert col.statistics is None  # E5/E6 opt-out
                else:
                    assert col.statistics is not None  # pruning kept
                if any(e.startswith(("DELTA_", "RLE_DICT"))
                       for e in col.encodings):
                    saw_v2_encoding = True  # E7: v2 writer active
    assert saw_block and saw_v2_encoding
    res = dec.verify_roundtrip(
        seq, dec.decode_tokens(spark.read.parquet(out))).first()
    assert res["n_mismatch"] == 0 and res["n_joined"] == N_ROWS


def test_checksum_verify_matches_and_catches_corruption(spark, seq):
    """Join-free checksum verify: clean round-trip -> 0; any single-row
    corruption or row loss -> -1."""
    encoded = enc.encode_tokens(seq, chunk_size=512)
    decoded = dec.decode_tokens(encoded)
    ok = dec.verify_roundtrip(seq, decoded, method="checksum").first()
    assert ok["n_mismatch"] == 0
    assert ok["n_source"] == ok["n_decoded"] == N_ROWS
    # content corruption
    bad = decoded.withColumn(
        "tokens",
        F.when(F.col("doc_id") == "doc_000000000003",
               F.array(F.lit(999))).otherwise(F.col("tokens")))
    assert dec.verify_roundtrip(seq, bad, method="checksum") \
        .first()["n_mismatch"] == -1
    # row loss
    missing = decoded.filter(F.col("doc_id") != "doc_000000000005")
    assert dec.verify_roundtrip(seq, missing, method="checksum") \
        .first()["n_mismatch"] == -1
    # doc_id swap of two rows' tokens must be caught (id is in the hash)
    swapped = decoded.withColumn(
        "doc_id",
        F.when(F.col("doc_id") == "doc_000000000003",
               "doc_000000000004")
        .when(F.col("doc_id") == "doc_000000000004",
              "doc_000000000003")
        .otherwise(F.col("doc_id")))
    assert dec.verify_roundtrip(seq, swapped, method="checksum") \
        .first()["n_mismatch"] == -1


def test_rowwise_decoder_matches_columnar(spark, seq):
    """S5/A6 contrast path: identical output, different execution shape."""
    encoded = enc.encode_tokens(seq.limit(80), chunk_size=256).cache()
    a = {r["doc_id"]: r["tokens"]
         for r in dec.decode_tokens(encoded).collect()}
    b = {r["doc_id"]: r["tokens"]
         for r in dec.decode_blocks_rowwise(encoded).collect()}
    assert a == b and len(a) == 80
    encoded.unpersist()


def test_verify_catches_corruption(spark, seq):
    """Negative control: a corrupted decode must be flagged."""
    encoded = enc.encode_tokens(seq, chunk_size=512)
    decoded = dec.decode_tokens(encoded).withColumn(
        "tokens",
        F.when(F.col("doc_id") == "doc_000000000003",
               F.array(F.lit(999))).otherwise(F.col("tokens")),
    )
    res = dec.verify_roundtrip(seq, decoded).first()
    assert res["n_mismatch"] >= 1


def test_checksum_verify_empty_inputs(spark):
    """ADVICE r2: bit_xor over zero rows is NULL on both sides; a
    vacuously-correct empty round-trip must report n_mismatch=0, not -1."""
    empty_s = spark.createDataFrame([], "doc_id string, tokens array<int>")
    empty_d = spark.createDataFrame([], "doc_id string, tokens array<int>")
    r = dec.verify_roundtrip(empty_s, empty_d, method="checksum").first()
    assert r["n_mismatch"] == 0
    assert r["n_source"] == 0 and r["n_decoded"] == 0
    # empty-vs-nonempty still fails loudly
    one = spark.createDataFrame([("a", [1, 2])],
                                "doc_id string, tokens array<int>")
    assert dec.verify_roundtrip(empty_s, one, method="checksum") \
        .first()["n_mismatch"] == -1


def test_decode_tokens_release_cache(spark):
    """decode_tokens persists nothing, even over a composed pipeline, so
    no cached blocks can leak; release_decode_cache is a no-op."""
    from parquet_playground_rs_spark.sources.generator import sequences_df

    seq2 = sequences_df(spark, 50, seed=7, partitions=2)
    # a JVM GC can drop old entries of the weak-valued persisted-RDD map,
    # so compare id sets, not the map's size
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    decoded = dec.decode_tokens(enc.encode_tokens(seq2, chunk_size=64))
    assert decoded.count() == 50
    assert set(jsc.getPersistentRDDs().keys()) - before == set()
    assert dec.release_decode_cache(decoded) is False
    # nor over a parquet scan
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        enc.write_encoded(enc.encode_tokens(seq2, chunk_size=64), d)
        dec2 = dec.decode_tokens(spark.read.parquet(d))
        assert dec2.count() == 50
        assert dec.release_decode_cache(dec2) is False


def test_encode_summary_synthetic_constants(spark):
    """Pin the deterministic generator totals the encode_summary oracle
    inlines as literals: if the generator or chunking changes, this fails
    before the driver compare does."""
    import __spark_entry__ as entry
    from parquet_playground_rs_spark.sources.generator import sequences_df

    syn = sequences_df(spark, 2000, seed=42, partitions=4)
    r = syn.agg(
        F.sum(F.greatest(F.lit(1), F.ceil(F.col("n_tok") / 4096)))
        .alias("nb"),
        (4 * F.sum("n_tok")).alias("ib"),
    ).first()
    assert int(r["nb"]) == entry._SYN_N_BLOCKS
    assert int(r["ib"]) == entry._SYN_INPUT_BYTES


def test_statistics_granularity_modes(spark, tmp_path):
    """E5: the statistics mode enum (none/chunk/page) mirroring the
    reference's CLI granularity control, footer-verified."""
    import glob

    import pyarrow.parquet as pq
    import pytest as _pytest

    from parquet_playground_rs_spark.sources.generator import sequences_df

    # enough rows that the default writer splits the ~1.7 MB block column
    # into several 1 MiB data pages, so chunk mode's page coalescing is
    # observable
    seq2 = sequences_df(spark, 6000, seed=3, partitions=1).cache()
    encoded = enc.encode_tokens(seq2, chunk_size=512)

    def footer(path):
        f = glob.glob(path + "/*.parquet")
        assert len(f) == 1
        md = pq.ParquetFile(f[0]).metadata
        col = next(
            md.row_group(0).column(i)
            for i in range(md.row_group(0).num_columns)
            if md.row_group(0).column(i).path_in_schema.startswith("doc_id"))
        import os
        return col.is_stats_set, col.has_column_index, os.path.getsize(f[0])

    paths = {m: str(tmp_path / m) for m in ("page", "chunk", "none")}
    for m, p in paths.items():
        enc.write_encoded(encoded.coalesce(1), p, statistics=m)
    p_stats, p_index, p_size = footer(paths["page"])
    c_stats, c_index, c_size = footer(paths["chunk"])
    n_stats, n_index, _ = footer(paths["none"])
    assert (p_stats, p_index) == (True, True)     # full granularity
    assert (n_stats, n_index) == (False, False)   # all stats dropped
    # chunk: stats kept; column index degenerates to one page per chunk —
    # observable as strictly fewer page headers (smaller file, same data)
    assert (c_stats, c_index) == (True, True)
    assert c_size < p_size
    # identical data through every mode
    for p in paths.values():
        assert spark.read.parquet(p).count() == encoded.count()
    with _pytest.raises(ValueError):
        enc.write_encoded(encoded, str(tmp_path / "bad"), statistics="rows")
    seq2.unpersist()


def test_bucketed_tables_join_without_exchange(spark, seq, tmp_path):
    """r3: co-located joins — encoded table and source bucketed by doc_id
    into the same bucket count must join with ZERO exchange and zero
    sort (the verify path's dominant shuffle at 10^12 rows)."""
    enc.write_encoded_bucketed(
        enc.encode_tokens(seq, chunk_size=512).filter("n_chunks = 1"),
        "enc_b", str(tmp_path / "enc_b"), n_buckets=8)
    enc.write_encoded_bucketed(seq, "src_b", str(tmp_path / "src_b"),
                               n_buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("enc_b").join(spark.table("src_b"), "doc_id") \
            .select("doc_id", "codec", "n_tok")
        n = j.count()
        assert n == spark.table("enc_b").count()
        p = j._jdf.queryExecution().executedPlan().toString()
        final = p.split("== Initial Plan ==")[0]
        assert "Exchange" not in final, final
        assert "SortMergeJoin" in final
        # bucket sort is reused: no Sort node above the scans either
        assert final.count("Sort ") <= 2  # SMJ prints sort keys, not nodes
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS enc_b")
        spark.sql("DROP TABLE IF EXISTS src_b")


def test_fused_verify_matches_and_catches_corruption(spark, seq):
    """The checksum verify over decode_tokens needs no join and no
    reassembly: it agrees with the exact join verify, detects token
    corruption and row-count drift, and is vacuously correct on empty
    inputs."""
    encoded = enc.encode_tokens(seq, chunk_size=512).cache()
    try:
        decoded = dec.decode_tokens(encoded)
        ok = dec.verify_roundtrip(seq, decoded, method="checksum").first()
        assert ok["n_mismatch"] == 0
        assert ok["n_source"] == ok["n_decoded"] == ok["n_joined"] == N_ROWS
        exact = dec.verify_roundtrip(seq, decoded).first()
        assert exact["n_mismatch"] == 0 and exact["n_joined"] == N_ROWS
        # corruption: swap one document's tokens for another's
        bad_seq = seq.withColumn(
            "tokens",
            F.when(F.col("doc_id") == seq.first()["doc_id"],
                   F.array(F.lit(999))).otherwise(F.col("tokens")))
        assert dec.verify_roundtrip(bad_seq, decoded, method="checksum") \
            .first()["n_mismatch"] == -1
        # row-count drift detected
        assert dec.verify_roundtrip(seq.limit(100), decoded,
                                    method="checksum") \
            .first()["n_mismatch"] == -1
    finally:
        encoded.unpersist()
    # empty inputs are vacuously correct
    empty = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string")
    empty_dec = dec.decode_tokens(enc.encode_tokens(empty, chunk_size=512))
    r = dec.verify_roundtrip(empty, empty_dec, method="checksum").first()
    assert r["n_mismatch"] == 0 and r["n_source"] == 0
