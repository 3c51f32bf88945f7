"""The benchmark's three workloads: corpus generation and the two op halves.

An operation is a write op followed by a read op on the same corpus:

- write: ``operators.encode.encode_tokens`` -> ``write_encoded``
  (``plans.pipeline.run_encode_job_files`` on ``pipeline_mixed``);
- read: ``spark.read.parquet`` (``read_encoded`` on ``pipeline_mixed``) ->
  ``operators.decode.decode_tokens`` -> a (count, bit_xor(xxhash64(doc_id,
  tokens))) aggregate over the decoded side.

The aggregate is taken with ``DataFrame.observe`` over a no-op sink, so it
adds no exchange of its own: any shuffle a read op shows is the engine's
(on zipf_long, the chunk reassembly).
"""

from __future__ import annotations

import heapq
import os
import shutil
from dataclasses import dataclass
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from parquet_playground_rs_spark.operators import decode as dec
from parquet_playground_rs_spark.operators import encode as enc
from parquet_playground_rs_spark.plans import pipeline as pipe
from parquet_playground_rs_spark.sources import generator

MIXED_ROWS = 20_000

# BPE-like token stream: Zipf(s) ranks over a fixed vocabulary, each rank
# mapped to a seed-fixed distinct int32 id (hashed-vocabulary shape), and
# log-normal document lengths whose tail crosses DEFAULT_CHUNK (~2% of docs).
ZIPF_DOCS = 1_500
ZIPF_VOCAB = 50_000
ZIPF_S = 1.2
ZIPF_MEDIAN_LEN = 1_500
ZIPF_LEN_SIGMA = 1.2
ZIPF_LEN_RANGE = (64, 120_000)

# pipeline_mixed: 8 input files -> 4 file-scope buckets, 2 per commit
# group -> 2 commit groups, committing concurrently. ~15 MB of input keeps
# the pipeline's derived scan-task target at its 4 MiB floor, so each
# ~7 MB group splits into 2 tasks for every seed (not 1 or 2 by seed).
PIPELINE_ROWS = 12_000
PIPELINE_FILES = 8
PIPELINE_BUCKETS = 4
PIPELINE_BUCKETS_PER_COMMIT = 2
PIPELINE_CONCURRENT_COMMITS = 2


@dataclass
class Corpus:
    path: str
    n_docs: int
    n_tokens: int
    checksum: int
    reference_tokens_bytes: int


def checksum(df: DataFrame) -> tuple[int, int | None, int]:
    """(count, bit_xor(xxhash64(doc_id, tokens)), token total) of df."""
    obs = Observation()
    (df.observe(obs, F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("doc_id", "tokens")).alias("x"),
                F.sum(F.size("tokens")).alias("t"))
     .write.format("noop").mode("overwrite").save())
    r = obs.get
    return int(r["n"]), r["x"], int(r["t"] or 0)


def column_bytes(path: str, column: str) -> int:
    """Compressed bytes of one top-level column over a parquet tree."""
    total = 0
    for f in parquet_files(path):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema.split(".")[0] == column:
                    total += col.total_compressed_size
    return total


def shape_counts(path: str, codecs: tuple[str, ...]) -> dict[str, int]:
    """Exact chunk-row counts per codec, and of rows of multi-chunk
    documents, from the ``codec`` and ``n_chunks`` columns of an encoded
    parquet tree."""
    per_codec = dict.fromkeys(codecs, 0)
    multi = 0
    for f in parquet_files(path):
        t = pq.read_table(f, columns=["codec", "n_chunks"])
        for v in pc.value_counts(t["codec"]).to_pylist():
            per_codec[v["values"]] = per_codec.get(v["values"], 0) + v["counts"]
        multi += pc.sum(pc.greater(t["n_chunks"], 1)).as_py() or 0
    counts = {f"codec.rows.{c}": n for c, n in per_codec.items()}
    counts["chunks.multi_rows"] = multi
    return counts


def _fsst_rows(counts: dict[str, int]) -> tuple[int, int]:
    total = sum(n for k, n in counts.items() if k.startswith("codec.rows."))
    return counts["codec.rows.fsst"], total


def parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".parquet"))


def zipf_lengths(n_docs: int, rng: np.random.Generator) -> np.ndarray:
    """Document lengths at the n_docs evenly spaced quantiles of the
    log-normal, in seed-shuffled order: every seed gets the same lengths,
    so the same token total and the same multi-chunk documents, and the
    seed only moves which document is which and what tokens it holds."""
    z = np.array([NormalDist().inv_cdf((k + 0.5) / n_docs)
                  for k in range(n_docs)])
    lens = np.exp(np.log(ZIPF_MEDIAN_LEN) + ZIPF_LEN_SIGMA * z)
    return rng.permutation(np.clip(lens, *ZIPF_LEN_RANGE).astype(np.int64))


def write_zipf(path: str, n_docs: int, seed: int, n_files: int) -> None:
    rng = np.random.default_rng(seed)
    vocab = (rng.choice(2 ** 32, ZIPF_VOCAB, replace=False)
             - 2 ** 31).astype(np.int32)
    cdf = np.cumsum(np.arange(1, ZIPF_VOCAB + 1, dtype=np.float64) ** -ZIPF_S)
    cdf /= cdf[-1]
    lens = zipf_lengths(n_docs, rng)
    ranks = np.minimum(np.searchsorted(cdf, rng.random(int(lens.sum()))),
                       ZIPF_VOCAB - 1)
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
    sources = np.array(generator.SOURCES)[
        rng.choice(len(generator.SOURCES), n_docs, p=[.6, .1, .1, .1, .1])]
    table = pa.table({
        "doc_id": [f"zdoc_{i:09d}" for i in range(n_docs)],
        "tokens": pa.ListArray.from_arrays(offsets, vocab[ranks]),
        "n_tok": lens.astype(np.int32),
        "source": sources,
    })
    # With long-tailed lengths, contiguous slices would give some seeds one
    # file (hence one encode task) holding most of the tokens, and the op
    # time would follow that luck. Longest document first onto the lightest
    # file keeps the token count of every file about equal for any seed.
    loads = [(0, k) for k in range(n_files)]
    members: list[list[int]] = [[] for _ in range(n_files)]
    for d in np.argsort(-lens, kind="stable"):
        load, k = heapq.heappop(loads)
        members[k].append(int(d))
        heapq.heappush(loads, (load + int(lens[d]), k))
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for k, docs in enumerate(members):
        pq.write_table(table.take(pa.array(sorted(docs), type=pa.int64())),
                       os.path.join(path, f"part-{k:05d}.parquet"),
                       compression="snappy")


class Workload:
    """Plain encode/decode on one corpus; subclasses pick the corpus."""

    name = ""

    def __init__(self, work: str, nproc: int, scale: float):
        self.work = work
        self.nproc = nproc
        self.scale = scale
        self.src = os.path.join(work, "input")
        self.ref = os.path.join(work, "reference")

    def generate(self, spark: SparkSession, seed: int) -> None:
        raise NotImplementedError

    def make_corpus(self, spark: SparkSession, seed: int) -> Corpus:
        """Generate the input files, take their checksum and write the
        reference writer's output (ZSTD + dictionary, plain list<int32>)."""
        self.generate(spark, seed)
        src = spark.read.parquet(self.src)
        n, x, t = checksum(src)
        (src.write.mode("overwrite")
         .option("parquet.enable.dictionary", "true")
         .option("compression", "zstd").parquet(self.ref))
        return Corpus(self.src, n, t, x, column_bytes(self.ref, "tokens"))

    def check_cached(self, spark: SparkSession, corpus: Corpus) -> None:
        """Re-read a corpus generated by an earlier set-up round."""
        n, x, t = checksum(spark.read.parquet(corpus.path))
        if (n, x, t) != (corpus.n_docs, corpus.checksum, corpus.n_tokens):
            raise RuntimeError(f"cached corpus changed: {(n, x, t)}")

    def out_dir(self, op: int) -> str:
        return os.path.join(self.work, "encoded")

    def data_dir(self, out: str) -> str:
        return out

    def write(self, spark: SparkSession, out: str, span) -> None:
        with span("operators.encode.encode_tokens"):
            encoded = enc.encode_tokens(spark.read.parquet(self.src))
        with span("operators.encode.write_encoded"):
            enc.write_encoded(encoded, out)

    def read_encoded(self, spark: SparkSession, out: str, span) -> DataFrame:
        with span("spark.read.parquet"):
            return spark.read.parquet(out)

    def read(self, spark: SparkSession, out: str, span):
        encoded = self.read_encoded(spark, out, span)
        with span("operators.decode.decode_tokens"):
            decoded = dec.decode_tokens(encoded)
        try:
            with span("checksum"):
                n, x, _ = checksum(decoded)
        finally:
            dec.release_decode_cache(decoded)
        return n, x

    def discard(self, out: str, keep: str) -> None:
        """Drop an op's output once a later op has replaced it."""

    def commit_groups(self, out: str) -> int:
        return 0

    def shape_problems(self, counts: dict[str, int]) -> list[str]:
        """Why the encoded output no longer has the shape this workload is
        named for: FSST a minority codec, no multi-chunk document."""
        fsst, total = _fsst_rows(counts)
        problems = []
        if fsst * 10 >= total:
            problems.append(f"FSST is not a minority codec ({fsst}/{total} rows)")
        if counts["chunks.multi_rows"]:
            problems.append("multi-chunk documents present")
        return problems


class MixedShort(Workload):
    name = "mixed_short"

    def generate(self, spark, seed):
        generator.write_sequences(spark, int(MIXED_ROWS * self.scale),
                                  self.src, seed=seed,
                                  partitions=2 * self.nproc)


class ZipfLong(Workload):
    name = "zipf_long"

    def generate(self, spark, seed):
        write_zipf(self.src, max(8, int(ZIPF_DOCS * self.scale)), seed,
                   n_files=2 * self.nproc)

    def shape_problems(self, counts):
        fsst, total = _fsst_rows(counts)
        problems = []
        if fsst * 2 <= total:
            problems.append(f"FSST is not the majority codec ({fsst}/{total} rows)")
        if not counts["chunks.multi_rows"]:
            problems.append("no multi-chunk documents")
        return problems


class PipelineMixed(Workload):
    name = "pipeline_mixed"

    def generate(self, spark, seed):
        generator.write_sequences(spark, int(PIPELINE_ROWS * self.scale),
                                  self.src, seed=seed,
                                  partitions=PIPELINE_FILES)

    def out_dir(self, op):
        # a committed job dir resumes instead of re-encoding: fresh per op
        return os.path.join(self.work, "jobs", f"op-{op}")

    def data_dir(self, out):
        return os.path.join(out, "data")

    def write(self, spark, out, span):
        with span("plans.pipeline.run_encode_job_files"):
            pipe.run_encode_job_files(
                spark, self.src, out, n_buckets=PIPELINE_BUCKETS,
                buckets_per_commit=PIPELINE_BUCKETS_PER_COMMIT,
                concurrent_commits=PIPELINE_CONCURRENT_COMMITS)

    def read_encoded(self, spark, out, span):
        with span("plans.pipeline.read_encoded"):
            return pipe.read_encoded(spark, out)

    def discard(self, out, keep):
        if out != keep:
            shutil.rmtree(out, ignore_errors=True)

    def commit_groups(self, out):
        data = self.data_dir(out)
        return sum(1 for d in os.listdir(data) if d.startswith("commit="))

    def shape_problems(self, counts):
        problems = super().shape_problems(counts)
        if counts["pipeline.commit_groups"] < 2:
            problems.append("fewer than two commit groups")
        return problems


WORKLOADS = {w.name: w for w in (MixedShort, ZipfLong, PipelineMixed)}
