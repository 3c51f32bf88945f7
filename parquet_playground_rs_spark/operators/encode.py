"""Encode operator: tokens -> codec blocks, as a vectorized Arrow map.

Spark-first layout of the reference's encode path (`js2pq`,
/root/reference/src/bin/js2pq/main.rs:46-131): where the reference reads one
whole file into one RecordBatch single-threaded, here Arrow batches stream
through ``mapInArrow`` tasks; Catalyst handles scan/pruning, the kernels
(functions/kernels.py) do the per-block compression, and the Parquet/ZSTD
sink provides the general-purpose layer (the reference's
`Compression::ZSTD(3)`, main.rs:91).

One row per document: ``block`` is an ``array<binary>`` of self-describing
blobs of at most ``chunk_size`` tokens each, so the kernels stay
cache-sized on long-tail documents while decode stays a pure map (no
reassembly). The split is offsets arithmetic inside the mapper
(``_split_offsets``); the token values are never copied to chunk them.

Row-level ``codec`` of a multi-block document is the codec that encoded
most of the document's tokens (ties go to the lower codec id). ``meta``
holds the document's token count and its input and output bytes, summed
over its blocks; the manifests and the encode summaries sum the byte
fields.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import arrow_np, kernels

DEFAULT_CHUNK = 16384          # max tokens per encoded block

META_FIELDS = [
    ("n_tok", pa.int32()),
    ("input_bytes", pa.int64()),
    ("output_bytes", pa.int64()),
]

ENCODED_ARROW_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("source", pa.string()),
        pa.field("n_chunks", pa.int32()),
        pa.field("codec", pa.string()),
        pa.field("block", pa.list_(pa.binary())),
        pa.field("meta", pa.struct(META_FIELDS)),
    ]
)

ENCODED_DDL = (
    "doc_id string, source string, n_chunks int, codec string, "
    "block array<binary>, "
    "meta struct<n_tok:int, input_bytes:bigint, output_bytes:bigint>"
)

# the row-level codec column is this array taken at each row's codec id
_CODEC_NAME_ARRAY = arrow_np.string_array(
    [kernels.CODEC_NAMES[i] for i in range(len(kernels.CODEC_NAMES))])


def list_to_numpy(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """ListArray -> (int32 values, int64 row offsets from 0) of exactly
    the rows of `arr`, zero-copy for int32 tokens; a slice reads only
    its own tokens."""
    if arr.null_count:
        raise ValueError("tokens column must not contain null rows")
    if pa.types.is_large_list(arr.type):
        arr = arr.cast(pa.list_(pa.int32()))
    offsets = arrow_np.list_offsets(arr)
    flat = arr.flatten()
    if flat.null_count:
        raise TypeError("tokens must be integers, got a null token")
    return kernels.as_int32(arrow_np.numeric_values(flat)), offsets


def _split_offsets(offsets: np.ndarray, chunk_size: int):
    """Refine a list-offsets array so no row exceeds chunk_size. The
    values buffer is untouched and blocks are adjacent slices, so the
    refined array is itself a valid offsets array. An empty document
    keeps one empty block. Returns (block offsets, blocks per document)."""
    lens = np.diff(offsets)
    n_chunks = np.maximum(-(-lens // chunk_size), 1)
    first = np.concatenate(([0], np.cumsum(n_chunks)))[:-1]
    chunk_idx = np.arange(int(n_chunks.sum())) - np.repeat(first, n_chunks)
    starts = np.repeat(offsets[:-1], n_chunks) + chunk_idx * chunk_size
    return np.concatenate((starts, offsets[-1:])), n_chunks


def _document_columns(codec_ids: np.ndarray, n_tok: np.ndarray,
                      blob_bytes: np.ndarray, n_chunks: np.ndarray
                      ) -> tuple[np.ndarray, pa.Array]:
    """Fold per-block codec ids, token counts and blob sizes into
    per-document (codec id, meta), by the rule in the module docstring."""
    n_docs = n_chunks.size
    first = np.concatenate(([0], np.cumsum(n_chunks)))[:-1]
    n_codecs = len(kernels.CODEC_NAMES)
    doc_of_block = np.repeat(np.arange(n_docs), n_chunks)
    tokens_by_codec = np.bincount(
        doc_of_block * n_codecs + codec_ids, weights=n_tok,
        minlength=n_docs * n_codecs).reshape(n_docs, n_codecs)
    doc_codec = np.where(n_chunks > 1, tokens_by_codec.argmax(axis=1),
                         codec_ids[first])
    doc_tok = np.add.reduceat(n_tok, first)
    meta = pa.StructArray.from_arrays(
        [arrow_np.from_numpy(doc_tok, pa.int32()),
         arrow_np.from_numpy(4 * doc_tok, pa.int64()),
         arrow_np.from_numpy(np.add.reduceat(blob_bytes, first), pa.int64())],
        fields=[pa.field(name, typ) for name, typ in META_FIELDS])
    return doc_codec, meta


def encode_arrow_batch(batch: pa.RecordBatch,
                       chunk_size: int = DEFAULT_CHUNK) -> pa.RecordBatch:
    """Encode one Arrow batch of (doc_id, source, tokens) documents into
    one ENCODED_ARROW_SCHEMA row each.

    Fully batch-vectorized (functions/batch_encode.py): every block of
    the batch is encoded by one call, segmented stats + group packing, no
    per-row Python in the hot path; the blobs come back as one buffer
    that the ``block`` list column wraps zero-copy.
    """
    import pyarrow.compute as pc

    from ..functions import batch_encode

    values, offsets = list_to_numpy(batch.column("tokens"))
    block_offsets, n_chunks = _split_offsets(offsets, chunk_size)
    data, blob_offsets, codec_ids, s, aux = batch_encode.encode_batch_columnar(
        values, block_offsets)
    if blob_offsets[-1] > 2**31 - 1:  # Arrow binary offsets are int32
        raise ValueError("encoded batch exceeds 2GiB; lower Arrow batch size")
    blobs = pa.Array.from_buffers(
        pa.binary(), blob_offsets.size - 1,
        [None, pa.py_buffer(blob_offsets.astype(np.int32)),
         pa.py_buffer(data)])
    block = pa.ListArray.from_arrays(
        arrow_np.from_numpy(np.concatenate(([0], np.cumsum(n_chunks))),
                            pa.int32()),
        blobs)
    doc_codec, meta = _document_columns(codec_ids, s["n_tok"],
                                        aux["blob_bytes"], n_chunks)
    codecs = pc.take(_CODEC_NAME_ARRAY,
                     arrow_np.from_numpy(doc_codec, pa.int32()))
    return pa.RecordBatch.from_arrays(
        [
            batch.column("doc_id"),
            batch.column("source"),
            arrow_np.from_numpy(n_chunks, pa.int32()),
            codecs,
            block,
            meta,
        ],
        schema=ENCODED_ARROW_SCHEMA,
    )


# Writer-config fidelity with the reference sink (js2pq/main.rs:85-117):
# E7 writer version PARQUET_2_0 ("parquet.writer.version" v2 -> v2 data
# pages, DELTA_* / RLE_DICTIONARY encodings); E5/E6 statistics control —
# the reference turns stats down because they buy "not much benefit" on
# its data; here the high-entropy `block` binary column gets per-column
# opt-out (footer bytes saved, nothing can prune on codec blobs anyway)
# while doc_id/source/n_chunks keep stats for scan pruning. The key names
# the leaf column path of the array<binary> column.
# skip_arrow_metadata (main.rs:115-117) has no Spark analog: parquet-mr
# never writes an Arrow schema blob in the first place.
ENCODED_WRITE_OPTIONS = {
    "parquet.writer.version": "v2",
    "parquet.column.statistics.enabled#block.list.element": "false",
}

# E5 statistics-granularity modes, mirroring the reference's CLI enum
# None/Chunk/Page (js2pq/main.rs:18-26 -> arrow-rs EnabledStatistics,
# applied :85-97). parquet-mr equivalences (probed, footer-verified):
# - "page"  (default): chunk stats + page-level column index — full.
# - "none": parquet.column.statistics.enabled=false drops BOTH the chunk
#   stats and the column index.
# - "chunk": parquet-mr has no switch that drops only the column index,
#   so pages are coalesced toward one per column chunk: the row-count
#   limit is lifted entirely and the page size raised to 8 MiB (typical
#   column chunks compress far below that). page.size must stay MODEST:
#   parquet-mr PREALLOCATES a compressor buffer of page.size per task
#   (CodecFactory$HeapBytesCompressor), so a huge value OOMs concurrent
#   writers — found by an OOM under 16 parallel tasks at 1 GiB.
STATISTICS_MODES = {
    "page": {},
    "chunk": {
        "parquet.page.row.count.limit": str(1 << 30),
        "parquet.page.size": str(8 << 20),
    },
    "none": {"parquet.column.statistics.enabled": "false"},
}


def write_encoded(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: str | list[str] | None = None,
                  statistics: str = "page",
                  **extra_options) -> None:
    """Parquet sink for the encoded table with reference-config fidelity.

    statistics: "none" | "chunk" | "page" — the reference's statistics
    granularity enum (see STATISTICS_MODES for the parquet-mr mapping).
    """
    if statistics not in STATISTICS_MODES:
        raise ValueError(
            f"statistics must be one of {sorted(STATISTICS_MODES)}, "
            f"got {statistics!r}")
    w = df.write.mode(mode)
    merged = {**ENCODED_WRITE_OPTIONS,
              **STATISTICS_MODES[statistics], **extra_options}
    for k, v in merged.items():
        w = w.option(k, v)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else partition_by
        w = w.partitionBy(*cols)
    w.parquet(path)


def write_encoded_bucketed(df: DataFrame, table: str, path: str,
                           n_buckets: int = 64,
                           bucket_col: str = "doc_id",
                           statistics: str = "page",
                           **extra_options) -> None:
    """Bucketed + sorted parquet table for CO-LOCATED joins.

    The encoded table's dominant consumers join it back on `doc_id`
    (verify-vs-source, dedup apply, reassembly audits). Writing both
    sides with `bucketBy(n, doc_id).sortBy(doc_id)` lets Spark plan those
    joins with ZERO exchange and zero sort — each task zips matching
    buckets — which at 10^12 rows removes the single largest shuffle in
    the verify path. Bucket count must match across the joined tables.
    Registered via saveAsTable (bucket metadata lives in the catalog);
    `path` makes it an external table so the files outlive the session.
    """
    if statistics not in STATISTICS_MODES:
        raise ValueError(
            f"statistics must be one of {sorted(STATISTICS_MODES)}, "
            f"got {statistics!r}")
    w = (df.write.mode("overwrite").format("parquet")
         .bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
         .option("path", path))
    merged = {**ENCODED_WRITE_OPTIONS,
              **STATISTICS_MODES[statistics], **extra_options}
    for k, v in merged.items():
        w = w.option(k, v)
    w.saveAsTable(table)


def encode_tokens(df: DataFrame,
                  chunk_size: int = DEFAULT_CHUNK) -> DataFrame:
    """Full encode operator: one Arrow map over the input's partitions.

    Input:  (doc_id string, tokens array<int>, n_tok int, source string)
    Output: ENCODED_DDL rows, one per document.

    Under the engine's confs (session.ENGINE_CONFS) each Arrow batch into
    the map is capped at 8192 rows and 1 MiB, so a task's memory does not
    grow with its partition. A batch can pass the byte cap by its last
    row, so the one exception is a document larger than 1 MiB: it
    arrives whole. A single document must fit one Arrow row (< 2^31
    tokens), true by construction for training sequences.
    """
    src = df.select(F.col("doc_id").cast("string").alias("doc_id"),
                    "source", "tokens")

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                yield encode_arrow_batch(batch, chunk_size=chunk_size)

    return src.mapInArrow(mapper, ENCODED_DDL)
