"""The encode and decode maps cross Arrow <-> numpy through buffers
(functions/arrow_np.py): slices read only their own tokens, wider integer
tokens keep their checked narrowing to int32, and a process that runs the
maps never imports pandas."""

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.ipc as ipc
import pytest

from parquet_playground_rs_spark.operators import encode as enc

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _batch(docs, value_type=pa.int32(), prefix="d"):
    return pa.RecordBatch.from_pydict({
        "doc_id": [f"{prefix}{i}" for i in range(len(docs))],
        "source": ["web"] * len(docs),
        "tokens": pa.array([list(d) for d in docs], pa.list_(value_type))})


def _docs(seed, n_docs):
    rng = np.random.default_rng(seed)
    docs = []
    for i in range(n_docs):
        n = int(rng.integers(0, 2500))
        if i % 4 == 0:
            docs.append(np.full(n, i, np.int32))
        elif i % 4 == 1:
            docs.append(np.cumsum(rng.integers(0, 9, n)).astype(np.int32))
        elif i % 4 == 2:
            docs.append(rng.integers(-2**31, 2**31 - 1, n, dtype=np.int64)
                        .astype(np.int32))
        else:
            docs.append(rng.integers(0, 40, n).astype(np.int32))
    return docs


def test_list_to_numpy_reads_only_the_slice():
    docs = _docs(1, 30)
    batch = _batch(docs)
    part = batch.slice(7, 11)
    values, offsets = enc.list_to_numpy(part.column("tokens"))
    want = np.concatenate(docs[7:18])
    assert offsets[0] == 0 and offsets.size == 12
    np.testing.assert_array_equal(np.diff(offsets),
                                  [d.size for d in docs[7:18]])
    np.testing.assert_array_equal(values, want)
    copy = pa.RecordBatch.from_pylist(part.to_pylist(), schema=part.schema)
    assert enc.encode_arrow_batch(part, chunk_size=512).equals(
        enc.encode_arrow_batch(copy, chunk_size=512))


def test_bigint_tokens_encode_like_their_int32_copy():
    docs = _docs(2, 20) + [np.array([-2**31, 2**31 - 1], np.int32)]
    narrow = enc.encode_arrow_batch(_batch(docs), chunk_size=512)
    for typ in (pa.list_(pa.int64()), pa.large_list(pa.int64())):
        wide = _batch(docs).cast(pa.schema([
            pa.field("doc_id", pa.string()), pa.field("source", pa.string()),
            pa.field("tokens", typ)]))
        assert enc.encode_arrow_batch(wide, chunk_size=512).equals(narrow)


def test_out_of_range_or_null_tokens_raise():
    over = _batch([[1, 2], [2**31]], pa.int64())
    with pytest.raises(OverflowError):
        enc.encode_arrow_batch(over)
    under = _batch([[-2**31 - 1]], pa.int64())
    with pytest.raises(OverflowError):
        enc.encode_arrow_batch(under)
    with pytest.raises(pa.ArrowInvalid):
        enc.encode_arrow_batch(_batch([[2**31]], pa.int64()).cast(
            pa.schema([pa.field("doc_id", pa.string()),
                       pa.field("source", pa.string()),
                       pa.field("tokens", pa.large_list(pa.int64()))])))
    with pytest.raises(TypeError):
        enc.encode_arrow_batch(_batch([[1.5]], pa.float64()))
    with pytest.raises(TypeError):
        enc.encode_arrow_batch(_batch([[1, None]]))
    with pytest.raises(ValueError, match="null rows"):
        enc.encode_arrow_batch(pa.RecordBatch.from_pydict({
            "doc_id": ["a"], "source": ["web"],
            "tokens": pa.array([None], pa.list_(pa.int32()))}))


_GUARD = r"""
import json, sys
import pyarrow as pa, pyarrow.ipc as ipc
from parquet_playground_rs_spark.operators import decode as dec
from parquet_playground_rs_spark.operators import encode as enc
from parquet_playground_rs_spark.plans import pipeline as pl

dec.DECODE_TOKEN_BUDGET = 4000
batches = ipc.open_file(sys.argv[1]).read_all().to_batches()
n_out, exact = 0, True
for batch in batches:
    docs = batch.drop_columns(["_file"])
    encoded = enc.encode_arrow_batch(docs, chunk_size=512)
    out = list(dec._decode_map(iter([encoded])))
    n_out += len(out)
    tokens = pa.chunked_array([b.column("tokens") for b in out])
    ids = pa.chunked_array([b.column("doc_id") for b in out])
    exact &= tokens.combine_chunks().equals(batch.column("tokens"))
    exact &= ids.combine_chunks().equals(batch.column("doc_id"))
buckets = []
for out in pl._bucket_map(iter(batches), {"f0": 5, "f1": 6, "f2": 7}, 512):
    buckets += out.column("bucket").to_pylist()
print(json.dumps({"exact": bool(exact), "batches": len(batches),
                  "out_batches": n_out, "buckets": buckets,
                  "pandas": "pandas" in sys.modules}))
"""


def test_engine_maps_never_import_pandas(tmp_path):
    """A fresh interpreter runs the encode map, the token-budget decode
    map and the pipeline's bucket map over IPC-read batches: the round
    trip is exact and pandas is never imported."""
    batches = []
    for k in range(3):
        docs = _docs(10 + k, 40)
        batch = _batch(docs, prefix=f"b{k}_")
        files = pa.array([f"f{i % 3}" for i in range(len(docs))])
        batches.append(batch.append_column("_file", files))
    path = str(tmp_path / "in.arrow")
    with ipc.new_file(path, batches[0].schema) as w:
        for b in batches:
            w.write_batch(b)
    env = dict(os.environ, PYTHONPATH=ROOT)
    res = subprocess.run([sys.executable, "-c", _GUARD, path], cwd=ROOT,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert res.returncode == 0, res.stderr
    got = json.loads(res.stdout.strip().splitlines()[-1])
    assert got["exact"]
    assert got["out_batches"] > got["batches"]  # the token budget cut
    assert got["buckets"] == [5 + i % 3 for i in range(40)] * 3
    assert not got["pandas"], "an engine map imported pandas"
