"""Worker-side spans for the traced benchmark run.

The traced run starts the Python worker daemon through this module
(``spark.python.daemon.module=worker_shim``, with this directory on the
workers' PYTHONPATH). Before handing over to ``pyspark.daemon`` it installs
an import hook: when a forked worker first imports one of the engine
modules named in ``PATCHES``, the listed public functions are replaced by
timing wrappers. The engine code itself is unchanged and the untraced run
never imports this file.

A span is recorded only while a top-level call (``encode_arrow_batch`` /
``decode_arrow_batch``) runs inside a task whose job carries the op id as
the local property ``spark.perfbench.op``; tasks without it pass straight
through. Each span adds its duration to its parent's child time, so a
layer's self time is its duration minus its wrapped children.

Forked daemon workers leave through ``os._exit``, so nothing runs at
interpreter exit: the per-process aggregates are rewritten to
``$PERFBENCH_TRACE_DIR/w-<pid>.json`` after every top-level call, and the
driver merges the files when the run ends.
"""

from __future__ import annotations

import functools
import importlib.abc
import importlib.machinery
import json
import os
import sys
import time

OP_PROPERTY = "spark.perfbench.op"
TRACE_DIR_ENV = "PERFBENCH_TRACE_DIR"
_PKG = "parquet_playground_rs_spark"


class Recorder:
    """Per-process span and counter aggregates, keyed by op id."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.op: str | None = None  # op id of the top-level call in flight
        self.child_s: list[float] = []  # child time of each open span
        self.spans: dict[str, dict[str, list[float]]] = {}
        self.counts: dict[str, dict[str, int]] = {}

    def add_span(self, name: str, total: float, self_s: float) -> None:
        agg = self.spans.setdefault(self.op, {}).setdefault(name, [0, 0.0, 0.0])
        agg[0] += 1
        agg[1] += total
        agg[2] += self_s

    def count(self, name: str, n: int) -> None:
        per_op = self.counts.setdefault(self.op, {})
        per_op[name] = per_op.get(name, 0) + int(n)

    def flush(self) -> None:
        path = os.path.join(self.out_dir, f"w-{os.getpid()}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh)
        os.replace(tmp, path)


def _task_op() -> str | None:
    from pyspark import TaskContext

    tc = TaskContext.get()
    return tc.getLocalProperty(OP_PROPERTY) if tc is not None else None


def _wrap(rec: Recorder, name: str, fn, top: bool = False, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if top:
            rec.op = _task_op()
        if rec.op is None:
            return fn(*args, **kwargs)
        try:
            rec.child_s.append(0.0)
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                child = rec.child_s.pop()
                if rec.child_s:
                    rec.child_s[-1] += dt
                rec.add_span(name, dt, dt - child)
            if after is not None:
                after(rec, args, result)
            return result
        finally:
            if top:
                rec.flush()
                rec.op = None

    return wrapper


def _after_encode_batch(rec, args, result):
    rec.count("encode_op.rows", args[0].num_rows)


def _after_decode_batch(rec, args, result):
    import pyarrow.compute as pc

    multi = pc.sum(pc.greater(args[0].column("n_chunks"), 1)).as_py()
    rec.count("decode_op.multi_chunk_rows", multi or 0)


def _after_encode_columnar(rec, args, result):
    from parquet_playground_rs_spark.functions.kernels import CODEC_IDS

    rec.count("batch_encode.tokens", len(args[0]))
    rec.count("fsst.chosen_rows", int((result[2] == CODEC_IDS["fsst"]).sum()))


def _after_decode_binary(rec, args, result):
    rec.count("batch_decode.tokens", int(result[1][-1]))


# module -> [(function, span name, top-level?, counter hook)]
PATCHES = {
    f"{_PKG}.operators.encode": [
        ("encode_arrow_batch", "encode_op.arrow_batch", True,
         _after_encode_batch)],
    f"{_PKG}.operators.decode": [
        ("decode_arrow_batch", "decode_op.arrow_batch", True,
         _after_decode_batch)],
    f"{_PKG}.functions.batch_encode": [
        ("encode_batch_columnar", "batch_encode", False,
         _after_encode_columnar),
        ("batch_stats", "batch_encode.batch_stats", False, None),
        ("choose_codecs", "batch_encode.choose_codecs", False, None),
        ("segmented_dict", "batch_encode.segmented_dict", False, None)],
    f"{_PKG}.functions.selector": [
        ("estimate_fsst", "fsst.estimate", False, None)],
    f"{_PKG}.functions.kernels": [
        ("encode_fsst", "fsst.encode", False, None),
        ("decode", "kernels.decode", False, None)],
    f"{_PKG}.functions.batch_decode": [
        ("decode_binary_array", "batch_decode", False,
         _after_decode_binary)],
}


class _PatchingFinder(importlib.abc.MetaPathFinder):
    """Finds the PATCHES modules with the normal path finder and wraps
    their functions right after the module body has executed."""

    def __init__(self, rec: Recorder):
        self.rec = rec

    def find_spec(self, name, path, target=None):
        if name not in PATCHES:
            return None
        spec = importlib.machinery.PathFinder.find_spec(name, path)
        if spec is None or spec.loader is None:
            return spec
        exec_module = spec.loader.exec_module
        rec = self.rec

        def exec_and_patch(module):
            exec_module(module)
            for fn_name, span, top, after in PATCHES[name]:
                setattr(module, fn_name,
                        _wrap(rec, span, getattr(module, fn_name), top, after))

        spec.loader.exec_module = exec_and_patch
        return spec


def install(out_dir: str) -> Recorder:
    rec = Recorder(out_dir)
    sys.meta_path.insert(0, _PatchingFinder(rec))
    return rec


if __name__ == "__main__":
    install(os.environ[TRACE_DIR_ENV])
    from pyspark import daemon

    daemon.manager()
