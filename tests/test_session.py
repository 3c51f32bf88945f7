"""Session factory: tuned defaults must not depend on Spark-internal
class paths that a Spark upgrade can move."""

CKPT_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def test_bogus_checkpoint_manager_falls_back(spark, tmp_path, monkeypatch):
    """An unloadable checkpoint-manager class is not installed: the
    session keeps a loadable manager and a checkpointed streaming query
    still runs."""
    from parquet_playground_rs_spark.session import get_spark

    bogus = "org.example.NoSuchCheckpointFileManager"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_MANAGER", bogus)
    s = get_spark(app="tests", cores=4, shuffle_partitions=4,
                  driver_mem="8g")
    assert s.conf.get(CKPT_CONF, None) != bogus
    src = str(tmp_path / "in")
    s.range(5).write.parquet(src)
    q = (s.readStream.schema("id long").parquet(src)
         .writeStream.format("memory").queryName("ckpt_fallback")
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert s.table("ckpt_fallback").count() == 5


def test_python_workers_keep_zip_directories_across_tasks(spark):
    """Every Python task runs through the engine's worker entry, and a
    worker that serves several tasks keeps its pyspark.zip importer's
    directory instead of re-reading it per task."""
    from parquet_playground_rs_spark.session import WORKER_MODULE

    def probe(batches):
        import os
        import sys

        import pyarrow as pa

        for _ in batches:
            pass
        (files_id,) = [id(finder._files) for path, finder
                       in sys.path_importer_cache.items()
                       if path.endswith("pyspark.zip")]
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "module": [sys.argv[1]],
            "files_id": [files_id]})

    rows = [spark.range(1, numPartitions=1)
            .mapInArrow(probe, "pid long, module string, files_id long")
            .collect()[0] for _ in range(10)]
    assert {r["module"] for r in rows} == {WORKER_MODULE}
    by_pid: dict[int, set[int]] = {}
    for r in rows:
        by_pid.setdefault(r["pid"], set()).add(r["files_id"])
    assert len(by_pid) < len(rows)  # some worker served two tasks or more
    assert all(len(ids) == 1 for ids in by_pid.values()), by_pid


def test_arrow_batches_into_a_map_are_byte_capped(spark):
    """A mapInArrow over a few hundred long documents in one partition
    gets several batches, none more than one row over the byte cap."""
    from pyspark.sql import functions as F

    from parquet_playground_rs_spark.session import ENGINE_CONFS

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    cap = int(ENGINE_CONFS[key])
    assert int(spark.conf.get(key)) == cap
    docs = spark.range(300, numPartitions=1).select(
        F.col("id").cast("string").alias("doc_id"),
        F.sequence(F.lit(0), F.lit(1999) + F.col("id") % 7).alias("tokens"))

    def probe(batches):
        import pyarrow as pa

        for b in batches:
            yield pa.RecordBatch.from_pydict({
                "rows": [b.num_rows],
                "bytes_before_last_row": [b.slice(0, b.num_rows - 1).nbytes]})

    got = docs.mapInArrow(probe, "rows long, bytes_before_last_row long") \
        .collect()
    assert sum(r["rows"] for r in got) == 300
    assert len(got) > 1
    assert all(r["bytes_before_last_row"] <= cap for r in got), got
