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
