"""Streaming replay sizing (streaming/runner.py): the source volume that
``stateful_shuffle_partitions`` sizes state partitions from is read
through the Hadoop FileSystem, so a filesystem URI counts the same
bytes as a bare local path instead of silently counting 0."""

from datafusion_geo_spark.streaming import runner
from datafusion_geo_spark.streaming.runner import (_source_bytes,
                                                   stateful_shuffle_partitions)


def _tree(tmp_path):
    (tmp_path / "part=1").mkdir()
    (tmp_path / "a.parquet").write_bytes(b"x" * 1000)
    (tmp_path / "part=1" / "b.parquet").write_bytes(b"y" * 2345)
    return 3345


def test_source_bytes_file_uri(spark, tmp_path):
    want = _tree(tmp_path)
    assert _source_bytes(spark, tmp_path.as_uri()) == want
    assert _source_bytes(spark, str(tmp_path)) == want


def test_source_bytes_sums_paths_and_skips_missing(spark, tmp_path):
    want = _tree(tmp_path)
    one = (tmp_path / "a.parquet").as_uri()
    assert _source_bytes(spark, tmp_path.as_uri(), one) == want + 1000
    assert _source_bytes(spark, (tmp_path / "missing").as_uri()) == 0



class _ObjectStoreFS:
    """Hadoop FileSystem stand-in for an object-store bucket: one
    96 MiB prefix, nothing else."""

    SIZES = {"s3a://bucket/events": 96 << 20}

    class _Summary:
        def __init__(self, n):
            self._n = n

        def getLength(self):
            return self._n

    def exists(self, p):
        return p in self.SIZES

    def getContentSummary(self, p):
        return self._Summary(self.SIZES[p])


def test_object_store_source_gets_more_than_one_partition(spark,
                                                          monkeypatch):
    monkeypatch.setattr(runner, "fs_for",
                        lambda _spark, p: (_ObjectStoreFS(), p))
    got = stateful_shuffle_partitions(spark, "s3a://bucket/events")
    assert got == min(3, spark.sparkContext.defaultParallelism)
    assert got > 1
