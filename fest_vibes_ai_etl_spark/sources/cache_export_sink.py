"""Custom Python DataSource WRITER: the cache-export sink (S10) as a
first-class ``df.write.format(...)`` target.

The reference materializes its query result into Redis with ``SETEX
events:{date}`` (/root/reference/src/shared/cache/redis_cache.py:194-216).
pipeline/cache_sink.py already covers the per-partition client shape;
this module expresses the same sink through Spark 4's DataSource writer
API, which buys the two things a per-partition client write cannot give:

- **exactly-once visibility**: each task writes its rows to a uniquely
  named JSON file and returns the name as its commit message; ONLY the
  driver-side ``commit()`` publishes a manifest listing the files of the
  successful attempt. Readers resolve the manifest, so files from failed /
  speculative / replayed task attempts are invisible garbage, never data.
- **engine-managed retries**: a failed task is re-run by Spark and its
  orphaned file is simply never committed (``abort()`` best-effort cleans).

Same constraint as listing_source.py: the classes are built inside a
factory so cloudpickle ships them BY VALue to planner/executor workers
(a module-level class pickled by reference dies with ModuleNotFoundError).

Batch ``writer()`` publishes ``_MANIFEST.json``; streaming
``streamWriter()`` publishes ``_MANIFEST-{epoch}.json`` per micro-batch.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


def make_cache_export_datasource():
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class FileMessage(WriterCommitMessage):
        def __init__(self, filename: str, n_rows: int):
            self.filename = filename
            self.n_rows = n_rows

    def write_partition_file(path: str, iterator) -> "FileMessage":
        import json as _json
        import os as _os
        import uuid as _uuid

        from pyspark import TaskContext

        ctx = TaskContext.get()
        name = f"part-{ctx.partitionId():05d}-{_uuid.uuid4().hex}.json"
        _os.makedirs(path, exist_ok=True)
        n = 0
        with open(_os.path.join(path, name), "w") as f:
            for row in iterator:
                f.write(_json.dumps(row.asDict(recursive=True), default=str))
                f.write("\n")
                n += 1
        return FileMessage(name, n)

    def publish(path: str, manifest_name: str, messages) -> None:
        import json as _json
        import os as _os

        files = [
            {"file": m.filename, "rows": m.n_rows} for m in messages if m
        ]
        files.sort(key=lambda d: d["file"])
        body = {"files": files, "total_rows": sum(d["rows"] for d in files)}
        tmp = _os.path.join(path, f".{manifest_name}.tmp")
        with open(tmp, "w") as f:
            _json.dump(body, f)
        _os.replace(tmp, _os.path.join(path, manifest_name))

    def unpublished_cleanup(path: str, messages) -> None:
        import os as _os

        for m in messages:
            if m is not None:
                try:
                    _os.remove(_os.path.join(path, m.filename))
                except OSError:
                    pass

    class CacheBatchWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            return write_partition_file(self.path, iterator)

        def commit(self, messages):
            publish(self.path, "_MANIFEST.json", messages)

        def abort(self, messages):
            unpublished_cleanup(self.path, messages)

    class CacheStreamWriter(DataSourceStreamWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            return write_partition_file(self.path, iterator)

        def commit(self, messages, batchId):
            publish(self.path, f"_MANIFEST-{batchId}.json", messages)

        def abort(self, messages, batchId):
            unpublished_cleanup(self.path, messages)

    class CacheExportDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "festvibes_cache"

        def writer(self, schema, overwrite: bool):
            return CacheBatchWriter(self.options)

        def streamWriter(self, schema, overwrite: bool):
            return CacheStreamWriter(self.options)

    return CacheExportDataSource


CacheExportDataSource = make_cache_export_datasource()


def register(spark: SparkSession) -> None:
    spark.dataSource.register(CacheExportDataSource)


def read_cache_export(spark: SparkSession, path: str) -> DataFrame:
    """Read back ONLY manifest-committed files (uncommitted attempt files
    are invisible). Union of the batch manifest and any stream epochs."""
    committed: list[str] = []
    for name in sorted(os.listdir(path)):
        if name.startswith("_MANIFEST") and name.endswith(".json"):
            with open(os.path.join(path, name)) as f:
                committed += [
                    os.path.join(path, d["file"]) for d in json.load(f)["files"]
                ]
    if not committed:
        return spark.createDataFrame([], "dummy string")
    return spark.read.json(committed)
