"""Custom Python STREAMING sink (Spark 4 DataSourceStreamWriter).

The batch-writer twin (libsvm_text.py) proved the DSv2 Python write
path; this module exercises the STREAMING half of the API: per-batch
``write`` tasks emit shard files named by (epoch batchId, partition),
and ``commit`` publishes the batch by writing a ``_COMMIT-<batchId>``
marker — the same two-phase protocol JVM file sinks implement with
their file-manifest log.  A reader that only trusts marker-listed
batches gets exactly-once semantics across retries: an aborted batch
leaves orphan part files but no marker, and a re-run of the same
batchId overwrites deterministically.

Rows cross into the writer as plain ``Row`` objects; the sink encodes
them as JSONL (one object per line, sorted keys) so the read-back side
can use ``spark.read.json`` with an explicit schema.  At scale the
write parallelism is the streaming query's shuffle partitioning —
each task streams its iterator straight to disk, no buffering.
"""

from __future__ import annotations

SCHEMA = "event_id bigint, event_type string, value double"


def make_datasource():
    """Build the DataSource class hierarchy (pickled by value)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    class _Committed(WriterCommitMessage):
        def __init__(self, path: str, n_rows: int):
            self.path = path
            self.n_rows = n_rows

    class JsonlStreamWriter(DataSourceStreamWriter):
        def __init__(self, options):
            self._path = options.get("path")
            if not self._path:
                raise ValueError("jsonl_stream_sink: 'path' option is required")

        def write(self, iterator):
            import json
            import os

            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId()
            # The epoch id (streaming batchId) rides on the task-local
            # property Spark sets for DSv2 streaming writes.
            epoch = int(ctx.getLocalProperty("streaming.sql.batchId"))
            os.makedirs(self._path, exist_ok=True)
            out = os.path.join(self._path, f"batch-{epoch:05d}-part-{pid:05d}.jsonl")
            n = 0
            tmp = out + ".inprogress"
            with open(tmp, "w") as fh:
                for row in iterator:
                    fh.write(json.dumps(row.asDict(), sort_keys=True) + "\n")
                    n += 1
            os.replace(tmp, out)  # atomic publish of the task file
            return _Committed(out, n)

        def commit(self, messages, batchId):
            import json
            import os

            # The marker records the EXACT shard list of the winning
            # attempt: a crashed earlier attempt of this batch may have
            # left orphan part files under other partition ids, and a
            # marker that merely counted rows would make the reader
            # union orphans with the retry's files (duplicates — the
            # code-review catch).  Readers trust only listed files.
            marker = os.path.join(self._path, f"_COMMIT-{batchId:05d}")
            files = sorted(
                os.path.basename(m.path) for m in messages if m is not None
            )
            n_rows = sum(m.n_rows for m in messages if m is not None)
            tmp = marker + ".inprogress"
            with open(tmp, "w") as fh:
                json.dump({"n_rows": n_rows, "files": files}, fh)
            os.replace(tmp, marker)

        def abort(self, messages, batchId):
            import os

            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

    class JsonlStreamSinkDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "jsonl_stream_sink"

        def schema(self):
            return SCHEMA

        def streamWriter(self, schema, overwrite):  # noqa: ARG002
            return JsonlStreamWriter(self.options)

    return JsonlStreamSinkDataSource


def committed_files(path: str) -> list[str]:
    """Part files explicitly listed by a batch's commit marker.

    Only the marker's file list is trusted — never a directory glob of
    the batch prefix — so orphan shards from a crashed earlier attempt
    of the same batch id stay invisible (exactly-once read-back)."""
    import glob
    import json
    import os

    out: list[str] = []
    for marker in sorted(glob.glob(os.path.join(path, "_COMMIT-*"))):
        if marker.endswith(".inprogress"):
            continue  # a crashed/in-flight commit() — not committed
        with open(marker) as fh:
            manifest = json.load(fh)
        if not isinstance(manifest, dict):
            # pre-manifest marker format (bare row count): no shard
            # list to trust, so the batch is not readable exactly-once
            continue
        out.extend(os.path.join(path, name) for name in manifest["files"])
    return sorted(out)


def register(spark) -> None:
    spark.dataSource.register(make_datasource())
