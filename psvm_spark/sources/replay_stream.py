"""Custom Python STREAMING DataSource: deterministic micro-batch replay
of the events table (Spark 4 SimpleDataSourceStreamReader API).

Replays ``events.parquet`` in ``batches`` equal row-chunks, one chunk
per micro-batch, with offsets {"i": chunk_index} — so a streaming
aggregation over this source exercises real multi-batch state updates
and its COMPLETE-mode final must equal the batch answer (stream/batch
equivalence with an exact DuckDB oracle).

The "simple" reader variant serves rows from the driver-side planning
process — right for replay/test feeds and low-volume control streams.
A 100 TB source would implement the partitioned
``DataSourceStreamReader`` instead: ``partitions(start, end)`` lists
file splits per batch and executors read them in parallel; the offset
and commit protocol is identical, so this replay source is the
semantics testbed for that path.

Classes are built function-locally so cloudpickle ships them by value
(see libsvm_text.py for why).
"""

from __future__ import annotations

from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def make_replay_source():
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    schema = SCHEMA

    class EventsReplayReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self._path = options.get("path")
            if not self._path:
                raise ValueError("events_replay: 'path' option is required")
            self._n_batches = int(options.get("batches", "5"))
            # optional deterministic subset: keep rows with
            # event_id % modulo == 0 (modulo=1 -> everything)
            self._modulo = int(options.get("modulo", "1"))
            self._rows = None  # lazy: loaded once in the planning process

        def _load(self):
            if self._rows is None:
                import pyarrow.parquet as pq

                t = pq.read_table(self._path, columns=["event_id", "event_type", "value"])
                m = self._modulo
                self._rows = [
                    row
                    for row in zip(
                        t.column("event_id").to_pylist(),
                        t.column("event_type").to_pylist(),
                        t.column("value").to_pylist(),
                    )
                    if m <= 1 or row[0] % m == 0
                ]
            return self._rows

        def initialOffset(self):
            return {"i": 0}

        def _chunk(self, i):
            rows = self._load()
            per = -(-len(rows) // self._n_batches)  # ceil
            return rows[i * per : (i + 1) * per]

        def read(self, start):
            i = start["i"]
            if i >= self._n_batches:
                return iter([]), {"i": i}
            return iter(self._chunk(i)), {"i": i + 1}

        def readBetweenOffsets(self, start, end):
            out = []
            for i in range(start["i"], end["i"]):
                out.extend(self._chunk(i))
            return iter(out)

    class EventsReplayDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "events_replay"

        def schema(self):
            return schema

        def simpleStreamReader(self, schema):  # noqa: ARG002 - fixed schema
            return EventsReplayReader(self.options)

    return EventsReplayDataSource


def register(spark) -> None:
    spark.dataSource.register(make_replay_source())
