"""Python DataSource with FILTER PUSHDOWN (Spark 4.1 ``pushFilters``).

The libsvm/avro sources read every file and let Spark filter rows; this
source demonstrates the 4.1 reader-pushdown surface: Catalyst hands the
reader the conjunctive filter list once at planning time, the reader
claims the ones its layout can answer — segment equality / IN against
a ``seg=<value>.csv`` per-segment file layout — prunes its file list,
and RETURNS the rest for Spark to apply post-scan (residuals).  The
pruning is observable from the outside: ``partitions()`` runs after
``pushFilters``, so the scan's RDD partition count IS the pruned file
count (pinned in tests/test_operators.py::TestPydsFilterPushdown).

Two probed contracts are encoded here:

- ``pushFilters`` must derive the pruned list from an IMMUTABLE full
  list each call — the reader instance is reused across plannings of
  the same loaded DataFrame, so mutating the only copy leaks one
  query's pruning into the next (found by probing this build).
- Pushdown is gated by ``spark.sql.python.filterPushdown.enabled``;
  when off, ``pushFilters`` is simply never called and every file is
  scanned — the source stays correct either way, only the pruning is
  lost.

Classes are built inside :func:`make_datasource` for by-value
cloudpickle (the libsvm_text.py rule).  At 100 TB this is the shape of
any partition-aware external source: the layout answers the partition
predicate, Spark answers the rest.
"""

from __future__ import annotations

from pyspark.sql.types import LongType, StringType, StructField, StructType

SCHEMA = StructType(
    [
        StructField("segment", StringType()),
        StructField("c_custkey", LongType()),
        StructField("bal_c", LongType()),
    ]
)


def make_datasource():
    """Build the DataSource class hierarchy (pickled by value)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        In,
        InputPartition,
    )

    schema = SCHEMA

    def _seg_of(path: str) -> str:
        return path.rsplit("seg=", 1)[1].rsplit(".csv", 1)[0]

    class _FilePartition(InputPartition):
        def __init__(self, path: str):
            self.path = path

    class SegmentedCsvReader(DataSourceReader):
        def __init__(self, options):
            import glob
            import os

            path = options.get("path")
            if not path:
                raise ValueError("segmented_csv: 'path' option is required")
            self._all = sorted(
                f
                for f in glob.glob(os.path.join(path, "seg=*.csv"))
                if os.path.isfile(f)
            )
            self._files = list(self._all)

        def pushFilters(self, filters):
            # start from the immutable full list EVERY call: the reader
            # object is reused across plannings, and pruning must not
            # accumulate across unrelated queries
            kept, files = [], list(self._all)
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == ("segment",):
                    files = [p for p in files if _seg_of(p) == f.value]
                elif isinstance(f, In) and f.attribute == ("segment",):
                    vals = set(f.value)  # In.value is the tuple of values
                    files = [p for p in files if _seg_of(p) in vals]
                else:
                    kept.append(f)  # residual: Spark applies it post-scan
            self._files = files
            return kept

        def partitions(self):
            # called after pushFilters: partition count == pruned files
            return [_FilePartition(p) for p in self._files] or [
                _FilePartition("")
            ]

        def read(self, partition):
            if not partition.path:
                return
            seg = _seg_of(partition.path)
            with open(partition.path) as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    k, b = line.split(",")
                    yield (seg, int(k), int(b))

    class SegmentedCsvDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "segmented_csv"

        def schema(self):
            return schema

        def reader(self, schema):  # noqa: ARG002 - fixed schema source
            return SegmentedCsvReader(self.options)

    return SegmentedCsvDataSource


def register(spark) -> None:
    spark.dataSource.register(make_datasource())
