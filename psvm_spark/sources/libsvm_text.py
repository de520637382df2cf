"""Python DataSource (Spark 4 API) for LibSVM text files.

Spark's built-in ``libsvm`` source is JVM-side and returns MLlib vector
columns; this source demonstrates the *Python* DataSource V2 surface —
``DataSource`` + ``DataSourceReader`` with one ``InputPartition`` per
file, so a directory of N splits reads with N-way parallelism and each
executor parses only its own file.  Rows come back as plain
(label double, indices array<int>, values array<double>, n_features
int) — the engine's array-first convention (SURVEY.md §2 watch-list e),
no VectorUDT.

The classes are defined inside :func:`make_datasource` so cloudpickle
serializes them BY VALUE: Spark runs DataSource planning and reading in
separate Python worker processes that do not have this repo on their
``sys.path`` (the driver may be launched from any cwd), and a
by-reference pickle would fail to import ``psvm_spark`` there.

At 100 TB the same pattern holds: partitions() lists file splits from
the metastore/manifest, read() streams one split.  The reader keeps no
SparkSession state.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

SCHEMA = StructType(
    [
        StructField("label", DoubleType()),
        StructField("indices", ArrayType(IntegerType())),
        StructField("values", ArrayType(DoubleType())),
        StructField("n_features", IntegerType()),
    ]
)


def make_datasource():
    """Build the DataSource class hierarchy (pickled by value)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceWriter,
        InputPartition,
        WriterCommitMessage,
    )

    schema = SCHEMA

    class _FilePartition(InputPartition):
        def __init__(self, path: str):
            self.path = path

    class LibSVMTextReader(DataSourceReader):
        def __init__(self, options):
            import glob
            import os

            path = options.get("path")
            if not path:
                raise ValueError("libsvm_text: 'path' option is required")
            files = sorted(
                glob.glob(os.path.join(path, "*"))
                if os.path.isdir(path)
                else glob.glob(path)
            )
            self._files = [
                f
                for f in files
                if os.path.isfile(f) and not f.endswith((".crc", "_SUCCESS"))
            ]
            self._n_features = int(options.get("numFeatures", "0"))

        def partitions(self):
            # one split per file: a directory written by a distributed
            # job has one file per upstream task, preserving parallelism
            return [_FilePartition(f) for f in self._files] or [_FilePartition("")]

        def read(self, partition):
            if not partition.path:
                return
            with open(partition.path) as fh:
                for line in fh:
                    line = line.strip()
                    if not line or line.startswith("#"):
                        continue
                    parts = line.split()
                    label = float(parts[0])
                    idx: list[int] = []
                    vals: list[float] = []
                    for tok in parts[1:]:
                        i, v = tok.split(":", 1)
                        idx.append(int(i))
                        vals.append(float(v))
                    # 0 = "not declared", never a per-row guess: a
                    # max(idx) fallback would vary row to row and is
                    # off-by-one ambiguous for 1-based LibSVM indices.
                    yield (label, idx, vals, self._n_features)

    class _Committed(WriterCommitMessage):
        def __init__(self, path: str, n_rows: int):
            self.path = path
            self.n_rows = n_rows

    class LibSVMTextWriter(DataSourceWriter):
        """Executor-side writer: each task writes its own shard
        (``part-<pid>.libsvm``) — same layout a distributed text sink
        produces, so the reader's one-partition-per-file rule preserves
        the write parallelism on the way back in.  Input rows must be
        (label, indices, values, ...) as produced by the reader."""

        def __init__(self, options, overwrite: bool):
            import os
            import shutil

            self._path = options.get("path")
            if not self._path:
                raise ValueError("libsvm_text: 'path' option is required")
            if overwrite and os.path.isdir(self._path):
                shutil.rmtree(self._path)

        def write(self, iterator):
            import os

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            os.makedirs(self._path, exist_ok=True)
            out = os.path.join(self._path, f"part-{pid:05d}.libsvm")
            n = 0
            with open(out, "w") as fh:
                for row in iterator:
                    feats = " ".join(
                        f"{i}:{v}" for i, v in zip(row.indices, row.values)
                    )
                    fh.write(f"{row.label} {feats}\n".rstrip() + "\n")
                    n += 1
            return _Committed(out, n)

        def commit(self, messages):
            # all-or-nothing marker, mirroring Hadoop's _SUCCESS protocol
            import os

            with open(os.path.join(self._path, "_SUCCESS"), "w") as fh:
                fh.write(str(sum(m.n_rows for m in messages)))

        def abort(self, messages):
            import os

            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

    class LibSVMTextDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "libsvm_text"

        def schema(self):
            return schema

        def reader(self, schema):  # noqa: ARG002 - fixed schema source
            return LibSVMTextReader(self.options)

        def writer(self, schema, overwrite):  # noqa: ARG002
            return LibSVMTextWriter(self.options, overwrite)

    return LibSVMTextDataSource


def register(spark) -> None:
    spark.dataSource.register(make_datasource())
