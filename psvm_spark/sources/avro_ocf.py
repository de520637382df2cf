"""Python DataSource (Spark 4 API) for Avro Object Container Files.

This container ships Spark without the external ``spark-avro`` module
(``format("avro")`` raises DATA_SOURCE_NOT_FOUND — probed round 11), so
the second ROW-oriented interchange format is implemented against the
public Avro 1.12 specification (https://avro.apache.org/docs/1.12.0/
specification/): magic ``Obj\\x01``, file-metadata map carrying the
embedded JSON schema and codec, 16-byte sync marker, then data blocks of
``(count, byte_size, records..., sync)`` with zigzag-varint longs,
little-endian IEEE doubles/floats, and length-prefixed UTF-8 strings /
bytes.  Codec ``null`` (uncompressed) and ``deflate`` are supported on
read; writes emit ``null``.

Supported schema subset (the engine's fixture surface): records of
``boolean / int / long / float / double / string / bytes``, the
``date`` (int) and ``timestamp-micros`` (long) logical types, nullable
``["null", T]`` unions, and arrays of those primitives.  The reader
infers the Spark schema from the FIRST file's embedded Avro schema —
no side-channel schema option needed, exactly how the JVM module
behaves.

Interop is proven against the REFERENCE JVM implementation, not just
self-roundtrip: ``avro-1.12.1.jar`` ships on Spark's own classpath, so
tests decode files written by this source with
``org.apache.avro.file.DataFileReader`` + ``GenericDatumReader`` via
py4j, and read JVM-written files back through this source
(tests/test_operators.py::TestAvroOcf).

The classes are defined inside :func:`make_datasource` so cloudpickle
serializes them BY VALUE (Spark's Python workers do not have this repo
on sys.path — same rule as libsvm_text.py).

At 100 TB the same pattern holds: one InputPartition per file (a
directory written by N tasks reads N-wide), the reader streams blocks
without materializing a file, and the writer emits one OCF shard per
task with an all-or-nothing ``_SUCCESS`` commit.
"""

from __future__ import annotations

MAGIC = b"Obj\x01"


def make_datasource():
    """Build the DataSource class hierarchy (pickled by value)."""
    import json

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceWriter,
        InputPartition,
        WriterCommitMessage,
    )
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        BooleanType,
        DateType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    magic = MAGIC

    # ---- spec primitives (encode) ------------------------------------
    def zigzag_encode(n: int) -> bytes:
        u = (n << 1) ^ (n >> 63)
        out = bytearray()
        while True:
            b = u & 0x7F
            u >>= 7
            if u:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    def enc_bytes(b: bytes) -> bytes:
        return zigzag_encode(len(b)) + b

    def enc_str(s: str) -> bytes:
        return enc_bytes(s.encode("utf-8"))

    # ---- spec primitives (decode) ------------------------------------
    def zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
        u, shift = 0, 0
        while True:
            b = buf[pos]
            pos += 1
            u |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (u >> 1) ^ -(u & 1), pos

    # ---- avro <-> spark schema mapping --------------------------------
    # (avro_type, logical) keyed; unions handled by the caller.
    _TO_SPARK = {
        ("boolean", None): BooleanType(),
        ("int", None): IntegerType(),
        ("int", "date"): DateType(),
        ("long", None): LongType(),
        ("long", "timestamp-micros"): TimestampType(),
        ("float", None): FloatType(),
        ("double", None): DoubleType(),
        ("string", None): StringType(),
        ("bytes", None): BinaryType(),
    }

    def avro_field_to_spark(ftype) -> tuple:
        """-> (SparkType, null_idx, decoder_key).  null_idx is the union
        branch index of "null" (None when not nullable) — the spec does
        NOT require null-first, and decoding must honor the file's own
        branch order (code-review r11).  decoder_key is the normalized
        (type, logical, item|None) tuple used at read."""
        null_idx = None
        if isinstance(ftype, list):  # union — only 2-branch with null
            branches = [t for t in ftype if t != "null"]
            if len(branches) != 1 or "null" not in ftype:
                raise ValueError(f"avro_ocf: unsupported union {ftype!r}")
            null_idx = ftype.index("null")
            ftype = branches[0]
        if isinstance(ftype, dict) and ftype.get("type") == "array":
            item_spark, item_null_idx, item_key = avro_field_to_spark(
                ftype["items"]
            )
            return (
                ArrayType(item_spark, containsNull=item_null_idx is not None),
                null_idx,
                ("array", None, (item_key, item_null_idx)),
            )
        if isinstance(ftype, dict):
            key = (ftype.get("type"), ftype.get("logicalType"))
        else:
            key = (ftype, None)
        if key not in _TO_SPARK:
            raise ValueError(f"avro_ocf: unsupported avro type {ftype!r}")
        return _TO_SPARK[key], null_idx, key + (None,)

    def spark_field_to_avro(dt, name: str):
        """-> (avro type json fragment, encoder_key)."""
        m = {
            BooleanType(): ("boolean", ("boolean", None, None)),
            IntegerType(): ("int", ("int", None, None)),
            DateType(): (
                {"type": "int", "logicalType": "date"},
                ("int", "date", None),
            ),
            LongType(): ("long", ("long", None, None)),
            TimestampType(): (
                {"type": "long", "logicalType": "timestamp-micros"},
                ("long", "timestamp-micros", None),
            ),
            FloatType(): ("float", ("float", None, None)),
            DoubleType(): ("double", ("double", None, None)),
            StringType(): ("string", ("string", None, None)),
            BinaryType(): ("bytes", ("bytes", None, None)),
        }
        if isinstance(dt, ArrayType):
            item_json, item_key = spark_field_to_avro(dt.elementType, name)
            if dt.containsNull:
                item_json = ["null", item_json]
            return (
                {"type": "array", "items": item_json},
                ("array", None, (item_key, 0 if dt.containsNull else None)),
            )
        if dt in m:
            return m[dt]
        raise ValueError(f"avro_ocf: unsupported spark type {dt} for {name}")

    # ---- per-type value codecs ----------------------------------------
    import struct as _struct

    def encode_value(key, v) -> bytes:
        t = key[0]
        if t == "boolean":
            return b"\x01" if v else b"\x00"
        if t in ("int", "long"):
            if key[1] == "date":
                import datetime

                v = (v - datetime.date(1970, 1, 1)).days
            elif key[1] == "timestamp-micros":
                import calendar
                import datetime

                # naive datetimes are taken as UTC wall clock (the
                # engine pins the session timezone to UTC, so this is
                # also the correct instant); aware ones normalize first
                if v.tzinfo is not None:
                    v = v.astimezone(datetime.timezone.utc).replace(
                        tzinfo=None
                    )
                v = (
                    calendar.timegm(v.timetuple()) * 1_000_000
                    + v.microsecond
                )
            return zigzag_encode(int(v))
        if t == "float":
            return _struct.pack("<f", v)
        if t == "double":
            return _struct.pack("<d", v)
        if t == "string":
            return enc_str(v)
        if t == "bytes":
            return enc_bytes(bytes(v))
        if t == "array":
            item_key, item_null_idx = key[2]
            out = bytearray()
            items = list(v)
            if items:
                out += zigzag_encode(len(items))
                for it in items:
                    # spec: a ["null", T] item is union-branch-prefixed;
                    # the WRITER always emits null-first (null_idx 0)
                    if item_null_idx is not None:
                        if it is None:
                            out += zigzag_encode(0)
                            continue
                        out += zigzag_encode(1)
                    elif it is None:
                        raise ValueError("avro_ocf: null array item")
                    out += encode_value(item_key, it)
            out += zigzag_encode(0)
            return bytes(out)
        raise ValueError(f"avro_ocf: cannot encode {key!r}")

    def decode_value(key, buf: bytes, pos: int):
        t = key[0]
        if t == "boolean":
            return buf[pos] == 1, pos + 1
        if t in ("int", "long"):
            v, pos = zigzag_decode(buf, pos)
            if key[1] == "date":
                import datetime

                return (
                    datetime.date(1970, 1, 1) + datetime.timedelta(days=v),
                    pos,
                )
            if key[1] == "timestamp-micros":
                import datetime

                # NAIVE UTC out, mirroring the naive-in rule above: the
                # write/read pair is the identity on naive values, and
                # Spark re-interprets the naive value in the (UTC)
                # session zone — the correct instant
                return (
                    datetime.datetime(1970, 1, 1)
                    + datetime.timedelta(microseconds=v),
                    pos,
                )
            return v, pos
        if t == "float":
            return _struct.unpack_from("<f", buf, pos)[0], pos + 4
        if t == "double":
            return _struct.unpack_from("<d", buf, pos)[0], pos + 8
        if t in ("string", "bytes"):
            n, pos = zigzag_decode(buf, pos)
            raw = buf[pos : pos + n]
            return (raw.decode("utf-8") if t == "string" else raw), pos + n
        if t == "array":
            item_key, item_null_idx = key[2]
            out = []
            while True:
                cnt, pos = zigzag_decode(buf, pos)
                if cnt == 0:
                    return out, pos
                if cnt < 0:  # block-size-prefixed form (spec-legal)
                    cnt = -cnt
                    _, pos = zigzag_decode(buf, pos)
                for _ in range(cnt):
                    if item_null_idx is not None:
                        idx, pos = zigzag_decode(buf, pos)
                        if idx == item_null_idx:
                            out.append(None)
                            continue
                    v, pos = decode_value(item_key, buf, pos)
                    out.append(v)
        raise ValueError(f"avro_ocf: cannot decode {key!r}")

    # ---- OCF header ----------------------------------------------------
    def zigzag_read(fh) -> int:
        """Decode one zigzag varint with byte-at-a-time reads."""
        u, shift = 0, 0
        while True:
            b = fh.read(1)
            if not b:
                raise ValueError("avro_ocf: truncated varint")
            u |= (b[0] & 0x7F) << shift
            if not b[0] & 0x80:
                return (u >> 1) ^ -(u & 1)
            shift += 7

    def read_header(fh) -> tuple[dict, bytes]:
        """-> (metadata dict, sync marker); fh positioned at first block.

        Bounded incremental reads — the header is a few hundred bytes;
        slurping the rest of the file here doubled every task's I/O and
        made driver-side schema inference load a whole shard
        (code-review r11)."""
        if fh.read(4) != magic:
            raise ValueError("avro_ocf: bad magic (not an OCF file)")
        meta: dict[str, bytes] = {}
        while True:
            cnt = zigzag_read(fh)
            if cnt == 0:
                break
            if cnt < 0:
                cnt = -cnt
                zigzag_read(fh)  # byte size of the metadata block
            for _ in range(cnt):
                k = fh.read(zigzag_read(fh)).decode("utf-8")
                meta[k] = fh.read(zigzag_read(fh))
        sync = fh.read(16)
        return meta, sync

    def parse_schema(meta: dict):
        """-> (field names, decoder key per field incl. nullability)."""
        schema = json.loads(meta["avro.schema"].decode("utf-8"))
        if schema.get("type") != "record":
            raise ValueError("avro_ocf: top-level schema must be a record")
        names, keys, spark_fields = [], [], []
        for f in schema["fields"]:
            spark_t, null_idx, key = avro_field_to_spark(f["type"])
            names.append(f["name"])
            keys.append((key, null_idx))
            spark_fields.append(
                StructField(f["name"], spark_t, null_idx is not None)
            )
        return names, keys, StructType(spark_fields)

    class _FilePartition(InputPartition):
        def __init__(self, path: str):
            self.path = path

    def _list_files(options) -> list[str]:
        import glob
        import os

        path = options.get("path")
        if not path:
            raise ValueError("avro_ocf: 'path' option is required")
        files = sorted(
            glob.glob(os.path.join(path, "*"))
            if os.path.isdir(path)
            else glob.glob(path)
        )
        return [
            f
            for f in files
            if os.path.isfile(f) and not f.endswith((".crc", "_SUCCESS"))
        ]

    class AvroOcfReader(DataSourceReader):
        def __init__(self, options):
            self._files = _list_files(options)
            # Pin the first file's schema as the directory contract so a
            # heterogeneous directory raises instead of yielding silently
            # misaligned tuples (schema() infers from the first file only;
            # ADVICE r11).  (names, decoder keys) is the full decode shape.
            self._ref_sig = None
            self._ref_file = ""
            if self._files:
                with open(self._files[0], "rb") as fh:
                    meta, _ = read_header(fh)
                names, keys, _ = parse_schema(meta)
                self._ref_sig = (tuple(names), tuple(keys))
                self._ref_file = self._files[0]

        def partitions(self):
            return [_FilePartition(f) for f in self._files] or [
                _FilePartition("")
            ]

        def read(self, partition):
            if not partition.path:
                return
            import zlib

            with open(partition.path, "rb") as fh:
                meta, sync = read_header(fh)
                names, keys, _ = parse_schema(meta)
                if (tuple(names), tuple(keys)) != self._ref_sig:
                    raise ValueError(
                        "avro_ocf: file schema mismatch — "
                        f"{partition.path} does not match the directory "
                        f"schema inferred from {self._ref_file}"
                    )
                codec = meta.get("avro.codec", b"null").decode()
                if codec not in ("null", "deflate"):
                    raise ValueError(f"avro_ocf: unsupported codec {codec}")
                while True:
                    head = fh.read(1)
                    if not head:
                        return
                    # re-join the varint we already split (two longs are
                    # at most 10 bytes each)
                    buf = head + fh.read(19)
                    n_obj, p = zigzag_decode(buf, 0)
                    n_bytes, p = zigzag_decode(buf, p)
                    fh.seek(p - len(buf), 1)
                    block = fh.read(n_bytes)
                    if codec == "deflate":
                        block = zlib.decompress(block, -15)
                    if fh.read(16) != sync:
                        raise ValueError("avro_ocf: sync marker mismatch")
                    pos = 0
                    for _ in range(n_obj):
                        row = []
                        for key, null_idx in keys:
                            if null_idx is not None:
                                idx, pos = zigzag_decode(block, pos)
                                if idx == null_idx:
                                    row.append(None)
                                    continue
                            v, pos = decode_value(key, block, pos)
                            row.append(v)
                        yield tuple(row)

    class _Committed(WriterCommitMessage):
        def __init__(self, path: str, n_rows: int):
            self.path = path
            self.n_rows = n_rows

    class AvroOcfWriter(DataSourceWriter):
        """One OCF shard per task; deterministic sync marker derived
        from the shard name (content-addressable output, no RNG in the
        data path); _SUCCESS written only after every task commits."""

        def __init__(self, options, overwrite: bool, schema):
            import os
            import shutil

            self._path = options.get("path")
            if not self._path:
                raise ValueError("avro_ocf: 'path' option is required")
            if overwrite and os.path.isdir(self._path):
                shutil.rmtree(self._path)
            elif not overwrite and os.path.isdir(self._path) and any(
                not f.endswith((".crc", "_SUCCESS"))
                for f in os.listdir(self._path)
            ):
                # Shard names are partition-id-deterministic, so a second
                # non-overwrite save would silently clobber prior shards
                # (ADVICE r11) — refuse instead of corrupting the dataset.
                raise ValueError(
                    "avro_ocf: target directory is non-empty; only "
                    "mode('overwrite') is supported for existing output"
                )
            fields, self._enc_keys = [], []
            for f in schema.fields:
                type_json, key = spark_field_to_avro(f.dataType, f.name)
                if f.nullable:
                    type_json = ["null", type_json]
                fields.append({"name": f.name, "type": type_json})
                # writer schema is always null-first -> null_idx 0
                self._enc_keys.append((key, 0 if f.nullable else None))
            self._schema_json = json.dumps(
                {"type": "record", "name": "psvm_row", "fields": fields}
            )

        def write(self, iterator):
            import hashlib
            import os

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            os.makedirs(self._path, exist_ok=True)
            out = os.path.join(self._path, f"part-{pid:05d}.avro")
            sync = hashlib.md5(out.encode()).digest()
            header = bytearray(magic)
            header += zigzag_encode(2)
            header += enc_str("avro.schema") + enc_str(self._schema_json)
            header += enc_str("avro.codec") + enc_str("null")
            header += zigzag_encode(0)
            header += sync
            # flush a data block every ~1 MB instead of buffering the
            # whole partition in memory (spec allows any block split;
            # code-review r11) — memory stays bounded at any shard size
            block_limit = 1 << 20
            n = 0
            with open(out, "wb") as fh:
                fh.write(bytes(header))
                body = bytearray()
                n_block = 0

                def flush():
                    nonlocal body, n_block
                    if n_block:
                        fh.write(zigzag_encode(n_block))
                        fh.write(zigzag_encode(len(body)))
                        fh.write(bytes(body))
                        fh.write(sync)
                        body = bytearray()
                        n_block = 0

                for row in iterator:
                    for (key, null_idx), v in zip(self._enc_keys, row):
                        if null_idx is not None:
                            if v is None:
                                body += zigzag_encode(0)
                                continue
                            body += zigzag_encode(1)
                        elif v is None:
                            raise ValueError(
                                "avro_ocf: NULL in non-nullable field"
                            )
                        body += encode_value(key, v)
                    n_block += 1
                    n += 1
                    if len(body) >= block_limit:
                        flush()
                flush()
            return _Committed(out, n)

        def commit(self, messages):
            import os

            with open(os.path.join(self._path, "_SUCCESS"), "w") as fh:
                fh.write(str(sum(m.n_rows for m in messages)))

        def abort(self, messages):
            import os

            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

    class AvroOcfDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "avro_ocf"

        def schema(self):
            # spec-true inference: the schema travels IN the file header
            files = _list_files(self.options)
            if not files:
                raise ValueError(
                    "avro_ocf: cannot infer schema from an empty directory"
                )
            with open(files[0], "rb") as fh:
                meta, _ = read_header(fh)
            _, _, spark_schema = parse_schema(meta)
            return spark_schema

        def reader(self, schema):  # noqa: ARG002 - schema from header
            return AvroOcfReader(self.options)

        def writer(self, schema, overwrite):
            return AvroOcfWriter(self.options, overwrite, schema)

    return AvroOcfDataSource


def register(spark) -> None:
    spark.dataSource.register(make_datasource())
