"""Bounded sources and batch sinks (SURVEY §2.1).

The reference's bounded-input surface is `createInput(InputFormat)` +
the format modules (ref: flink-core/src/main/java/org/apache/flink/api/
common/io/FileInputFormat.java, flink-formats/{flink-csv,flink-json,
flink-avro,flink-parquet,flink-orc}/), and `fromElements`/
`fromCollection` (ref: flink-streaming-java/.../StreamExecutionEnvironment
.java:824,892). Spark's DataSource V2 readers provide every format
natively with split-based parallel scans, predicate pushdown and column
pruning — so each reader here is a thin, typed wrapper that keeps those
properties intact.

Scale notes: readers return *lazy* DataFrames — no materialization, so
filters/projections composed later still reach the scan. Writers default
to snappy parquet and accept `partition_by` for directory-partitioned
layouts (the 100 TB layout primitive: partition pruning at read time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def from_elements(spark: SparkSession, rows, schema=None) -> DataFrame:
    """In-memory bounded source (ref: StreamExecutionEnvironment.java:824
    fromElements; StreamExecValues.scala VALUES)."""
    return spark.createDataFrame(rows, schema=schema)


def read_parquet(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    delimiter: str = ",",
    infer_schema: bool = False,
) -> DataFrame:
    """CSV scan (ref: flink-formats/flink-csv/, GenericCsvInputFormat).
    Explicit schema preferred at scale — schema inference is an extra
    full pass over the data."""
    reader = (
        spark.read.option("header", header)
        .option("delimiter", delimiter)
        .option("inferSchema", infer_schema)
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines scan (ref: flink-formats/flink-json/)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (ref: flink-formats/flink-orc/ vectorized reader — Spark's
    ORC reader is likewise vectorized + pushdown-capable)."""
    return spark.read.orc(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented scan (ref: StreamExecutionEnvironment.readTextFile
    :1062) → single `value` string column."""
    return spark.read.text(path)


def read_avro(
    spark: SparkSession, path: str, split_bytes: int = 32 << 20
) -> DataFrame:
    """Avro scan (ref: flink-formats/flink-avro/AvroInputFormat.java).

    Prefers Spark's native `format("avro")` datasource (vectorized,
    splittable) when the spark-avro jar is on the classpath; otherwise
    falls back to the pure-Python spec implementation in `avro_py` —
    SPLITTABLE like the reference: container files larger than
    ``split_bytes`` are cut into byte-range splits resolved to whole
    blocks via the sync-marker protocol (`avro_py.read_container_split`),
    one task per split, so a single multi-GB container still scans with
    full cluster parallelism.  Small files get one task each."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:
        if not _is_missing_avro_datasource(exc):
            raise  # real read error from the native path — surface it
    from . import avro_py

    import glob as _glob
    import os as _os

    if _os.path.isdir(path):
        files = sorted(_glob.glob(_os.path.join(path, "*.avro")))
        if not files:
            raise FileNotFoundError(f"no .avro files under {path}")
    else:
        files = [path]
    avro_schema, _codec, _sync, _hl = avro_py.read_header(files[0])
    spark_schema = avro_py.avro_to_spark_schema(avro_schema)
    cols = [f.name for f in spark_schema.fields]
    # driver-side split planning is metadata-scale: one (path, lo, hi)
    # triple per split_bytes of file
    splits: list[tuple[str, int, int]] = []
    for f in files:
        size = _os.path.getsize(f)
        lo = 0
        while True:
            hi = lo + split_bytes
            if hi >= size:
                splits.append((f, lo, size))
                break
            splits.append((f, lo, hi))
            lo = hi

    def _read_split(t):
        _, rows = avro_py.read_container_split(t[0], t[1], t[2])
        return [tuple(d[c] for c in cols) for d in rows]

    rdd = spark.sparkContext.parallelize(splits, len(splits)).flatMap(_read_split)
    return spark.createDataFrame(rdd, schema=spark_schema)


def _is_missing_avro_datasource(exc: Exception) -> bool:
    """True only for the 'spark-avro jar not on the classpath' error —
    anything else (corrupt file, permissions, disk full) must surface,
    not silently fall through to the Python codec."""
    msg = str(exc)
    return "avro" in msg.lower() and (
        "Failed to find" in msg
        or "FAILED_FIND_DATA_SOURCE" in msg
        or "DATA_SOURCE_NOT_FOUND" in msg
        or "Please find packages" in msg
    )


def write_avro(df: DataFrame, path: str, mode: str = "overwrite", codec: str = "deflate"):
    """Avro sink (ref: flink-formats/flink-avro/AvroOutputFormat.java).

    Native `format("avro")` when the jar is present; otherwise the
    pure-Python fallback writes one container file per partition from
    executors (posix-visible paths — object stores need the jar path)."""
    try:
        # spark-avro spells the spec's "null" codec "uncompressed"
        native_codec = "uncompressed" if codec == "null" else codec
        df.write.mode(mode).format("avro").option(
            "compression", native_codec
        ).save(path)
        return
    except Exception as exc:
        if not _is_missing_avro_datasource(exc):
            raise  # real write error from the native path — surface it
    import os as _os
    import shutil as _shutil

    from . import avro_py

    if _os.path.exists(path):
        if mode == "overwrite":
            _shutil.rmtree(path)
        elif mode in ("error", "errorifexists"):
            raise FileExistsError(path)
        elif mode == "ignore":
            return
    _os.makedirs(path, exist_ok=True)
    offset = len([f for f in _os.listdir(path) if f.endswith(".avro")])  # append-safe naming
    avro_schema = avro_py.spark_to_avro_schema(df.schema)

    def _write_part(idx, it):
        rows = [r.asDict(recursive=True) for r in it]
        if rows:
            avro_py.write_container(
                _os.path.join(path, f"part-{offset + idx:05d}.avro"), avro_schema, rows, codec=codec
            )
        return iter(())

    df.rdd.mapPartitionsWithIndex(_write_part).count()
    if not any(f.endswith(".avro") for f in _os.listdir(path)):
        # empty input: write a rows-less container so read_avro returns
        # an empty frame with the right schema (parquet-like behavior)
        avro_py.write_container(
            _os.path.join(path, "part-00000.avro"), avro_schema, [], codec=codec
        )


def _write(df: DataFrame, mode: str, partition_by):
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None):
    """Parquet sink. The task-commit protocol gives all-or-nothing
    visibility per job — the batch analog of the reference's
    StreamingFileSink part-file + commit lifecycle."""
    _write(df, mode, partition_by).parquet(path)


def write_csv(
    df: DataFrame, path: str, mode: str = "overwrite", header: bool = True, partition_by=None
):
    """CSV sink (ref: DataStream.writeAsCsv DataStream.java:1117)."""
    _write(df, mode, partition_by).option("header", header).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None):
    _write(df, mode, partition_by).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None):
    _write(df, mode, partition_by).orc(path)


def write_text(df: DataFrame, path: str, mode: str = "overwrite", compression: str | None = None):
    """Text sink (ref: DataStream.writeAsText DataStream.java:1071) —
    expects a single string column.  `compression` ('gzip', 'bzip2',
    'deflate', …) maps the reference's flink-compress
    writers; the matching read side is transparent (spark.read.text
    decompresses by file extension)."""
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.text(path)


def read_sequence_file(spark: SparkSession, path: str) -> DataFrame:
    """Hadoop SequenceFile scan → (key string, value string) DataFrame
    (ref: flink-formats/flink-sequence-file/).

    One of the rare legitimate RDD paths (SURVEY §7.0): Spark has no
    DataFrame SequenceFile source, so this goes through
    ``sc.sequenceFile`` and converts.  Splits/partitions come from the
    Hadoop InputFormat, so parallelism at 100 TB matches the file's
    block layout exactly as a native DataFrame scan would."""
    rdd = spark.sparkContext.sequenceFile(path)
    return spark.createDataFrame(rdd, schema="key string, value string")


def write_sequence_file(df: DataFrame, path: str):
    """SequenceFile sink for a 2-column (key, value) DataFrame — both
    cast to strings (Hadoop Text) for portability."""
    cols = df.columns
    if len(cols) != 2:
        raise ValueError("write_sequence_file expects exactly (key, value) columns")
    rdd = df.select(
        df[cols[0]].cast("string"), df[cols[1]].cast("string")
    ).rdd.map(tuple)
    rdd.saveAsSequenceFile(path)

