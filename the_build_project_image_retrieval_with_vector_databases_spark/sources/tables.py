"""Parquet table loaders for the driver-generated fixtures (TESTDATA.md).

Parquet is the engine's canonical storage: columnar, schema-carrying,
min/max-stat'd — Catalyst pushes filters and prunes columns into the scan
(the ``.explain`` shows ``PushedFilters`` / ``ReadSchema``), which is the
scale story for a 100 TB corpus.
"""

from __future__ import annotations

import os
import re
from typing import Any, NamedTuple
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegralType,
    StringType,
    _parse_datatype_json_string,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-(sf_dir, table) READER SCHEMA cache. A bare
# ``spark.read.parquet(path)`` pays file listing + footer schema
# inference on EVERY call — measured ~0.11 s of fixed driver-side
# metadata work per load (vs ~0.02 s with an explicit schema), which a
# 100-query bench pays hundreds of times. The schema of a fixture table
# is immutable metadata, not a query result — caching it computes
# nothing ahead of time and every query still scans the parquet from
# disk. (Same idea as `spark.sql.hive.filesourcePartitionFileCacheSize`
# for listings — guide §6.)
_SCHEMA_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy — no scan yet).

    ``events.ts`` is parquet TIMESTAMP(NANOS) which Spark refuses by
    default; read it as nanos-long (legacy conf, runtime-settable) and
    rebuild a microsecond TimestampType via exact integer division so
    event-time operators (window/session) work natively. DuckDB reads the
    same file as TIMESTAMP_NS — ``floor(epoch(ts))``-style oracle
    arithmetic matches the truncation exactly.
    """
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    path = os.path.join(sf_dir, f"{name}.parquet")
    # the cache key carries the file's mtime+size, so a fixture
    # regenerated in-process with a different schema is read fresh
    # instead of silently decoded with the stale schema (one os.stat
    # per load — noise next to the ~0.1 s footer sniff saved)
    try:
        st = os.stat(path)
        key = (sf_dir, name, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (sf_dir, name)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(sch).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def table_row_count(sf_dir: str, name: str) -> int | None:
    """Exact row count of a fixture table from the parquet FOOTER — no
    Spark job, no scan. This is the measured corpus size the sizing
    knobs (``planes_for_corpus`` / ``k_for_corpus``) and the size-aware
    join pins key off: unlike Catalyst's static size estimate (compressed
    bytes, pre-explosion — the broadcast hazard the 100× sweep caught),
    a footer row count is a real measurement. Returns None when the path
    is missing or unreadable (callers fall back to a conservative pin)."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            total = 0
            for f in sorted(os.listdir(path)):
                if f.endswith(".parquet"):
                    total += pq.read_metadata(os.path.join(path, f)).num_rows
            return total
        return pq.read_metadata(path).num_rows
    except Exception:
        return None


# Partition-count cache for spread(), keyed by the ANALYZED plan's
# semanticHash. Without it ``getNumPartitions()`` pays full physical
# planning + RDD construction on EVERY call — measured ~60-130 ms of
# driver work per spread(), ~42 call sites. The count is pure layout
# metadata: it decides only whether a round-robin repartition is
# inserted, never what any query computes, so a stale entry (same plan
# hash after an in-place fixture rewrite — test fixtures use fresh tmp
# paths, so the hash normally changes) can at worst pick a suboptimal
# layout. A long-lived session (the serve loop) sees a new plan per
# query literal, so the cache evicts its oldest entry at
# ``_NPARTS_CACHE_MAX`` — 4,096 int pairs, well under 1 MB.
_NPARTS_CACHE: dict[int, int] = {}
_NPARTS_CACHE_MAX = 4096


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin repartition ONLY when the plan has fewer splits than
    cores (e.g. fixtures: one parquet file → one task, serializing all
    expression work onto 1 of 32 cores). On real cluster inputs the scan
    already has >= defaultParallelism splits and this is an exact no-op —
    no shuffle is added at 100 TB widths.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    key = None
    try:
        key = df._jdf.queryExecution().analyzed().semanticHash()
        n = _NPARTS_CACHE.get(key)
    except Exception:
        n = None
    if n is None:
        # JVM-side RDD of the executed plan: same count as df.rdd
        # without the javaToPython conversion stage (~30 ms cheaper)
        try:
            n = df._jdf.queryExecution().toRdd().getNumPartitions()
        except Exception:
            n = df.rdd.getNumPartitions()
        if key is not None:
            if len(_NPARTS_CACHE) >= _NPARTS_CACHE_MAX:
                _NPARTS_CACHE.pop(next(iter(_NPARTS_CACHE)))
            _NPARTS_CACHE[key] = n
    if n < target:
        return df.repartition(target)
    return df


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-held rows that plans as ``LocalTableScan``.

    ``rows`` is a sequence of tuples in ``schema`` order, or a
    ``pyarrow.Table`` whose columns already carry the schema's names;
    ``schema`` is a ``StructType`` or a DDL string. A frame built by
    ``createDataFrame(<list>)`` plans as ``Scan ExistingRDD`` and forks
    Python-worker tasks every time it is evaluated (~1 s of worker CPU
    for a 100-row table); an Arrow table becomes a ``LocalRelation``
    the JVM holds, with no worker at all. The rows go in as a pyarrow
    table rather than pandas because the pandas route skips Arrow for
    an empty input and falls back to the list path when Arrow fails
    (``spark.sql.execution.arrow.pyspark.fallback.enabled``); the
    table route has no fallback. This is the package's only
    ``createDataFrame`` call (tests/test_source_lint.py)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    struct = (
        schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    )
    if not isinstance(rows, pa.Table):
        arrow_schema = to_arrow_schema(struct)
        cols = list(zip(*rows)) if rows else [()] * len(struct.fields)
        rows = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(rows, schema=struct)


# Column types pyarrow and Spark keep alike in parquet: each one's
# parquet type reads back as the same Spark type, and as the Arrow type
# ``toArrow`` gives it, whichever of the two wrote the file. The IVF
# driver writer writes only these and :func:`collect_arrow` reads only
# these; any other type (timestamp, date, decimal, map, struct, nested
# array) goes through Spark.
DRIVER_PARQUET_TYPES = (
    IntegralType, FloatType, DoubleType, StringType, BinaryType, BooleanType,
)


def driver_parquet_type(dt) -> bool:
    """``dt`` is in :data:`DRIVER_PARQUET_TYPES` or an array of one."""
    if isinstance(dt, ArrayType):
        dt = dt.elementType
    return isinstance(dt, DRIVER_PARQUET_TYPES)


class ScanPlan(NamedTuple):
    """What :func:`scan_plan` read off a frame's executed plan."""

    size: int | None  # over-counting bytes the frame can hold, or None
    scan: Any  # the JVM file scan the frame reads bare, or None


# variable-width types: a Project that computes one of these (rather than
# passing a relation column through) can emit more bytes than it reads
_WIDE_TYPES = ("array", "binary", "map", "string", "struct")


def scan_plan(df: DataFrame) -> ScanPlan:
    """One walk down ``df``'s executed plan, one ``nodeName()`` and one
    ``child()`` call a node. Runs no job, and a collect of ``df`` reuses
    the plan.

    ``size`` is an estimate of the bytes ``df`` can hold that only
    over-counts, or None if there is none. It exists when the plan is
    Projects and Filters (with their codegen and columnar wrappers) over
    one file scan or filled cache, and no Project computes a
    variable-width column. It is then that relation's whole size, read
    before any projection: the on-disk bytes of every file of the scan
    (partition filters not applied), or the measured bytes of the
    cache. The optimizer's figure for a projection is not used: it
    scales by default type sizes, which count an array column as 4
    bytes whatever its length.

    ``scan`` is the file scan when nothing above it changes or drops a
    row: no Filter, and Projects that only pass attributes through. A
    filter on partition columns only leaves no Filter node, as it
    becomes the scan's partition filter, which Spark applies when it
    lists the files; a Filter node is a filter on a data column."""
    node = df._jdf.queryExecution().executedPlan()
    bare = True
    while True:
        name = node.nodeName()
        if name == "Project":
            exprs = node.projectList()
            for i in range(exprs.size()):
                e = exprs.apply(i)
                kind = e.nodeName()
                if kind == "AttributeReference":
                    continue
                bare = False
                if kind == "Alias" and e.child().nodeName() == "AttributeReference":
                    continue
                if e.dataType().typeName() in _WIDE_TYPES:
                    return ScanPlan(None, None)
        elif name == "Filter":
            bare = False
        elif name not in ("ColumnarToRow", "InputAdapter") and not name.startswith(
            "WholeStageCodegen"
        ):
            break
        node = node.child()
    if name == "InMemoryTableScan":
        cache = node.relation()
        # before the cache is filled its estimate is the cached plan's
        if cache.cacheBuilder().isCachedColumnBuffersLoaded():
            return ScanPlan(int(cache.stats().sizeInBytes()), None)
    elif name.startswith("Scan "):
        return ScanPlan(int(node.relation().sizeInBytes()), node if bare else None)
    return ScanPlan(None, None)


_PARQUET_FORMAT = "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat"
# PartitionedFile.toString; the path is URL-encoded, so it holds no space
_SPLIT = re.compile(r"path: (\S+), range: (\d+)-(\d+), partition values: ")


def _bare_parquet_files(df: DataFrame, plan: ScanPlan | None):
    """(the Arrow schema ``df.toArrow()`` gives, the partition column
    names, [(local path, partition values)] in the scan's order) when
    ``df`` reads whole local parquet files bare, else None. Runs no
    job: a fixed few py4j calls, then a few a file."""
    scan = (scan_plan(df) if plan is None else plan).scan
    if scan is None:
        return None
    relation = scan.relation()
    if (
        relation.fileFormat().getClass().getName() != _PARQUET_FORMAT
        or not scan.dataFilters().isEmpty()
        or scan.bucketedScan()
        or not scan.fileConstantMetadataColumns().isEmpty()
    ):
        return None
    jpartition = relation.partitionSchema()
    partition = _parse_datatype_json_string(jpartition.json())
    schema = df.schema
    if not (
        all(driver_parquet_type(f.dataType) for f in schema.fields)
        and all(isinstance(f.dataType, (IntegralType, StringType)) for f in partition)
    ):
        return None
    jtypes = [jpartition.apply(i).dataType() for i in range(len(partition))]
    files = []
    splits = scan.inputRDD().filePartitions()
    for i in range(splits.size()):
        split_files = splits.apply(i).files()
        for j in range(len(split_files)):
            f = split_files[j]
            url, start, end = _SPLIT.match(f.toString()).groups()
            url = urlsplit(url)
            path = unquote(url.path)
            # read whole: one split, from 0, as long as the file is now
            if (
                url.scheme != "file"
                or url.netloc
                or start != "0"
                or int(end) != os.path.getsize(path)
            ):
                return None
            values = f.partitionValues()
            row = [values.get(k, t) for k, t in enumerate(jtypes)]
            # a string value comes back as a UTF8String handle
            files.append(
                (path, [v if v is None or isinstance(v, int) else str(v) for v in row])
            )
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(
        schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=df.sparkSession.conf.get(
            "spark.sql.execution.arrow.useLargeVarTypes"
        ).lower()
        == "true",
    )
    return arrow_schema, partition.names, files


def _same_type(a, b) -> bool:
    """Arrow types equal apart from list field names and nullability."""
    import pyarrow as pa

    if pa.types.is_list(a) and pa.types.is_list(b):
        return _same_type(a.value_type, b.value_type)
    return a == b


def collect_arrow(df: DataFrame, plan: ScanPlan | None = None):
    """``df.toArrow()``: the same rows, in the same order, with the same
    Arrow schema. When ``df`` reads local parquet files bare, the driver
    reads them with pyarrow and no Spark job runs; otherwise this is
    ``df.toArrow()``. ``plan`` is ``df``'s :func:`scan_plan` where the
    caller has it, so the plan is walked once.

    ``df`` is read bare when every condition holds:

    - its plan is a ``ParquetFileFormat`` scan under no Filter and only
      attribute-passing Projects (:func:`scan_plan`), with no data
      filter, no bucketing and no metadata column; partition filters
      are allowed, as Spark applied them when it listed the files;
    - every column type is in :data:`DRIVER_PARQUET_TYPES` or an array
      of one, and every partition column is integral or string;
    - every file is on the ``file`` file system and read whole (one
      split, from offset 0, as long as the file);
    - each file holds each data column under its exact name, once
      case-folded, with the Arrow type ``toArrow`` gives it, list field
      names and nullability aside. A case-only name difference, a
      missing column, ``binaryAsString`` and ``nanosAsLong`` therefore
      all go to ``toArrow``.

    The files are read in the order of the scan's file partitions, the
    order Spark's collect returns their rows, and a partition column
    holds the file's ``PartitionedFile`` value. The checks read private
    Spark API; any failure falls back to ``toArrow``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = None
    try:
        bare = _bare_parquet_files(df, plan)
        if bare is not None:
            schema, partition, files = bare
            data = [n for n in schema.names if n not in partition]
            pieces = []
            for path, values in files:
                with pq.ParquetFile(path) as f:
                    names = f.schema_arrow.names
                    folded = [n.lower() for n in names]
                    if not all(
                        n in names
                        and folded.count(n.lower()) == 1
                        and _same_type(
                            f.schema_arrow.field(n).type, schema.field(n).type
                        )
                        for n in data
                    ):
                        break
                    # on one thread: a list file is too small for the
                    # pool's hand-offs to pay (1.4 vs 1.0 ms of CPU for
                    # four 38 KB lists)
                    read = f.read(columns=data, use_threads=False)
                cols = [
                    pa.repeat(
                        pa.scalar(values[partition.index(n)], schema.field(n).type),
                        read.num_rows,
                    )
                    if n in partition
                    else read.column(n)
                    for n in schema.names
                ]
                pieces.append(pa.Table.from_arrays(cols, names=schema.names).cast(schema))
            else:  # every file read
                table = pa.concat_tables(pieces) if pieces else schema.empty_table()
    except Exception:
        table = None
    return df.toArrow() if table is None else table
