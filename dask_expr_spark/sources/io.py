"""IO sources & sinks (reference: SURVEY.md §2.1, /root/reference/dask_expr/io/).

All readers return the engine's DataFrame facade. Catalyst performs the
pushdowns the reference hand-implements: parquet footer schema, DNF
filter pushdown into row-group stats (io/parquet.py:1574), column
pruning (io/io.py:68-102), partition pruning, count-star from footers
(io/parquet.py:752-760).
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections import OrderedDict
from typing import NamedTuple, Sequence

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from ..collection import DataFrame

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _nano_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as
    int64 (spark.sql.legacy.parquet.nanosAsLong) and we truncate to
    microseconds here, matching DuckDB's ns→µs read behavior."""
    try:
        import pyarrow.dataset as ds
        import pyarrow as pa

        schema = ds.dataset(path, format="parquet").schema
        return [
            name
            for name, typ in zip(schema.names, schema.types)
            if pa.types.is_timestamp(typ) and typ.unit == "ns"
        ]
    except Exception:
        return []


# The parquet schema cache: Spark's schema is static, so it is inferred
# once per table version (PAPER.md §1.2), not once per open.  Keyed on
# the absolute path; an entry is valid while the path's file listing
# and the session's inference confs are unchanged.  Schemas only — no
# DataFrame or JVM object is held.
_SCHEMA_CACHE_MAX = 256
# session confs that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)


class _SchemaEntry(NamedTuple):
    fingerprint: str
    confs: tuple
    schema: StructType
    nano_cols: tuple


_SCHEMA_CACHE: OrderedDict[str, _SchemaEntry] = OrderedDict()
_SCHEMA_LOCK = threading.Lock()


def _partition_names(stats) -> list[str]:
    """Hive partition columns Spark discovers from a listing, outermost
    first."""
    names: list[str] = []
    for rel, _, _ in stats:
        parts = rel.split("/")
        # names Spark's file index skips
        if any(p.startswith(".") or (p.startswith("_") and "=" not in p)
               for p in parts):
            continue
        for d in parts[:-1]:
            k = d.split("=", 1)[0]
            if "=" in d and k not in names:
                names.append(k)
    return names


def _listing(spark: SparkSession, path: str):
    """(cache key, fingerprint, stats) of the files under `path`, or None
    when it lists no file (a glob, a missing or an empty path): those
    always infer, and Spark raises as it always did."""
    from py4j.protocol import Py4JJavaError

    from ..fsops import PosixFS, get_fs

    try:
        fs = get_fs(path, spark)
        stats = sorted(fs.list_stats(path))
    except (OSError, Py4JJavaError):
        return None
    if not stats:
        return None
    key = os.path.abspath(path) if isinstance(fs, PosixFS) else path
    return key, hashlib.sha1(repr(stats).encode()).hexdigest(), stats


def _resolve_schema(spark: SparkSession, path: str):
    """(schema, nano columns, inferred frame) of the parquet at `path`.
    A hit returns the cached schema and no frame: the caller reads with
    the schema passed, which launches no inference job.  A miss infers
    as an uncached read does and stores the entry."""
    listing = _listing(spark, path)
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    if listing is not None:
        key, fingerprint, stats = listing
        with _SCHEMA_LOCK:
            hit = _SCHEMA_CACHE.get(key)
            if hit is not None and hit.fingerprint == fingerprint \
                    and hit.confs == confs:
                _SCHEMA_CACHE.move_to_end(key)
                return hit.schema, hit.nano_cols, None
    nano_cols = tuple(_nano_ts_columns(path))
    if nano_cols:
        # without this the scan throws PARQUET_TYPE_ILLEGAL — set it
        # defensively so the engine works in ANY session (a caller may
        # build its own SparkSession without our session.py config)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    sdf = spark.read.parquet(path)
    schema = sdf.schema
    if listing is not None:
        # an explicit schema puts the partition columns last; a data
        # column that is also a partition column keeps its file position
        # under inference, so such a table is never cached
        parts = _partition_names(stats)
        if not parts or schema.fieldNames()[-len(parts):] == parts:
            with _SCHEMA_LOCK:
                _SCHEMA_CACHE[key] = _SchemaEntry(fingerprint, confs,
                                                  schema, nano_cols)
                _SCHEMA_CACHE.move_to_end(key)
                while len(_SCHEMA_CACHE) > _SCHEMA_CACHE_MAX:
                    _SCHEMA_CACHE.popitem(last=False)
    return schema, nano_cols, sdf


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet at `path`, through the
    same cache as `read_parquet` (a hit launches no job)."""
    return _resolve_schema(spark, path)[0]


def _filters_to_expr(filters) -> str:
    """dask/pandas read_parquet filters: [(col, op, val)] conjunction,
    or [[...], [...]] DNF (reference: io/parquet.py filters kwarg) →
    one SQL predicate Catalyst pushes into the scan."""
    def lit(v):
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, (list, tuple, set)):
            return "(" + ", ".join(lit(x) for x in v) + ")"
        return str(v)

    def one(t):
        col, op, val = t
        op = {"==": "=", "in": "IN", "not in": "NOT IN"}.get(op, op)
        return f"(`{col}` {op} {lit(val)})"

    if isinstance(filters[0], (list, tuple)) and filters and \
            isinstance(filters[0][0], (list, tuple)):
        return " OR ".join(
            "(" + " AND ".join(one(t) for t in grp) + ")" for grp in filters)
    return " AND ".join(one(t) for t in filters)


def read_parquet(spark: SparkSession, path: str,
                 columns: Sequence[str] | None = None,
                 filters=None) -> DataFrame:
    """reference: ReadParquet (io/parquet.py:712); columns= and filters=
    are sugar — Catalyst pushes .select/.filter into the scan anyway.
    filters accepts a SQL string or the pandas/dask tuple form
    ([(col, op, val), ...] conjunction; list-of-lists DNF).

    Metadata caching: the inferred schema is cached per absolute path
    (LRU, `_SCHEMA_CACHE_MAX` entries, schemas only).  Every call lists
    the path through `fsops` — name, size and mtime of every file — and
    reuses the schema while that listing and the session's parquet
    inference confs (`_INFERENCE_CONFS`) are unchanged, reading with
    `spark.read.schema(cached)`: no inference job, no footer read.  Any
    added, removed or rewritten file, or a changed conf, re-infers.
    Paths that list no file (globs) and tables with a partition column
    also stored in the files always infer."""
    from pyspark.sql import functions as F

    schema, nano_cols, sdf = _resolve_schema(spark, path)
    if sdf is None:
        sdf = spark.read.schema(schema).parquet(path)
    for c in nano_cols:
        # integer div: nanos exceed 2^53, float division would lose µs
        sdf = sdf.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    if filters is not None and not isinstance(filters, str):
        filters = _filters_to_expr(list(filters))
    if filters:
        sdf = sdf.filter(filters)
    if columns:
        sdf = sdf.select(*columns)
    return DataFrame(sdf)


def read_csv(spark: SparkSession, path: str, header: bool = True,
             schema=None, names: Sequence[str] | None = None,
             usecols=None, **options) -> DataFrame:
    """names= and usecols= are the pandas-compat aliases the reference
    accepts (io/csv.py passes through to pandas; test_io.py:103,111):
    names renames the read columns positionally (pandas' header=None
    maps to header=False here); usecols selects by position or name —
    the projection reaches the scan via Catalyst column pruning."""
    if names is not None:
        options.setdefault("enforceSchema", False)
    reader = spark.read.options(header=header, inferSchema=schema is None, **options)
    if schema is not None:
        reader = reader.schema(schema)
    sdf = reader.csv(path)
    if names is not None:
        if len(names) != len(sdf.columns):
            raise ValueError(
                f"names has {len(names)} entries for {len(sdf.columns)} columns")
        sdf = sdf.toDF(*[str(n) for n in names])
    if usecols is not None:
        picked = [sdf.columns[c] if isinstance(c, int) else str(c)
                  for c in usecols]
        sdf = sdf.select(*picked)
    return DataFrame(sdf)


def from_array(spark: SparkSession, arr, columns: Sequence[str] | None = None,
               npartitions: int | None = None) -> DataFrame:
    """numpy array → frame (reference: FromArray, io/io.py:600).
    1-D → single column 'x'; 2-D → one column per second-axis index."""
    import numpy as np
    import pandas as pd

    arr = np.asarray(arr)
    if arr.ndim == 1:
        pdf = pd.DataFrame({(columns[0] if columns else "x"): arr})
    elif arr.ndim == 2:
        names = list(columns) if columns else [str(i) for i in range(arr.shape[1])]
        pdf = pd.DataFrame(arr, columns=names)
    else:
        raise ValueError("from_array supports 1-D and 2-D arrays")
    return from_pandas(spark, pdf, npartitions=npartitions)


def read_table(spark: SparkSession, path: str, sep: str = "\t",
               header: bool = True, schema=None, **options) -> DataFrame:
    """reference: read_table (_collection.py:5092) — delimited text,
    tab by default."""
    return read_csv(spark, path, header=header, schema=schema, sep=sep, **options)


def read_fwf(spark: SparkSession, path: str, widths: list[int],
             names: list[str]) -> DataFrame:
    """reference: read_fwf (_collection.py:5092) — fixed-width fields
    sliced out of each line with substring (JVM-side, one pass)."""
    from pyspark.sql import functions as F

    if len(widths) != len(names):
        raise ValueError("widths and names must have equal length")
    raw = spark.read.text(path)
    cols, pos = [], 1
    for w, n in zip(widths, names):
        cols.append(F.trim(F.substring(F.col("value"), pos, w)).alias(n))
        pos += w
    return DataFrame(raw.select(*cols))


def to_sql(df, url: str, table: str, mode: str = "error", **props) -> None:
    """reference: to_sql (io/sql.py) — JDBC write. Untestable in this
    container (no JDBC driver baked in), kept signature-compatible."""
    sdf = df.to_spark() if hasattr(df, "to_spark") else df
    writer = sdf.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    for k, v in props.items():
        writer = writer.option(k, v)
    writer.save()


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return DataFrame(reader.json(path))


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return DataFrame(spark.read.orc(path))


def read_text(spark: SparkSession, path: str,
              line_sep: str | None = None,
              whole_text: bool = False) -> DataFrame:
    """raw text ingestion: one row per line (or per file with
    whole_text=True) in a `value` column — the first step of a text
    training-data pipeline before text.* filters run."""
    return DataFrame(
        spark.read.text(path, wholetext=whole_text, lineSep=line_sep)
    )


def read_binary_files(spark: SparkSession, path: str,
                      glob: str | None = None) -> DataFrame:
    """binary-file ingestion (images/audio/video): one row per file
    with (path, modificationTime, length, content) — feeds
    functions/multimodal.py decode/frame/embed steps. Spark's
    binaryFile source prunes `content` when only metadata is
    selected."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return DataFrame(reader.load(path))


def read_xml(spark: SparkSession, path: str, row_tag: str = "row",
             **options) -> DataFrame:
    """XML source (Spark 4 built-in xml datasource; extension beyond
    the reference's format list — schema inferred per rowTag)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    for k, v in options.items():
        reader = reader.option(k, v)
    return DataFrame(reader.load(path))


def read_jdbc(spark: SparkSession, url: str, table: str,
              partition_column: str | None = None,
              num_partitions: int | None = None,
              lower_bound=None, upper_bound=None, **props) -> DataFrame:
    """reference: read_sql_table partitioned on an index column
    (io/sql.py:1-364) → spark.read.jdbc with partitionColumn."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column:
        reader = (reader.option("partitionColumn", partition_column)
                  .option("numPartitions", num_partitions or 8)
                  .option("lowerBound", lower_bound)
                  .option("upperBound", upper_bound))
    for k, v in props.items():
        reader = reader.option(k, v)
    return DataFrame(reader.load())


def from_pandas(spark: SparkSession, pdf, npartitions: int | None = None,
                index_col: str | None = None) -> DataFrame:
    """reference: FromPandas (io/io.py:387) — Arrow-accelerated."""
    if index_col is None and pdf.index.name is not None:
        index_col = pdf.index.name
        pdf = pdf.reset_index()
    if len(pdf) == 0:
        # createDataFrame can't infer from zero rows, but the pandas
        # dtypes are known — build the schema explicitly
        from pyspark.sql import types as T

        _NP = {"i": T.LongType(), "u": T.LongType(), "f": T.DoubleType(),
               "b": T.BooleanType(), "M": T.TimestampType()}
        schema = T.StructType([
            T.StructField(str(c), _NP.get(pdf[c].dtype.kind, T.StringType()))
            for c in pdf.columns
        ])
        sdf = spark.createDataFrame([], schema)
    else:
        sdf = spark.createDataFrame(pdf)
    if npartitions:
        sdf = sdf.repartition(npartitions)
    if index_col:
        return DataFrame(sdf, (index_col,), False).set_index(index_col)
    return DataFrame(sdf)


def from_dict(spark: SparkSession, data: dict, npartitions: int | None = None) -> DataFrame:
    """reference: from_dict (_collection.py:4987)."""
    import pandas as pd
    return from_pandas(spark, pd.DataFrame(data), npartitions)


def load_tables(spark: SparkSession, sf_dir: str,
                names: Sequence[str] = TABLES) -> dict[str, DataFrame]:
    """Load the testdata star schema (TESTDATA.md); `sf_dir`
    may be a local path or a URI (file://, s3a://, ...)."""
    from ..fsops import get_fs

    fs = get_fs(sf_dir, spark)
    out = {}
    for name in names:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if fs.exists(p):
            out[name] = read_parquet(spark, p)
    return out


def timeseries(spark: SparkSession, start: str = "2000-01-01", end: str = "2000-01-31",
               freq_seconds: int = 1, seed: int = 42) -> DataFrame:
    """Synthetic timeseries source (reference: datasets.py:17 Timeseries).

    Deterministic per seed and under projection — uses hash-based
    pseudo-randomness derived from the row id so that selecting a subset
    of columns yields identical values (the property the reference
    documents at datasets.py:171-176). Pure spark.range → scales to any
    size without driver memory.
    """
    from pyspark.sql import functions as F

    n_expr = (
        f"(unix_timestamp(CAST('{end}' AS TIMESTAMP))"
        f" - unix_timestamp(CAST('{start}' AS TIMESTAMP))) / {freq_seconds}"
    )
    n = spark.sql(f"SELECT cast({n_expr} as long) AS n").collect()[0][0]
    sdf = spark.range(n).select(
        F.timestamp_seconds(
            F.unix_timestamp(F.to_timestamp(F.lit(start))) + F.col("id") * freq_seconds
        ).alias("timestamp"),
        (F.abs(F.hash(F.col("id") * 31 + seed)) % 1000).alias("id_"),
        (F.abs(F.hash(F.col("id") * 37 + seed)) % 26).alias("name_code"),
        ((F.abs(F.hash(F.col("id") * 41 + seed)) % 2000000) / 1000000.0 - 1.0).alias("x"),
        ((F.abs(F.hash(F.col("id") * 43 + seed)) % 2000000) / 1000000.0 - 1.0).alias("y"),
    ).withColumnRenamed("id_", "id")
    return DataFrame(sdf)


def from_map(spark: SparkSession, func, inputs: Sequence, schema,
             npartitions: int | None = None) -> DataFrame:
    """build a frame by mapping `func` over a list of inputs, one task
    per input (reference: FromMap / from_map, io/io.py:571). The Spark
    shape: parallelize the (small, driver-resident) input descriptors —
    e.g. file paths, date ranges, table names — one per partition, then
    mapInPandas runs func on executors; the descriptors travel, the
    data never touches the driver. func: input -> pandas.DataFrame
    matching `schema`."""
    import pandas as pd

    n = npartitions or len(list(inputs))
    desc = spark.createDataFrame(
        [(i, repr(x)) for i, x in enumerate(inputs)], "ordinal long, repr string"
    ).repartition(n, "ordinal")
    items = list(inputs)

    def run(batches):
        for pdf in batches:
            for i in pdf["ordinal"]:
                out = func(items[int(i)])
                if not isinstance(out, pd.DataFrame):
                    raise TypeError("from_map func must return a pandas DataFrame")
                yield out

    return DataFrame(desc.mapInPandas(run, schema))


def from_table(spark: SparkSession, name: str) -> DataFrame:
    """catalog table reader — pairs with DataFrame.to_table; bucketed
    tables come back with their bucket spec so co-bucketed joins stay
    exchange-free."""
    return DataFrame(spark.table(name))
