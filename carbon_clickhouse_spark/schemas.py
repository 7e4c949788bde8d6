"""Table contracts (SURVEY §1.3) as Spark schemas.

The reference maintains five ClickHouse table shapes (``README.md:33-63``);
we reproduce them as Parquet/Delta-backed DataFrames:

- ``points`` / ``points_reverse``: the GraphiteMergeTree pair
- ``index``: ReplacingMergeTree(Version) ORDER BY (Level, Path, Date)
- ``tagged``: ReplacingMergeTree(Version) ORDER BY (Tag1, Path, Date)
- ``series`` / ``tree`` (legacy): subsumed by ``index`` levels

Storage layout for 100 TB: partition by month of ``date`` (mirrors
``PARTITION BY toYYYYMM(Date)``), sort within files by ``(path, time)``
so min/max stats give data skipping on both.

Every stored table under a root opens through :func:`read_table` with
its :data:`CONTRACT` schema: no Spark job (inference runs one per open).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

POINT_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("time", T.LongType(), False),  # unix seconds
        T.StructField("date", T.DateType(), False),  # UTC day of time
        T.StructField("version", T.LongType(), False),  # receive time
    ]
)

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("date", T.DateType(), False),
        T.StructField("level", T.IntegerType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("version", T.LongType(), False),
    ]
)

TAGGED_SCHEMA = T.StructType(
    [
        T.StructField("date", T.DateType(), False),
        T.StructField("tag1", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("tags", T.ArrayType(T.StringType()), False),
        T.StructField("version", T.LongType(), False),
    ]
)

#: Declared schema per stored table, without the ``month`` partition
#: column: Spark discovers it from the ``month=`` dirs (as int), as
#: inference does. ``tree`` maps to None and is opened by inference,
#: because ``build_tree`` writes ``date`` only when ``tree_date`` is set.
CONTRACT: dict[str, T.StructType | None] = {
    "points": POINT_SCHEMA,
    "points_reverse": POINT_SCHEMA,
    "index": INDEX_SCHEMA,
    "series": INDEX_SCHEMA,
    "series_reverse": INDEX_SCHEMA,
    "tagged": TAGGED_SCHEMA,
    "tree": None,
    # the dropped-line audit: the decoded point plus its front
    "dropped": T.StructType(
        POINT_SCHEMA.fields + [T.StructField("protocol", T.StringType())]
    ),
    # the continuous-rollup serving tier (streaming.analytics)
    "rollup_hot": T.StructType(
        [T.StructField("path", T.StringType()), T.StructField("time", T.LongType())]
        + [T.StructField(c, T.DoubleType()) for c in ("avg", "sum", "max", "min")]
        + [T.StructField("cnt", T.LongType()), T.StructField("last", T.DoubleType())]
    ),
    # graphite-web events (query/events.py)
    "events": T.StructType(
        [
            T.StructField("when", T.LongType()),
            T.StructField("what", T.StringType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField("data", T.StringType()),
        ]
    ),
}

#: ReplacingMergeTree dedup keys of the series-shaped tables: the
#: exists-cache anti-join and the replacing compaction both key on them
REPLACING_KEYS: dict[str, list[str]] = {
    "index": ["date", "level", "path"],
    "tagged": ["date", "tag1", "path"],
    # legacy uploader types (uploader/uploader.go:48-60)
    "tree": ["level", "path"],
    "series": ["date", "level", "path"],
    "series_reverse": ["date", "level", "path"],
}


def read_table(spark: SparkSession, root: str, name: str) -> DataFrame | None:
    """Stored table ``name`` under ``root``, None when missing: one
    Hadoop ``FileSystem.exists`` probe (any filesystem, no analysis
    exception on a miss), then a read with the :data:`CONTRACT` schema,
    which runs no job and reads a ``_SUCCESS``-only dir as 0 rows.
    Each call lists the files anew, so it sees rows appended since.
    A name without a declared schema (``tree``, or a table the
    compaction jobs are pointed at by path) opens by inference."""
    path = os.path.join(root, name)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return None
    schema = CONTRACT.get(name)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


# Level offsets (``uploader/index.go:21-24``)
REVERSE_LEVEL_OFFSET = 10000
TREE_LEVEL_OFFSET = 20000
REVERSE_TREE_LEVEL_OFFSET = 30000
