"""graphite-web events store: annotations ("deploy happened") kept
beside the metric tables and exposed three ways — ``POST /events/``,
``GET /events/get_data``, and the ``events(*tags)`` render function.

graphite-web backs this with a Django model (``events/models.py``);
here it is one more parquet table under the data root
(``when long, what string, tags array<string>, data string``) written
through the engine's usual append-under-lock discipline. Reads filter
on the ``when`` range (predicate pushdown) and on tag membership
(``array_contains`` per requested tag, AND semantics — graphite
requires every listed tag to be present).

Scale note: events are operator annotations — thousands of rows, not
billions. The table broadcasts trivially wherever it joins; the only
care taken is that appends are single-file and lock-serialized so a
live facade can accept POSTs while /render reads.
"""

from __future__ import annotations

import os
import time as _time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.layout import table_lock
from ..schemas import CONTRACT, read_table


class EventsStore:
    """Append/read events over ``<root>/events`` parquet."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def add(
        self,
        what: str,
        tags: list[str] | str | None = None,
        when: int | None = None,
        data: str = "",
    ) -> dict:
        """Append one event; returns it in graphite's JSON shape.
        ``tags`` accepts graphite's space-separated string form."""
        if isinstance(tags, str):
            tags = tags.split()
        when = int(when if when is not None else _time.time())
        row = {"when": when, "what": str(what), "tags": tags or [],
               "data": str(data)}
        df = self.spark.createDataFrame(
            [(row["when"], row["what"], row["tags"], row["data"])],
            CONTRACT["events"],
        )
        with table_lock(self.path):
            df.coalesce(1).write.mode("append").parquet(self.path)
        return row

    def df(self) -> DataFrame | None:
        return read_table(self.spark, *os.path.split(self.path))

    def get(
        self,
        time_from: int,
        time_until: int,
        tags: list[str] | None = None,
    ) -> list[dict]:
        """Events in [from, until] (inclusive, matching graphite's
        /events/get_data), every listed tag required."""
        df = self.df()
        if df is None:
            return []
        df = df.filter(
            (F.col("when") >= time_from) & (F.col("when") <= time_until)
        )
        for t in tags or []:
            df = df.filter(F.array_contains("tags", t))
        return [
            {
                "when": r["when"],
                "what": r["what"],
                "tags": list(r["tags"] or []),
                "data": r["data"],
            }
            for r in df.orderBy("when", "what").collect()
        ]


def events_series(
    events_df: DataFrame | None,
    tags: list[str],
    t0: int,
    t1: int,
    spark: SparkSession | None = None,
) -> DataFrame:
    """graphite ``events(*tags)`` render form: one series valued with
    the number of matching events at each event timestamp (drawn with
    drawAsInfinite on dashboards). Empty store -> empty series."""
    name = "events({})".format(", ".join(tags)) if tags else "events()"
    if events_df is None:
        assert spark is not None
        return spark.createDataFrame([], "path string, time long, value double")
    df = events_df.filter((F.col("when") >= t0) & (F.col("when") <= t1))
    for t in tags:
        df = df.filter(F.array_contains("tags", t))
    return df.groupBy(F.col("when").alias("time")).agg(
        F.count(F.lit(1)).cast("double").alias("value")
    ).select(F.lit(name).alias("path"), "time", "value")
