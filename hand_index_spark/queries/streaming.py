"""Streaming queries: the stream-static broadcast enrichment join.

Every query is (a) an idiomatic Spark program over the driver's parquet
tables and (b) a DuckDB oracle with identical column names and
bit-identical values, registered with ``registry.register``; the driver
order lives in ``registry.ORDER`` alone.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from ..registry import TEXT, fresh_dir as _fresh_dir, read_table as _t, register


# --------------------------------------------------------------------------
# ``stream_enrich``: stream-static broadcast enrichment join — the
# canonical production streaming shape (fact stream x dimension
# table) that the stream-stream interval join does not cover.
#
# Stream-static enrichment join: the events FILE STREAM joined to the
# static customer dimension (broadcast — the dimension is the small
# side by construction at any corpus scale), then windowed per
# day/segment, drained with availableNow into a memory sink. Proven
# equal to the batch join+aggregate by the oracle. This is the
# production "enrich facts with a dim" streaming shape; state is
# bounded by (days x segments), the join itself is stateless.


def _q_stream_enrich(spark, sf_dir):
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    src_dir = _fresh_dir("stream_enrich_")
    os.symlink(path, os.path.join(src_dir, "events.parquet"))
    stream = spark.readStream.schema(schema).parquet(src_dir)
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey
    )
    agg = (
        joined.withColumn("day", F.date_format(F.col("ts"), "yyyy-MM-dd"))
        .groupBy("day", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    name = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    TEXT,
    "stream_enrich",
    _q_stream_enrich,
    """
    SELECT strftime(e.ts, '%Y-%m-%d') AS day, c.c_mktsegment,
           count(*) AS n_events,
           round(sum(e.value), 4) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
