"""Custom Python Data Source (Spark 4 ``pyspark.sql.datasource`` API).

The extension surface a platform team uses to wrap an in-house system
(a feed gateway, a billing API, a proprietary file format) as a
first-class ``spark.read.format(...)`` source: schema declaration,
partition planning, and per-partition reads all live in Python, while
Spark distributes the partitions like any other scan.

The registered source here is a deterministic synthetic-sequence
generator (``rows`` evenly split across ``parts`` partitions; each row
carries its md5 fingerprint) — deliberately RNG-free so the scan is
reproducible across runs, executors, and engines, which is what makes
`E-PYSOURCE` oracle-checkable: DuckDB regenerates the identical rows
from ``generate_series`` + ``md5``.

Scale shape: partition planning is metadata-only (``parts`` InputPartition
stubs); each partition generates its own contiguous range — no driver
materialization, no shuffle; a real connector swaps the generator body
for its client library and keeps the planning contract.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from xml_processor_spark.io import scratch_dir
from xml_processor_spark.registry import register

_ROWS = 10_000
_PARTS = 8


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class _SeqReader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", _ROWS))
        self.parts = int(options.get("parts", _PARTS))

    def partitions(self):
        per = -(-self.rows // self.parts)  # ceil
        return [
            _RangePartition(lo, min(lo + per, self.rows))
            for lo in range(0, self.rows, per)
        ]

    def read(self, partition):
        import hashlib

        for i in range(partition.start, partition.end):
            yield (i, hashlib.md5(str(i).encode()).hexdigest())


class SequenceDataSource(DataSource):
    """``spark.read.format("xps_seq").option("rows", n)`` source."""

    @classmethod
    def name(cls):
        return "xps_seq"

    def schema(self):
        return "seq_id BIGINT, fingerprint STRING"

    def reader(self, schema):
        return _SeqReader(self.options)


@register(
    "E-PYSOURCE",
    oracle=f"""
        WITH seq AS (
            SELECT CAST(unnest(generate_series(0, {_ROWS} - 1)) AS BIGINT)
                   AS seq_id
        )
        SELECT substring(md5(CAST(seq_id AS VARCHAR)), 1, 2) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               min(seq_id) AS first_id,
               max(seq_id) AS last_id
        FROM seq
        GROUP BY 1
    """,
    origin="LLM",
    doc="Custom Python Data Source (Spark 4 pyspark.sql.datasource): a "
        "registered format('xps_seq') whose schema declaration, "
        "partition planning and per-partition reads run in Python — the "
        "extension point for wrapping proprietary systems as first-class "
        "Spark scans. The registered instance generates a deterministic "
        f"md5-fingerprinted sequence ({_ROWS} rows over {_PARTS} "
        "planned partitions, RNG-free), and the query aggregates it by "
        "fingerprint prefix — so the DuckDB oracle regenerates the "
        "SAME rows from generate_series + md5 and a hash match proves "
        "the source delivered every partition exactly once (a dropped "
        "or duplicated partition shifts bucket counts and min/max ids). "
        "Scale shape: planning is metadata-only; each partition "
        "generates its own range; the aggregate is map-side-combined.",
)
def e_pysource(spark, sf_dir):
    spark.dataSource.register(SequenceDataSource)
    df = spark.read.format("xps_seq").option("rows", _ROWS).load()
    return df.groupBy(
        F.substring("fingerprint", 1, 2).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("seq_id").alias("first_id"),
        F.max("seq_id").alias("last_id"),
    )


_STREAM_ROWS = 5_000
_STREAM_BATCH = 1_000


class _SeqStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked micro-batch generator: batch k covers rows
    [k*batch, (k+1)*batch) until the declared row count is exhausted,
    then returns empty batches forever. Offsets are plain dicts, so
    checkpoint recovery replays any batch identically (deterministic
    content per offset range — the exactly-once contract a real
    connector must honor)."""

    def initialOffset(self):
        return {"offset": 0}

    def read(self, start):
        import hashlib

        off = int(start["offset"])
        end = min(off + _STREAM_BATCH, _STREAM_ROWS)
        rows = [
            (i, hashlib.md5(str(i).encode()).hexdigest())
            for i in range(off, end)
        ]
        return iter(rows), {"offset": end}

    def readBetweenOffsets(self, start, end):
        import hashlib

        return iter(
            (i, hashlib.md5(str(i).encode()).hexdigest())
            for i in range(int(start["offset"]), int(end["offset"]))
        )


class SequenceStreamDataSource(DataSource):
    """``spark.readStream.format("xps_seq_stream")`` source."""

    @classmethod
    def name(cls):
        return "xps_seq_stream"

    def schema(self):
        return "seq_id BIGINT, fingerprint STRING"

    def simpleStreamReader(self, schema):
        return _SeqStreamReader()


@register(
    "E-PYSOURCE-STREAM",
    oracle=f"""
        WITH seq AS (
            SELECT CAST(unnest(generate_series(0, {_STREAM_ROWS} - 1))
                        AS BIGINT) AS seq_id
        )
        SELECT substring(md5(CAST(seq_id AS VARCHAR)), 1, 2) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               min(seq_id) AS first_id,
               max(seq_id) AS last_id
        FROM seq
        GROUP BY 1
    """,
    origin="LLM",
    doc="STREAMING Python Data Source (Spark 4 "
        "SimpleDataSourceStreamReader): offset-tracked micro-batches "
        f"({_STREAM_ROWS} rows in {_STREAM_ROWS // _STREAM_BATCH} "
        "batches) from a registered Python source, aggregated by "
        "fingerprint prefix in complete-mode into a memory sink, polled "
        "to completion. Unlike the other streaming E-keys this one IS "
        "oracle-checkable: the generator is deterministic and the query "
        "drains it fully, so the final state equals the batch answer "
        "DuckDB regenerates — a dropped, duplicated, or partially "
        "committed micro-batch hash-mismatches. readBetweenOffsets "
        "implements the checkpoint-replay contract (identical content "
        "per offset range).",
)
def e_pysource_stream(spark, sf_dir):
    import time
    import uuid

    spark.dataSource.register(SequenceStreamDataSource)
    sink = f"pysource_stream_sink_{uuid.uuid4().hex[:8]}"
    agg = (
        spark.readStream.format("xps_seq_stream")
        .load()
        .groupBy(F.substring("fingerprint", 1, 2).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("seq_id").alias("first_id"),
            F.max("seq_id").alias("last_id"),
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", scratch_dir("E-PYSOURCE-STREAM", sf_dir))
        .start()
    )
    try:
        got = 0
        deadline = time.time() + 300
        while time.time() < deadline:
            q.processAllAvailable()
            got = spark.sql(
                f"SELECT coalesce(sum(n), 0) AS t FROM {sink}"
            ).collect()[0].t
            if got >= _STREAM_ROWS:
                break
            time.sleep(0.5)
        else:
            # ADVICE r9: a silent partial drain surfaced later as an opaque
            # oracle hash mismatch; fail loudly at the point of timeout.
            raise RuntimeError(
                f"E-PYSOURCE-STREAM: drain deadline hit with {got}/"
                f"{_STREAM_ROWS} rows in memory sink {sink!r}"
            )
    finally:
        q.stop()
    return spark.table(sink)
