"""Table loading — DataFrames over the driver-generated parquet star schema.

Tables (FIXTURES.md): region nation customer supplier part orders lineitem
events documents embeddings. Reads go through ``spark.read.parquet`` so
predicate pushdown / column pruning / vectorized scanning apply untouched.
Files an operator writes go to ``scratch_dir`` — the one scratch policy.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# path → DataFrame, stored as an attribute ON the session object (not an
# id()-keyed module dict: CPython reuses addresses of collected sessions, so
# a fresh session could falsely hit a dead session's handle — same hazard
# ADVICE r5 flagged for register_views). DataFrames are immutable logical
# plans; re-creating one per call pays file listing + footer/schema reads +
# a Py4J round-trip (~0.1-0.2 s each on local). The cache dies with the
# session it hangs off.


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    cache = getattr(spark, "_xps_df_cache", None)
    if cache is None:
        cache = {}
        spark._xps_df_cache = cache
    cached = cache.get(path)
    if cached is not None:
        return cached
    df = _load(spark, path, name)
    cache[path] = df
    return df


def _load(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped in two physical forms: parquet
        # TIMESTAMP(NANOS) (Spark's vectorized reader rejects it — read the
        # raw int64 nanos via the legacy conf and convert; integer `div`
        # keeps full precision) and plain TIMESTAMP(MICROS) (read as
        # TIMESTAMP_NTZ). Sniff the footer type and normalize both to
        # session-tz TIMESTAMP so downstream literal comparisons and
        # unix_micros arithmetic see one type. NTZ→LTZ→display round-trips
        # to the same wall clock in any session timezone, so oracle hashes
        # are tz-independent.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def widen(df: DataFrame) -> DataFrame:
    """Ensure CPU-heavy downstream work (XML parse, Python UDFs) runs wide.

    The testdata parquet has a single row group per file, so the scan yields
    one partition and per-row-expensive operators serialize on one core. A
    100 TB table has thousands of row groups and never needs this; locally,
    repartition only when the input is narrower than the cluster — the
    shuffle of the narrow input costs far less than single-threaded parsing.
    """
    # Memoized per DataFrame object: table() returns one cached DF per
    # (session, path), and the `.rdd` probe below is NOT free — it forces
    # physical planning + an RDD handle (~50-100 ms of py4j per call),
    # which is pure per-query floor when the same table is widened by
    # every invocation in a verify/bench loop (VERDICT r9 #7).
    memo = getattr(df, "_xps_widened", None)
    if memo is not None:
        return memo
    target = df.sparkSession.sparkContext.defaultParallelism
    out = df
    if df.rdd.getNumPartitions() < target:
        out = df.repartition(target)
    df._xps_widened = out
    return out


def row_count(sf_dir: str, name: str) -> int:
    """Exact table row count from parquet footer metadata — no Spark job.

    The r15 cost-based candidate-route cutover (llm_dedup) picks a
    physical plan from the corpus row count. Deriving that count via
    ``table(...).count()`` launches a full Spark count job at
    plan-construction time — ~0.15-0.3 s of pure scheduling floor per
    invocation at sf0.1, paid by every routed key and re-paid on every
    timed run (guide §1: measure the computation, not the planner's
    bookkeeping). The parquet footer already stores the exact row count
    per file; reading it driver-side costs ~1 ms, is recomputed from the
    input on every invocation (no cross-run memo), and yields the same
    integer the count job returns. Handles both the single-file testdata
    layout and directory-of-part-files fixture layouts.
    """
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.read_metadata(os.path.join(path, f)).num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return pq.read_metadata(path).num_rows


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for ``spark.sql`` query rows).

    Memoized per session: dialect-shared SQL queries call this on every
    invocation, and 10 ``createOrReplaceTempView`` py4j round-trips per
    call are pure overhead when the views already point at ``sf_dir``.
    The memo is an attribute ON the session object (not an id()-keyed
    dict: CPython reuses addresses of collected sessions, so a fresh
    session could falsely hit a stale memo and skip registration —
    ADVICE r5), so it dies with the session. View names are
    session-global, so only the LAST registered sf_dir is live;
    re-register whenever the requested dir differs.
    """
    if getattr(spark, "_xps_views_sf_dir", None) == sf_dir:
        return
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
    spark._xps_views_sf_dir = sf_dir


def scratch_dir(name: str, sf_dir: str | None = None) -> str:
    """Empty scratch directory for an operator that writes files.

    Every sink, roundtrip, streaming checkpoint and synthesized fixture
    asks here. The directory is ``<gettempdir()>/xps-scratch-<pid>/<name>``,
    suffixed with a hash of ``sf_dir`` when the caller has one; each call
    removes it and re-creates it empty. So a key run N times leaves one
    copy behind, two processes never share a directory, and nothing an
    earlier run wrote can be read back as fresh.

    Validity rule: a DataFrame backed by a scratch directory stays valid
    until the same ``name`` runs again in the same process at the same
    ``sf_dir`` — the next call empties the directory under it. Callers
    whose files must outlive one call pick distinct names.
    """
    if sf_dir is not None:
        tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
        name = f"{name}-{tag}"
    path = os.path.join(
        tempfile.gettempdir(), f"xps-scratch-{os.getpid()}", name
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
