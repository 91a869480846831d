"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]``; the same config block is what we would
ship for a multi-executor cluster (AQE on, adaptive skew-join, broadcast
threshold sized for dimension tables).  Nothing here is local-mode-only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "phenoxtract-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state_store: bool = False,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    - AQE enabled: runtime coalescing of shuffle partitions + skew-join
      splitting, so the same plan survives sf0.001 and 100 TB.
    - Arrow enabled: every pandas UDF / ``applyInPandas`` path transfers
      columnar batches instead of pickled rows.
    - ``shuffle_partitions`` is only the *initial* number; AQE coalesces.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # CPU-dense text/array work (shingling, md5, array_intersect) is
        # heavy per BYTE, so AQE's size-based coalescing starves it: the
        # default 1m floor merges small-but-expensive shuffle outputs down
        # to 2-4 tasks.  A 64k floor lets parallelismFirst keep them at
        # cluster parallelism (its cap), without fragmenting big shuffles.
        # Measured (2-rep A/B, fresh JVMs, sf1 probe data): dedup pipeline
        # 20-32 s → 14-15 s, ngram_jaccard 17-19 s → 11 s, simhash_pairs
        # 14 s → 8-10 s; sf0.1 headline neutral-to-better.
        # (files.openCostInBytes was ALSO tried and rejected: the same A/B
        # showed 2x sf1 regressions — byte-range splits of single-row-group
        # parquet give illusory scan parallelism, one task still decodes
        # every row group.)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata stores events.ts as TIMESTAMP(NANOS); read as long
        # nanos and normalize in load_tables (Spark timestamps are micros)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local-mode driver hosts all executor threads: size the heap for 32
        # concurrent tasks (8g measured GC-bound across a 36-query bench run
        # — 1.35x total-time inflation with high per-query variance)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    if rocksdb_state_store:
        # large streaming state (sessionization over many keys) should spill
        # to RocksDB instead of the default in-memory HDFS-backed store
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the driver's parquet tables from ``sf_dir`` as a dict of DataFrames."""
    names = names or [
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
    ]
    out = {}
    for n in names:
        p = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(p):
            df = spark.read.parquet(p)
        else:
            continue
        if n == "events":
            df = normalize_events(df)
        out[n] = df
    return out


def normalize_events(df):
    """Normalize ``events.ts`` to TimestampType regardless of how the parquet
    encodes it.  The driver's testdata has shipped all three encodings across
    rounds, so every case is handled:

    - TIMESTAMP(NANOS) read as long via ``nanosAsLong`` → micros truncation;
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) read as TIMESTAMP_NTZ → cast
      (session timezone is pinned UTC, so wall-clock values are preserved);
    - TIMESTAMP(MICROS, adjusted) read as TimestampType → already normal.

    Timestamp-consuming expressions (``unix_micros``, ``session_window``,
    interval arithmetic) require TimestampType, so this is the single choke
    point that makes every downstream query encoding-agnostic.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # integer division — float division loses µs precision at ~1e18 ns
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def materialize(df):
    """Compute ``df`` now and return a DataFrame over its stored rows, whose
    plan starts at those rows instead of re-running ``df``'s lineage.

    ``localCheckpoint`` rather than ``persist``: the stored rows are not
    looked up by plan, so a later run that re-reads a rewritten file at
    the same path can never be served stale rows, and the blocks are
    freed once the returned DataFrame is unreachable (no release call).
    This is the one place a materialization policy would be chosen."""
    return df.localCheckpoint(eager=True)


# fan_out's partition probe, memoized per (application, analyzed plan):
# ``df.rdd`` is a full driver-side physical planning + RDD conversion per
# call, and the probe is pure within a session (same analyzed plan over
# the same files/conf ⇒ same split count), so every repeated relation —
# the documents scan behind the ANN/text/media callers rebuilds the same
# chains query after query — pays planning once (r13, guide §5: the
# driver should do almost no data work; r12 verdict item 7).  Keyed on
# the JVM semanticHash of the ANALYZED plan (cheap tree hash, no
# planning); bounded so a pathological caller can't grow it unbounded.
_FAN_OUT_PROBE_CACHE: dict[tuple[str, int], int] = {}
_FAN_OUT_PROBE_CACHE_MAX = 4096


def fan_out(df):
    """Round-robin a DataFrame to cluster parallelism when its current
    plan has fewer partitions — used in front of CPU-dense per-row work
    (regex scoring, tokenize/explode, hash chains) whose input is a small
    scan packed into 1-2 splits.  A few MB of parquet is one split, but
    the work behind it is seconds-per-core; measured 48 → 3.5 s on the
    sf1 text-stats bundle.  At scale inputs arrive with >= parallelism
    splits and this is a no-op (the guard, not the repartition, is the
    contract — callers stay declarative)."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    key = (sc.applicationId, df._jdf.queryExecution().analyzed().semanticHash())
    n = _FAN_OUT_PROBE_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if len(_FAN_OUT_PROBE_CACHE) >= _FAN_OUT_PROBE_CACHE_MAX:
            _FAN_OUT_PROBE_CACHE.clear()
        _FAN_OUT_PROBE_CACHE[key] = n
    if n < par:
        return df.repartition(par)
    return df
