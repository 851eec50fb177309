"""Session builder + testdata catalog (SURVEY.md §2.9 scans/sources).

The reference has no I/O layer (its input is an in-memory Python
value); the engine's sources are stock Spark readers.  This module
pins the engine-wide session discipline:

* ``spark.sql.session.timeZone=UTC`` — timestamp semantics must match
  the DuckDB oracle (SURVEY.md §7.4).
* AQE on (skew-join + coalesce partitions) — the 100 TB safety net.
* Arrow enabled for the pandas-UDF leaves.
* A codegen cache that holds every stage a long session compiles, so
  repeated stages never recompile.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "filters_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        # local[N, 3]: allow 3 task attempts.  Local mode defaults to
        # maxFailures=1, so one transient Python-worker death (stale
        # pooled worker → ClosedChannelException on reuse) kills the
        # whole job; a retry gets a fresh worker — exactly the
        # semantics a real cluster has.
        .master(f"local[{cpus}, 3]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # SPARK_GRAFT_AQE=false runs the AQE-off robustness sweep:
        # no query's RESULT may depend on adaptive re-planning (the
        # local[5] partition-variance gate's config-variance twin)
        .config("spark.sql.adaptive.enabled",
                os.environ.get("SPARK_GRAFT_AQE", "true"))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet codec is a deployment property (guide §9 / VERDICT
        # r11 #8): zstd measured smaller AND no slower than snappy at
        # sf0.1 and at 10× (bytes −18…−36%, write wall flat to −15%,
        # reads flat to faster — SCALE.md r12 row); values unchanged
        # (full-registry sweep green).  SPARK_GRAFT_PARQUET_CODEC
        # restores snappy (or any codec) without a code change.
        .config("spark.sql.parquet.compression.codec",
                os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # off by default (bench hygiene); SPARK_GRAFT_UI=true enables
        # it for guide-§7 profiling sessions (REST /api/v1 job data)
        .config("spark.ui.enabled",
                os.environ.get("SPARK_GRAFT_UI", "false"))
        # the SQL-listener plan description defaults to FORMATTED
        # mode, whose ExplainUtils.generateOperatorIDs walk re-visits
        # nested cached subtrees without memoization — measured (r6)
        # on a per-merge BPE training loop: an iterative pipeline that
        # persists each step on top of the last spent MINUTES per
        # action in plan description by ~20 nested persists, with
        # sub-second execution.  Simple mode is one linear toString;
        # the description only feeds the UI/history.
        .config("spark.sql.ui.explainMode", "simple")
        # PySpark 4's per-API-call origin capture (error-message
        # call-site enrichment) inspects the Python stack AND makes
        # an extra JVM round trip on EVERY wrapped Column/DataFrame
        # call — measured 20% of a big validation plan's first build
        # (3.53 s → 2.81 s) and ~15% of warm rebuilds.  A production
        # session factory trades the enriched tracebacks for build
        # throughput; re-enable when debugging operator internals.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Spark keeps 100 compiled stage classes by default, evicted
        # LRU in 4 segments of maxEntries/4.  Measured (SCALE.md §38):
        # a steady perfbench table-lifecycle cycle recompiled 115.5
        # classes at 100; the 90-query bench.py suite compiles 1,898
        # distinct classes in one session (1,824 in its cold pass),
        # and 2,500 keeps every segment below its share of them.
        .config("spark.sql.codegen.cache.maxEntries", "2500")
    )
    return builder.getOrCreate()


# DataFrame handles are immutable plans — safe to reuse across calls.
# Caching them skips a parquet footer read + reader construction per
# load (~80 ms each; a registered query touching 4 tables pays ~0.3 s
# of pure re-reading without this).  Keyed by session id AND the
# file's mtime/size — a cached handle freezes its file listing, so a
# rewritten table dir must miss (one os.stat per load is ~1000× the
# footer read it replaces... cheaper).  Entries from other sessions
# are pruned on insert so stopped sessions don't pin plan handles.
# Keyed WEAKLY by the session object itself (not id(spark): CPython
# reuses addresses after GC, so an id-keyed entry can hand a new
# session a DataFrame bound to a stopped one).  A collected session
# drops its whole per-session dict automatically.
import weakref

_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = \
    weakref.WeakKeyDictionary()


def _path_stamp(path: str) -> tuple:
    """(mtime_ns, size) of the table file or dir listing — changes
    whenever the table is rewritten or appended to."""
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            names = sorted(os.listdir(path))
            return (st.st_mtime_ns, len(names), hash(tuple(names)))
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ("missing",)


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    try:
        per_session = _TABLE_CACHE.setdefault(spark, {})
    except TypeError:  # session not weakref-able (mock/test double)
        return _load_table_uncached(spark, name, sf_dir)
    key = (path, _path_stamp(path))
    hit = per_session.get(key)
    if hit is not None:
        return hit
    df = _load_table_uncached(spark, name, sf_dir)
    for k in [k for k in per_session if k[0] == path and k != key]:
        del per_session[k]  # table rewritten: drop the stale stamp
    per_session[key] = df
    return df


def _load_table_uncached(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (which the
        # reader only exposes as a raw long) and as TIMESTAMP(MICROS)
        # without timezone (→ TIMESTAMP_NTZ); normalize every variant
        # to a plain UTC timestamp so downstream semantics match the
        # DuckDB oracle regardless of how the data was generated.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Map whatever physical type the events timestamp column arrived
    as (raw int64 nanos / TIMESTAMP_NTZ micros / already timestamp)
    onto a plain UTC timestamp, value-preserving under the pinned UTC
    session timezone."""
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":  # raw nanos via spark.sql.legacy.parquet.nanosAsLong
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register all tables as temp views so ``spark.sql`` queries match
    the DuckDB oracle's pre-registered view names."""
    for t in TABLES:
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)
