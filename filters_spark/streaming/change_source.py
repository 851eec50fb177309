"""Structured-Streaming source over a versioned table's STORED change
feed (VERDICT r9 next #5) — the Delta ``readChangeFeed`` streaming
form: ``spark.readStream.format("versioned_changes")`` turns every
committed change file into a micro-batch, with Spark's own checkpoint
mechanism holding the offset (the table VERSION) — no hand-driven
:func:`~filters_spark.sources.versioned.consume_changes` loop, no
side-channel cursor file.

Built on PySpark 4's Python Data Source API (public
``pyspark.sql.datasource``), the Spark-native way to add a source:

- OFFSETS are table versions (``{"version": N}`` = all commits ≤ N
  served).  ``latestOffset`` reads the table head — an O(1) pointer
  read; no data touched until a batch is planned.
- PARTITIONS: one per stored change FILE per commit in the span —
  reads run EXECUTOR-side as pyarrow scans (zero driver data
  movement; a commit's change volume parallelizes across its files).
- Every event is tagged ``_commit_version`` (Delta's CDF column), so
  multi-commit batches stay ordered and downstream appliers can net
  per key.

CONTRACT: every commit in the streamed span must have stored change
files (``merge_versioned(store_changes=True)``,
``write_versioned(changes_df=...)``, ``delete_where(
store_changes_key=...)``, or the streaming sinks with
``store_changes=True``).  A commit without them fails the stream
LOUDLY at planning time — the diff fallback needs a SparkSession and
a full-outer join, which a source partition cannot run; use
``consume_changes`` (the pull loop) for mixed tables.  Change-file
retention follows snapshot retention (``vacuum_versioned``): a
checkpoint older than retention fails with the vacuum error rather
than silently skipping span.

The write half, :func:`apply_changes_sink`, maintains a REPLICA
versioned table from the stream — upserts and deletes applied as ONE
copy-on-write commit per micro-batch (touched-slice rewrite, the
``delete_where`` shape), idempotent under Spark's at-least-once
foreachBatch replay via the ``versioned_merge_sink`` manifest-guard
pattern.  End to end this is CDC replication: table → stored feed →
readStream → exactly-once replica.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

__all__ = [
    "VersionedChangesDataSource",
    "change_feed_stream",
    "apply_changes_sink",
]

#: readStream format name (spark.dataSource.register target).
FORMAT_NAME = "versioned_changes"

COMMIT_COL = "_commit_version"


def _change_schema(path: str) -> T.StructType:
    """The stream's payload schema: the newest committed change
    schema, walked head-down (manifests are O(1) JSON reads).  Raises
    when the table has never stored changes — the source cannot
    serve a diff."""
    from ..sources import versioned as V

    head = V.latest_version(path)
    if head is None:
        raise ValueError(
            f"versioned_changes: {path!r} has no snapshots")
    for v in sorted(V.versions(path), reverse=True):
        m = V._read_manifest(path, v)
        sj = m.get("changes_schema_json")
        if sj:
            return T.StructType.fromJson(json.loads(sj))
    raise ValueError(
        f"versioned_changes: no commit of {path!r} has stored change "
        "files — write with store_changes=True / changes_df=... "
        "(or use sources.versioned.consume_changes, the pull loop "
        "that can diff snapshots)")


class _ChangeFilePartition(InputPartition):
    """One stored change file of one commit — the executor-side read
    unit.  Carries only picklable primitives (the payload schema as
    its JSON form — the executor re-derives the arrow target from
    it)."""

    def __init__(self, version: int, file_path: str,
                 names: tuple[str, ...], schema_json: str):
        self.version = version
        self.file_path = file_path
        self.names = names
        self.schema_json = schema_json


class _ChangeFeedStreamReader(DataSourceStreamReader):
    def __init__(self, path: str, start_version: int,
                 names: tuple[str, ...], schema_json: str,
                 max_versions: int | None = None):
        self._path = path
        self._start = start_version        # first version to SERVE
        self._names = names                # payload columns, declared order
        self._schema_json = schema_json    # payload StructType as JSON
        self._max_versions = max_versions  # rate limit per micro-batch
        self._cursor = start_version - 1   # rate-cap basis
        # Highest version THIS READER INSTANCE has planned or seen
        # committed — the re-serve floor.  Distinct from _cursor: a
        # fresh reader's _cursor starts at startingVersion-1 (which a
        # restarted default-start query resolves to the NEW head,
        # ABOVE the checkpoint's resume span), so flooring on it
        # would eat the legitimate resume batch; None = no floor
        # until this instance observes a span.
        self._served: int | None = None

    # -- offsets ------------------------------------------------------
    def initialOffset(self) -> dict:
        return {"version": self._start - 1}

    def latestOffset(self) -> dict:
        from ..sources import versioned as V

        head = V.latest_version(self._path)
        if head is None:
            return {"version": max(self._start - 1, self._cursor)}
        if self._max_versions is not None:
            # rate limiting (Delta maxFilesPerTrigger's shape): cap
            # each micro-batch at N COMMITS past what was last
            # planned.  The cursor also advances in partitions() and
            # commit(), so a checkpoint-restart replay (planned from
            # Spark's offsets without a latestOffset round) re-syncs
            # it.
            head = min(head, self._cursor + self._max_versions)
        # NEVER regress (r10 ADVICE): a fresh reader's cursor starts
        # at startingVersion - 1, which can lag a restarted query's
        # committed checkpoint offset — a capped head computed from
        # the stale cursor would hand Spark an end offset BELOW the
        # committed one, which Spark then commits, re-serving
        # already-delivered commits.  The API never shows the reader
        # the committed offset before the first latestOffset call,
        # so the clamp here keeps the offset monotonic per session
        # and partitions() below refuses to re-serve commits at or
        # below this instance's observed floor — together a
        # regressed WAL entry self-heals with no duplicate and no
        # lost commit (pinned in TestChangeFeedRateLimit).
        if self._served is not None:
            head = max(head, self._served)
        return {"version": head}

    # -- planning (driver) ---------------------------------------------
    def partitions(self, start: dict, end: dict):
        from ..sources import versioned as V

        lo, hi = int(start["version"]), int(end["version"])
        # Serve only commits this INSTANCE has not already observed:
        # after a restart where startingVersion lags the checkpoint,
        # Spark's first post-restart span can be (committed, capped)
        # with capped < committed (see latestOffset) — that call
        # seeds the floor from ITS OWN bounds (start IS committed
        # progress) — followed by a catch-up span overlapping
        # commits delivered before the restart, which the floor
        # drops.  A fresh instance has NO floor, so legitimate
        # resume/replay spans (whose lo is the committed offset) are
        # never skipped — including a default-start restart whose
        # startingVersion resolved to the NEW head, above the resume
        # span.
        served_from = lo if self._served is None \
            else max(lo, self._served)
        self._served = max(self._served if self._served is not None
                           else lo, lo, hi)
        self._cursor = max(self._cursor, lo, hi)
        parts: list[_ChangeFilePartition] = []
        for v in range(served_from + 1, hi + 1):
            if v not in set(V.versions(self._path)):
                continue                    # skipped number (orphan)
            m = V._read_manifest(self._path, v)
            if not m.get("changes"):
                raise ValueError(
                    f"versioned_changes: commit {v} of {self._path!r} "
                    "has no stored change files — every commit in a "
                    "streamed span must store its changes "
                    "(store_changes=True / changes_df=...); use "
                    "consume_changes for tables that mix commit "
                    "styles")
            cdir = V._changes_dir(self._path, v)
            if not os.path.isdir(cdir):
                raise ValueError(
                    f"versioned_changes: change files of commit {v} "
                    f"of {self._path!r} were vacuumed — this "
                    "checkpoint is older than the table's retention")
            for f in sorted(os.listdir(cdir)):
                if f.endswith(".parquet"):
                    parts.append(_ChangeFilePartition(
                        v, os.path.join(cdir, f), self._names,
                        self._schema_json))
        return parts

    # -- execution (executors) ------------------------------------------
    def read(self, partition: _ChangeFilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        t = pq.read_table(partition.file_path)
        # cast to the arrow types Spark's bridge expects for the
        # declared schema (pyarrow reads Spark INT96 timestamps as
        # NANOSECOND, which Spark's arrow reader rejects)
        target = to_arrow_schema(T.StructType.fromJson(
            json.loads(partition.schema_json)))
        cols = []
        for i, name in enumerate(partition.names):
            if name not in t.column_names:
                raise ValueError(
                    f"versioned_changes: column {name!r} missing from "
                    f"change file {partition.file_path!r} — the "
                    "stored change schema evolved mid-stream; restart "
                    "the stream with a fresh checkpoint at the new "
                    "schema")
            cols.append(t.column(name).cast(target.field(i).type))
        cols.append(pa.array([partition.version] * t.num_rows,
                             type=pa.int64()))
        out = pa.table(cols, names=list(partition.names) + [COMMIT_COL])
        for batch in out.to_batches():
            yield batch

    def commit(self, end: dict) -> None:
        # checkpoint durability is Spark's; tracking the committed
        # offset here keeps the rate cap and serve floor monotonic
        v = int(end["version"])
        self._cursor = max(self._cursor, v)
        self._served = v if self._served is None \
            else max(self._served, v)

    def stop(self) -> None:
        pass


class VersionedChangesDataSource(DataSource):
    """``readStream.format("versioned_changes")`` — options:

    - ``path`` (required): the versioned table root.
    - ``startingVersion`` (optional): first commit to SERVE (its own
      changes included — Delta's startingVersion semantics).  Default:
      the head at QUERY start + 1 (streamReader instantiation — NOT
      ``load()`` time), i.e. only commits AFTER the query begins (a
      consumer that needs current state first
      bootstraps via ``consume_changes(bootstrap='snapshot')`` or a
      plain ``read_version``, then streams from head+1).
    - ``maxVersionsPerBatch`` (optional): rate limit — at most N
      source COMMITS per micro-batch (Delta maxFilesPerTrigger's
      shape).  A backlogged checkpoint catches up in bounded batches
      instead of one giant replay; unlimited when unset.  CAVEAT:
      ``trigger(availableNow=True)`` computes its end offset ONCE, so
      a capped backlog drains one span per RUN under availableNow —
      use a continuous/processingTime trigger (or repeated
      availableNow runs, each resuming the checkpoint) to drain a
      backlog under a rate limit.
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError(
                "versioned_changes: option 'path' is required")
        return path

    def schema(self) -> T.StructType:
        payload = _change_schema(self._path())
        return T.StructType(
            list(payload.fields)
            + [T.StructField(COMMIT_COL, T.LongType(), False)])

    def streamReader(self, schema: T.StructType):
        from ..sources import versioned as V

        path = self._path()
        sv = self.options.get("startingVersion")
        if sv is None:
            head = V.latest_version(path)
            start = (head or 0) + 1
        else:
            start = int(sv)
        payload = T.StructType([f for f in schema.fields
                                if f.name != COMMIT_COL])
        names = tuple(f.name for f in payload.fields)
        mv = self.options.get("maxVersionsPerBatch")
        if mv is not None:
            mv = int(mv)
            if mv < 1:
                raise ValueError(
                    "versioned_changes: maxVersionsPerBatch must be "
                    ">= 1")
        return _ChangeFeedStreamReader(path, start, names,
                                       payload.json(),
                                       max_versions=mv)


def change_feed_stream(spark, path: str,
                       starting_version: int | None = None,
                       max_versions_per_batch: int | None = None):
    """Open a versioned table's stored change feed as a streaming
    DataFrame (registers the data source; idempotent per session).
    See :class:`VersionedChangesDataSource` for option semantics."""
    spark.dataSource.register(VersionedChangesDataSource)
    reader = spark.readStream.format(FORMAT_NAME).option("path", path)
    if starting_version is not None:
        reader = reader.option("startingVersion", int(starting_version))
    if max_versions_per_batch is not None:
        if int(max_versions_per_batch) < 1:
            raise ValueError(
                "change_feed_stream: maxVersionsPerBatch must be >= 1")
        reader = reader.option("maxVersionsPerBatch",
                               int(max_versions_per_batch))
    return reader.load()


def apply_changes_sink(table_path: str, key: str,
                       sink_id: str | None = None,
                       mode: str = "cow"):
    """foreachBatch function maintaining a REPLICA versioned table
    from a :func:`change_feed_stream` batch — CDC replication's write
    half.  Each micro-batch (which may span several source commits)
    is NETTED to one final state per key — the event at the highest
    ``_commit_version``, postimage winning over preimage within a
    commit — then applied as ONE copy-on-write commit: the touched
    file slice (keys present in the batch) is rewritten with upserts
    applied and deleted keys dropped, every untouched file carried by
    reference (the ``delete_where`` shape — a small CDC batch against
    a 100 TB replica rewrites the touched slice, not the table).
    Partitioned replicas fall back to a full materialization, exactly
    like ``merge_versioned``.

    Exactly-once under Spark's at-least-once foreachBatch replay via
    the ``versioned_merge_sink`` manifest guard: each commit records
    ``(stream_query, stream_batch)`` and a replayed batch is skipped.
    Pass ``sink_id`` (stable across restarts) — required for the
    same silent-batch-loss reason versioned_merge_sink requires it.

    ``mode='mor'`` (merge-on-read — the r11 deletion-vector
    machinery): the batch applies as a delete-sized vector sidecar
    (old copies of every key the batch touches) plus the upsert rows
    appended as the commit's own files — ZERO replica files
    rewritten per micro-batch, the right shape when a small CDC
    batch's keys scatter across a 100 TB replica (the COW slice
    rewrite touches every file containing a batch key).  Vectors
    accumulate per batch; fold them on cadence with
    ``optimize_versioned``.  Flat replicas only (partitioned fall
    back to the full materialization either way)."""
    if mode not in ("cow", "mor"):
        raise ValueError(
            f"apply_changes_sink: mode must be 'cow' or 'mor', got "
            f"{mode!r}")
    from ..plans.joins import upsert
    from ..sources import versioned as V
    from .validate import _sink_identity

    def write(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        qid = _sink_identity(batch_df, sink_id, require=True,
                             where=f"apply_changes_sink({table_path})")
        for v in V.versions(table_path):
            m = V._read_manifest(table_path, v)
            if m.get("stream_query") == qid \
                    and m.get("stream_batch") == batch_id:
                return                       # at-least-once replay
        meta = {"stream_query": qid, "stream_batch": batch_id}
        payload_cols = [c for c in batch_df.columns
                        if c not in ("_change_type", COMMIT_COL)]
        # net to final state per key: highest commit wins; within a
        # commit the preimage (weight 0) loses to its postimage
        t = F.col("_change_type")
        ranked = batch_df.withColumn(
            "_w", F.when(t == "update_preimage", F.lit(0))
                   .otherwise(F.lit(1)))
        final = (ranked.groupBy(key)
                 .agg(F.max_by(
                     F.struct(t.alias("_ct"),
                              *[F.col(c) for c in payload_cols]),
                     F.struct(F.col(COMMIT_COL), F.col("_w")))
                     .alias("_f"))
                 .select(F.col(f"_f._ct").alias("_ct"),
                         *[F.col(f"_f.{c}").alias(c)
                           for c in payload_cols]))
        upserts = final.where(F.col("_ct").isin(
            "insert", "update_postimage")).drop("_ct")
        del_keys = final.where(F.col("_ct") == "delete") \
            .select(key).drop_duplicates()
        if V.latest_version(table_path) is None:
            V.write_versioned(upserts, table_path, _op="cdc-init",
                              extra_meta=meta)
            return
        m = V._read_manifest(table_path, V.latest_version(table_path))
        base = V.read_version(spark, table_path)
        aligned = upserts.select(*base.columns)
        if m.get("partition_by"):
            merged = upsert(base, aligned, key) \
                .join(del_keys, key, "left_anti")
            V.write_versioned(merged, table_path, _op="cdc-apply",
                              extra_meta=meta,
                              partition_by=m["partition_by"],
                              stats_cols=m.get("stats_cols"))
            return
        schema = T.StructType.fromJson(json.loads(m["schema_json"]))
        parent_files = V._root_files(table_path, m)
        batch_keys = aligned.select(key).unionByName(del_keys) \
            .drop_duplicates()
        if mode == "mor":
            old = (V._detect_frame(spark, table_path, m)
                   .join(batch_keys, key, "left_semi")
                   .select(F.regexp_extract(F.col("_f"),
                                            V._DV_TAIL, 1)
                           .alias("_file"), key))
            dv_df = old if old.limit(1).count() else None
            V.write_versioned(
                aligned, table_path, _op="cdc-apply",
                extra_meta={**meta, "apply_mode": "mor"},
                stats_cols=m.get("stats_cols"),
                reuse_files=parent_files,
                dv_df=dv_df, dv_key=key)
            return
        touched = sorted({
            V._rel_uri(table_path, r["_f"]) for r in
            V._detect_frame(spark, table_path, m)
            .join(batch_keys, key, "left_semi")
            .select("_f").distinct().collect()
        })                                  # bounded: one row per file
        untouched = [f for f in parent_files if f not in set(touched)]
        sub = (V.apply_delete_vectors(
            spark, table_path, m, spark.read.schema(schema).parquet(
                *[os.path.join(table_path, f) for f in touched]))
            if touched else spark.createDataFrame([], schema))
        merged = upsert(sub, aligned, key) \
            .join(del_keys, key, "left_anti")
        V.write_versioned(
            merged, table_path, _op="cdc-apply", extra_meta=meta,
            stats_cols=m.get("stats_cols"), reuse_files=untouched)

    return write
