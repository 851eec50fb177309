"""Structured Streaming surface (SURVEY.md §2.9 streaming row;
§7.3 milestone 9).

The core property that makes this module small: validation chains are
pure Column expressions, so a ``ValidationSchema`` applies to a
streaming DataFrame UNCHANGED — same projection, same error array,
same clean/rejected split.  What this module adds is the streaming
topology around it:

* :func:`validate_stream` — schema over a readStream source.
* :func:`error_rate_by_window` — watermarked tumbling/sliding window
  aggregation of validation error rates (late data handled by the
  watermark; state store bounded by watermark horizon).
* :func:`session_windows` — session-window aggregation (the streaming
  twin of the batch ``rel_sessionize`` query).
* :func:`dead_letter_writer` — ``foreachBatch`` sink splitting each
  micro-batch into clean/dead-letter outputs transactionally per
  batch (LogHandler semantics at stream scale).

Scale notes: watermarks bound state; the error-rate agg keys are
(window × field × code) — low cardinality; clean/dead-letter writers
append partitioned parquet.  For exactly-once, both writes happen
inside one foreachBatch with the batch id recorded.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import ERRORS_COL, ValidationSchema

__all__ = [
    "validate_stream",
    "error_rate_by_window",
    "session_windows",
    "dead_letter_writer",
    "drift_by_window",
    "events_stream",
    "expectations_monitor",
    "interval_join_streams",
    "incremental_dedup_sink",
    "dedup_stream_stored",
    "versioned_merge_sink",
    "contract_merge_sink",
]


_WARNED_UNKNOWN_SINKS: set[str] = set()


def _sink_identity(batch_df: DataFrame, sink_id: str | None,
                   require: bool = False, where: str = "sink") -> str:
    """Stable per-sink lineage id for foreachBatch idempotency keys.

    An explicit ``sink_id`` always wins — pass one whenever more than
    one streaming query writes to the same sink/table.  Without it we
    fall back to the ``sql.streaming.queryId`` local property, which
    in PySpark's py4j foreachBatch callback path is frequently unset
    (it is thread-local to the JVM micro-batch thread, not the Python
    callback thread — the round-6 ADVICE finding), collapsing every
    query to the same ``"unknown"`` lineage.  That collapse is safe
    for exactly one stream per sink; with two streams, batch ids from
    different queries would collide.  ADVICE r7: the fallback is no
    longer silent — ``require=True`` (versioned_merge_sink, where a
    cross-lineage collision means SILENT BATCH LOSS, not just
    partition mixing) raises; everywhere else the first fallback per
    sink logs a warning so the default path cannot hide the hazard.

    A generated-per-closure id would NOT work as a fallback: the
    identity must survive a stream restart (Spark's at-least-once
    foreachBatch replay delivers the same batch_id to a NEW closure),
    so only caller-stable names are acceptable."""
    if sink_id is not None:
        return sink_id
    qid = (batch_df.sparkSession.sparkContext
           .getLocalProperty("sql.streaming.queryId"))
    if qid:
        return qid
    if require:
        raise ValueError(
            f"{where}: cannot resolve a stable stream identity — "
            "sql.streaming.queryId is unset in this foreachBatch "
            "callback and no sink_id was given.  Pass sink_id=... "
            "(a name stable across restarts); without it two streams "
            "sharing this table would collapse to one lineage and "
            "silently skip each other's batches.")
    if where not in _WARNED_UNKNOWN_SINKS:
        _WARNED_UNKNOWN_SINKS.add(where)
        import logging

        logging.getLogger(__name__).warning(
            "%s: falling back to the 'unknown' stream lineage "
            "(sql.streaming.queryId unset, no sink_id).  Safe for "
            "exactly one stream per sink; pass sink_id=... if more "
            "than one query writes here.", where)
    return "unknown"


def _replayed(table_path: str, qid: str, batch_id: int) -> bool:
    """The replay guard of the versioned-table sinks: True when a
    COMMITTED version of ``table_path`` already records micro-batch
    ``(qid, batch_id)``, so Spark's at-least-once foreachBatch replay
    of it must be skipped.  Only the head's parent chain counts — a
    manifest whose head flip never happened (a writer killed between
    manifest write and flip) committed nothing, and its batch must
    land on replay.  O(committed versions) manifest reads per batch."""
    from ..sources import versioned as V

    return any(m.get("stream_query") == qid
               and m.get("stream_batch") == batch_id
               for m in V._chain(table_path))


def events_stream(spark, sf_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """Replay the events table as a file-source stream (the test/bench
    harness for streaming ops).  The file source requires a DIRECTORY,
    so we stream the sf dir with a glob filter for events.parquet.
    Streaming reads need an explicit schema; rather than hard-coding
    one (the generator has shipped ts as both NANOS and MICROS), infer
    it from a batch read of the same file and reuse the batch loader's
    ts normalization — stream and batch semantics stay identical by
    construction."""
    from ..sources.tables import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


def validate_stream(stream_df: DataFrame, schema: ValidationSchema,
                    with_raw: bool = False) -> DataFrame:
    """Apply a validation schema to a streaming DataFrame — identical
    compilation path as batch (the whole point).  ``with_raw=True``
    carries a ``_raw`` struct of original values so the dead-letter
    sink can quarantine replayable records (a stream has no second
    chance to look at its input)."""
    return schema.apply(stream_df, with_raw=with_raw)


def error_rate_by_window(validated: DataFrame, ts_col: str = "ts",
                         window: str = "10 minutes",
                         slide: str | None = None,
                         watermark: str = "30 minutes") -> DataFrame:
    """Windowed validation-quality metrics: per (window, field, code)
    error counts + per-window totals.  Watermark bounds state and
    admits late rows up to the horizon."""
    win = (
        F.window(F.col(ts_col), window, slide) if slide
        else F.window(F.col(ts_col), window)
    )
    flat = (
        validated.withWatermark(ts_col, watermark)
        .select(
            F.col(ts_col),
            F.explode(
                F.when(F.size(ERRORS_COL) > 0, F.col(ERRORS_COL))
                .otherwise(F.array(F.lit(None).cast(
                    validated.schema[ERRORS_COL].dataType.elementType.simpleString()
                )))
            ).alias("e"),
        )
    )
    return (
        flat.groupBy(win.alias("win"), F.col("e.field").alias("field"),
                     F.col("e.code").alias("code"))
        .agg(F.count("*").alias("n"))
    )


def drift_by_window(stream_df: DataFrame, col: str,
                    baseline: dict[str, float], ts_col: str = "ts",
                    window: str = "10 minutes",
                    watermark: str = "30 minutes") -> DataFrame:
    """Streaming distribution-drift monitor: per (window, category)
    observed COUNTS next to the BASELINE share (the batch
    ``profile.category_drift`` expectation, captured offline).  The
    emitted columns are (win, <col>, n, baseline_share); the consumer
    derives each window's observed shares (n / window total) and
    alerts on ``sum(|share − baseline_share|)/2`` — a live
    total-variation drift alarm on an intake feed.  Shares are NOT
    computed in-stream: that would need a second stateful aggregation
    over the same window keys, which Structured Streaming disallows
    in one query (see the in-body note).

    The baseline is a plain dict baked into the plan as a CASE
    expression (small by definition — a category distribution);
    categories outside it get baseline share 0, so novel categories
    surface at full weight.  One watermarked windowed count + a
    window-total via a second aggregation on the SAME window keys —
    state is (windows × categories), bounded by the watermark."""
    base_expr = F.lit(0.0)
    for cat, share in sorted(baseline.items()):
        base_expr = F.when(F.col("_cat") == cat,
                           F.lit(float(share))).otherwise(base_expr)
    win = F.window(F.col(ts_col), window)
    counts = (
        stream_df.withWatermark(ts_col, watermark)
        .select(F.col(ts_col), F.col(col).alias("_cat"))
        .groupBy(win.alias("win"), "_cat")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    # share within the window: total computed per-row post-agg via a
    # window-function-free trick — re-aggregate in foreachBatch, or
    # emit counts and derive shares downstream.  For a pure streaming
    # plan (no second stateful agg on the same keys, which Structured
    # Streaming disallows in append mode), emit (win, cat, n,
    # baseline_share): consumers divide by the window total at read
    # time, or run this in update mode into a compacted sink.
    return counts.select(
        "win", F.col("_cat").alias(col), F.col("_n").alias("n"),
        F.round(base_expr, 6).alias("baseline_share"),
    )


def session_windows(stream_df: DataFrame, ts_col: str = "ts",
                    key_col: str = "user_id", gap: str = "30 minutes",
                    watermark: str = "1 hour") -> DataFrame:
    """Session-window aggregation (inactivity gap): the streaming twin
    of batch sessionization.  State is bounded by the watermark."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"),
                 F.col(key_col))
        .agg(F.count("*").alias("n_events"))
    )


def dedup_stream(stream_df: DataFrame, keys: list[str],
                 ts_col: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drop rows whose key was already seen
    within the watermark horizon (``dropDuplicatesWithinWatermark``).
    State is bounded: keys expire once the watermark passes them —
    the streaming twin of ``dedup.exact_dedup``."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def running_user_stats(stream_df: DataFrame, key_col: str = "user_id",
                       ts_col: str = "ts", value_col: str = "value",
                       timeout_minutes: int | None = None) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per
    key, maintain (event count, value sum, max ts) across
    micro-batches; emit the running totals each batch the key
    appears.

    ``timeout_minutes=None`` (default) keeps state for the life of
    the query — right for finite replays and bounded key spaces.  For
    unbounded key spaces set a processing-time timeout: a key quiet
    for that long has its state evicted (``hasTimedOut`` →
    ``state.remove()``), bounding the store.  NOTE a timeout also
    makes the scheduler run timeout-check batches forever, so an
    ``availableNow`` replay with a timeout never self-terminates —
    that combination is for always-on queries only.

    This is the engine's template for reference-style custom
    accumulation logic that neither windowed aggs nor
    dropDuplicates express.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    out_schema = (f"{key_col} bigint, n_events bigint, sum_value double, "
                  f"last_ts timestamp")
    state_schema = "n bigint, s double, last_ts timestamp"
    timeout = (GroupStateTimeout.NoTimeout if timeout_minutes is None
               else GroupStateTimeout.ProcessingTimeTimeout)

    def update(key, pdfs, state: GroupState):
        if timeout_minutes is not None and state.hasTimedOut:
            # Key went quiet: evict.  Totals were already emitted on
            # every batch the key appeared in, so emit nothing here.
            state.remove()
            return
        n, s, last = state.get if state.exists else (0, 0.0, None)
        last = pd.to_datetime(last) if last is not None else None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            s += float(pdf[value_col].fillna(0.0).sum())
            mx = pd.to_datetime(pdf[ts_col], errors="coerce").max()
            if not pd.isna(mx) and (last is None or mx > last):
                last = mx
        state.update((n, s, None if last is None else last.to_pydatetime()))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame({key_col: [key[0]], "n_events": [n],
                            "sum_value": [s], "last_ts": [last]})

    return (
        stream_df.groupBy(key_col)
        .applyInPandasWithState(update, out_schema, state_schema,
                                "append", timeout)
    )


def interval_join_streams(left: DataFrame, right: DataFrame,
                          key: str = "user_id", left_ts: str = "ts",
                          right_ts: str = "ts", upper: str = "10 minutes",
                          watermark: str = "1 hour",
                          how: str = "inner") -> DataFrame:
    """Stream-stream equi-join with a time-interval condition: right
    rows match a left row with the same key when they land in
    ``[left_ts, left_ts + upper]`` — the enrich-clicks-with-purchases
    topology.

    Both sides MUST carry a watermark plus the interval bound: that
    pair is what lets Spark expire join state (a left row can stop
    waiting once the right watermark passes ``left_ts + upper``).
    Without the interval condition the state store grows forever.
    State is keyed by (key, time-range) — the same shuffle key both
    inputs already hash on, so no extra exchange beyond the join's
    own."""
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}")
           <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, how)


def dead_letter_writer(clean_path: str, dead_path: str,
                       fmt: str = "parquet",
                       sink_id: str | None = None,
                       ) -> Callable[[DataFrame, int], None]:
    """foreachBatch function writing each micro-batch's clean rows to
    ``clean_path`` and rejected rows (with error payloads) to
    ``dead_path``.

    EXACTLY-ONCE across restarts: each sink partitions by the stamped
    (``_query_id``, ``_batch_id``) and writes with dynamic partition
    overwrite, so a batch replayed after a mid-batch crash
    (foreachBatch offers at-least-once delivery) OVERWRITES its own
    partition instead of appending duplicates — the write is
    idempotent per (sink, query lineage, batch).  A half-written
    failed attempt is likewise clobbered on replay.

    ``_query_id`` is the sink lineage id (``sink_id`` if given, else
    the ``sql.streaming.queryId`` local property — see
    :func:`_sink_identity`; the property is often unset in PySpark
    foreachBatch callbacks, so PASS ``sink_id`` whenever two queries
    share these paths).  With an explicit per-query ``sink_id``,
    restarts of the same checkpoint keep the id and stay idempotent,
    and a fresh lineage gets a new partition instead of silently
    deleting the previous lineage's batch-0 data (overwrite keyed by
    batch id alone clobbers across lineages).

    If the stream was validated ``with_raw=True``, the dead-letter
    rows RESTORE the original values from the ``_raw`` struct (the
    validated columns are nulled for failed fields), making the table
    replayable with ``sinks.replay_dead_letter``; the clean side just
    drops the struct."""
    from ..schema import RAW_COL

    def write(batch_df: DataFrame, batch_id: int) -> None:
        qid = _sink_identity(batch_df, sink_id,
                             where="dead_letter_writer")
        stamped = (batch_df.withColumn("_query_id", F.lit(qid))
                   .withColumn("_batch_id", F.lit(batch_id)))
        has_raw = RAW_COL in batch_df.columns
        clean = stamped.where(F.size(F.col(ERRORS_COL)) == 0).drop(ERRORS_COL)
        dead = stamped.where(F.size(F.col(ERRORS_COL)) > 0)
        if has_raw:
            clean = clean.drop(RAW_COL)
            raw_fields = [f.name for f in batch_df.schema[RAW_COL].dataType.fields]
            dead = dead.select(
                *[F.col(f"{RAW_COL}.{n}").alias(n) for n in raw_fields],
                *[c for c in batch_df.columns
                  if c not in raw_fields and c != RAW_COL],
                F.col("_query_id"), F.col("_batch_id"),
            )
        dead = dead.drop(RAW_COL)
        for frame, path in ((clean, clean_path), (dead, dead_path)):
            (
                frame.write.format(fmt)
                .mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_query_id", "_batch_id")
                .save(path)
            )

    return write


def expectations_monitor(checks, path: str,
                         fmt: str = "parquet",
                         sink_id: str | None = None):
    """foreachBatch function evaluating TABLE-level expectations
    (:mod:`..functions.expectations`) on every micro-batch and
    appending the per-batch report to ``path`` — streaming data
    contracts: the batch-side ``expectations.report`` artifact,
    produced continuously.

    ``checks`` is a callable ``DataFrame -> DataFrame`` that builds
    the report for one batch (compose it from ``expect_*`` +
    ``report``); the monitor stamps (query_id, batch_id) and writes
    with the same dynamic-partition-overwrite idempotency contract
    as :func:`dead_letter_writer`, so replayed batches overwrite
    their own report rather than duplicating rows.  Alert by reading
    ``path`` and filtering ``passed = false``."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        qid = _sink_identity(batch_df, sink_id,
                             where="expectations_monitor")
        rep = (checks(batch_df)
               .withColumn("_query_id", F.lit(qid))
               .withColumn("_batch_id", F.lit(batch_id)))
        (rep.write.format(fmt)
         .mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_query_id", "_batch_id")
         .save(path))

    return write


def incremental_dedup_sink(store_path: str, pairs_path: str,
                           threshold: float = 0.8,
                           text_col: str = "text",
                           fmt: str = "parquet",
                           sink_id: str | None = None):
    """foreachBatch function running the ROLLING-INGEST dedup
    lifecycle on every micro-batch of documents: (1) near-dup pairs
    of the batch against the signature store (and within the batch)
    via :func:`..functions.dedup.dedup_pairs_against`, written to
    ``pairs_path``; (2) the batch's signatures folded into the store
    (:func:`..functions.dedup.append_signatures`) so the NEXT batch
    sees it.  The streaming twin of ``ds_incremental_dedup`` — a
    corpus that arrives continuously is deduped in O(batch) per
    trigger, never re-shingling history.

    Idempotency: pair output uses the (query_id, batch_id)
    dynamic-partition-overwrite contract of
    :func:`dead_letter_writer`; the store append is guarded by a
    per-(query, batch) marker directory, so an at-least-once replay
    of a crashed batch overwrites its pairs and SKIPS the duplicate
    signature append (appending twice would make the store disagree
    with the corpus).  Precondition: the store exists
    (``materialize_signatures`` on the historical corpus — possibly
    empty — before starting the stream)."""
    import os

    from ..functions import dedup

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        qid = _sink_identity(batch_df, sink_id,
                             where="incremental_dedup_sink")
        pairs = dedup.dedup_pairs_against(spark, store_path, batch_df,
                                          text_col=text_col,
                                          threshold=threshold)
        (pairs.withColumn("_query_id", F.lit(qid))
         .withColumn("_batch_id", F.lit(batch_id))
         .write.format(fmt)
         .mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_query_id", "_batch_id")
         .save(pairs_path))
        marker = os.path.join(store_path, "_ingested",
                              f"q={qid}", f"b={batch_id}")
        if not os.path.exists(marker):
            dedup.append_signatures(spark, store_path, batch_df,
                                    text_col=text_col)
            os.makedirs(marker, exist_ok=True)

    return write


def dedup_stream_stored(stream_df: DataFrame, keys: list[str],
                        store_path: str, out_path: str,
                        ts_col: str = "ts", watermark: str = "1 hour",
                        sink_id: str | None = None,
                        fmt: str = "parquet"):
    """First-class streaming EXACT dedup with a PERSISTENT horizon
    (r10 VERDICT #7): only the FIRST occurrence of each key tuple is
    ever emitted — within the stream via
    ``dropDuplicatesWithinWatermark`` (bounded state: keys expire as
    the watermark passes), and BEYOND the watermark / across query
    restarts and re-runs via an exact-key signature store the sink
    folds every emitted batch into.  The watermark op alone forgets a
    key once the horizon passes (a late duplicate re-emits); the
    store alone would make streaming state unbounded — composing
    them gives bounded in-flight state AND a durable history.

    Returns ``(deduped, sink)`` — start with::

        deduped, sink = dedup_stream_stored(src, ["doc_id"], store, out)
        q = (deduped.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ck).start())

    Store layout: ``store_path/keys/*.parquet`` (the key tuples —
    pre-seed it from a historical corpus by writing its distinct keys
    there) + per-(query, batch) marker dirs.  EXACTLY-ONCE under
    at-least-once foreachBatch replay: survivors write via the
    (query, batch) dynamic-partition-overwrite contract BEFORE the
    store append, the append is marker-guarded, and a batch whose
    marker exists skips entirely (its output already landed — an
    anti-join replay AFTER the append would wrongly emit nothing).
    ``sink_id`` is required for the same silent-batch-loss reason as
    every stored sink.  Scale shape: per trigger one anti-join of
    O(batch) rows against the store (AQE broadcasts the batch side)
    and one O(batch-distinct) append — history is never re-read for
    shingling, never re-written."""
    import os

    deduped = (stream_df.withWatermark(ts_col, watermark)
               .dropDuplicatesWithinWatermark(keys))
    keys_dir = os.path.join(store_path, "keys")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        qid = _sink_identity(batch_df, sink_id, require=True,
                             where="dedup_stream_stored")
        marker = os.path.join(store_path, "_ingested",
                              f"q={qid}", f"b={batch_id}")
        if os.path.exists(marker):
            return                           # at-least-once replay
        have_store = os.path.isdir(keys_dir) and any(
            f.endswith(".parquet") for f in os.listdir(keys_dir))
        if have_store:
            seen = spark.read.parquet(keys_dir)
            survivors = batch_df.join(seen, keys, "left_anti")
        else:
            survivors = batch_df
        (survivors.withColumn("_query_id", F.lit(qid))
         .withColumn("_batch_id", F.lit(batch_id))
         .write.format(fmt)
         .mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_query_id", "_batch_id")
         .save(out_path))
        (spark.read.format(fmt).load(out_path)
         .where((F.col("_query_id") == qid)
                & (F.col("_batch_id") == batch_id))
         .select(*keys).distinct()
         .write.mode("append").parquet(keys_dir))
        os.makedirs(marker, exist_ok=True)

    return deduped, sink


def versioned_merge_sink(table_path: str, key: str,
                         sink_id: str | None = None,
                         store_changes: bool = False):
    """foreachBatch function committing every micro-batch into a
    :mod:`..sources.versioned` table as a NEW snapshot — the
    streaming twin of ``rel_merge_snapshot``: a continuously-arriving
    CDC feed lands under snapshot isolation (readers always see a
    complete version; history stays time-travelable per batch).

    Exactly-once: each commit's manifest records
    ``(stream_query, stream_batch)``, and a replayed batch (Spark's
    at-least-once foreachBatch contract after a crash) is detected by
    scanning committed manifests (:func:`_replayed`) and SKIPPED —
    merging a batch twice would double-apply inserts.  The stream
    identity comes from :func:`_sink_identity`, and THIS sink requires
    one that resolves: the ``sql.streaming.queryId`` fallback is often
    unset in PySpark foreachBatch callbacks, and if every query
    collapsed to one lineage, two queries sharing a ``batch_id`` would
    wrongly skip each other's batches — SILENT BATCH LOSS, so the
    'unknown' fallback raises here instead of warning (ADVICE r7).  Pass
    ``sink_id=...`` (stable across restarts — replay detection after
    a crash depends on the restarted stream presenting the SAME
    identity).  A commit that fails BETWEEN the snapshot write and the
    pointer flip removes its manifest and files; a writer killed there
    leaves a manifest off the head's parent chain, which readers and
    the replay guard ignore.  Either way the replay re-merges cleanly:
    the batch was never committed, and version numbering skips past
    any orphan.  The first batch of an empty table initializes it.

    Manifest scan cost is O(committed versions) per batch — run
    ``vacuum_versioned`` on retention anyway; for very long streams
    record a compacted watermark upstream.

    ``store_changes=True`` persists each batch-commit's change feed
    (the merge knows its delta; the init batch is all inserts), so a
    downstream ``consume_changes`` loop — e.g.
    ``maintain_continuous_rollup`` — reads O(changes) per pull
    instead of diffing snapshots (the stored-CDC path,
    ``rel_change_feed_stored``)."""
    from pyspark.sql import functions as F

    from ..sources import versioned as V

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        qid = _sink_identity(batch_df, sink_id, require=True,
                             where=f"versioned_merge_sink({table_path})")
        if _replayed(table_path, qid, batch_id):
            return                          # at-least-once replay
        meta = {"stream_query": qid, "stream_batch": batch_id}
        if V.latest_version(table_path) is None:
            init_changes = None
            if store_changes:
                cols = [key] + sorted(set(batch_df.columns) - {key})
                init_changes = batch_df.select(
                    F.lit("insert").alias("_change_type"), *cols)
            V.write_versioned(batch_df, table_path, _op="stream-init",
                              extra_meta=meta, changes_df=init_changes)
        else:
            V.merge_versioned(spark, table_path, batch_df, key,
                              extra_meta=meta,
                              store_changes=store_changes)

    return write


def contract_merge_sink(table_path: str, key: str, schema,
                        dead_path: str,
                        max_reject_rate: float = 0.0,
                        on_violation: str = "fail",
                        sink_id: str | None = None,
                        store_changes: bool = False):
    """foreachBatch function composing the GOVERNED streaming ingest:
    validate each micro-batch against ``schema`` (a
    :class:`~filters_spark.schema.ValidationSchema`), quarantine
    rejected rows — ORIGINAL values — to ``dead_path``, and merge
    only the clean rows into the versioned table through
    :func:`versioned_merge_sink`'s exactly-once machinery (replayed
    batches are skipped by manifest-recorded (query, batch) identity,
    so the at-least-once foreachBatch contract still lands each batch
    once).

    ``max_reject_rate`` is the per-batch circuit breaker
    (:func:`~filters_spark.sources.versioned.write_validated`'s
    contract, applied per micro-batch): a batch rejecting more than
    the tolerance is POISON.  ``on_violation='fail'`` (default)
    raises — the stream stops and alerting fires; nothing from the
    batch is merged, rejects ARE quarantined first for diagnosis, and
    because nothing was committed, the restart replays the batch
    (fix the contract or the upstream, then resume).
    ``on_violation='skip'`` quarantines the ENTIRE batch (clean rows
    too — a mostly-poison batch is evidence, and skipping only its
    valid half would silently bias the table) and commits nothing,
    but lets the stream continue; the batch is NOT marked consumed in
    the manifest, so the skip is an operator decision recorded only
    in the dead letter.

    Exactly-once note: the dead-letter write is at-least-once (a
    crash between quarantine and merge replays both) — dead letters
    carry the raw rows for replay/audit, where duplicates are benign;
    the TABLE side stays exactly-once via the manifest guard."""
    if on_violation not in ("fail", "skip"):
        raise ValueError("contract_merge_sink: on_violation must be "
                         f"'fail' or 'skip', got {on_violation!r}")
    merge = versioned_merge_sink(table_path, key, sink_id=sink_id,
                                 store_changes=store_changes)
    from ..sources.versioned import ContractViolation

    def write(batch_df: DataFrame, batch_id: int) -> None:
        res = schema.validate(batch_df)
        counts = res.validated.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.size(F.col(ERRORS_COL)) > 0).cast("long"))
            .alias("bad")).first()
        n, bad = counts["n"] or 0, int(counts["bad"] or 0)
        rate = (bad / n) if n else 0.0
        if n and rate > max_reject_rate:
            res.write_dead_letter(dead_path)
            if on_violation == "fail":
                raise ContractViolation(
                    f"stream batch {batch_id}: reject rate {rate:.4f} "
                    f"exceeds {max_reject_rate:.4f} ({bad}/{n}) — batch "
                    f"refused; rejects quarantined to {dead_path!r}")
            # 'skip': quarantine the clean half too, commit nothing.
            # As RAW values (clean_raw), matching what
            # write_dead_letter stores for the rejected half — a
            # coercing chain's TRANSFORMED types beside raw dead
            # letters would leave the quarantine unreadable
            # (conflicting parquet column types) and break the
            # docstring's "dead letters carry the raw rows" replay
            # contract (ADVICE r8).
            res.clean_raw.write.format("parquet").mode("append") \
                .save(dead_path)
            return
        if bad:
            res.write_dead_letter(dead_path)
        merge(res.clean, batch_id)

    return write
