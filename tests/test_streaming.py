"""Structured Streaming: validation chains over streams, windowed
error rates, session windows, dead-letter sinks.  All tests use the
file source reading the real events parquet with availableNow + memory
sink (processAllAvailable)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import filters_spark as fs
from filters_spark import streaming as st
from filters_spark.schema import ERRORS_COL

SF_DIR = "/root/testdata/sf0.001"


def run_to_memory(stream_df, name, output_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()


@pytest.fixture(scope="module")
def event_stream(spark):
    return st.events_stream(spark, SF_DIR)


EVENT_SCHEMA = fs.ValidationSchema({
    "event_type": fs.Choice(["click", "view", "signup", "purchase"]),
    "value": fs.Min(0),
})


class TestStreamingValidation:
    def test_same_chain_compiles_on_stream(self, spark, event_stream):
        validated = st.validate_stream(event_stream, EVENT_SCHEMA)
        assert validated.isStreaming
        run_to_memory(validated, "t_validated")
        out = spark.sql("select * from t_validated")
        total = out.count()
        assert total == 1000
        # 'error' event_type rows must carry the not_valid_choice error
        bad = out.where(F.size(ERRORS_COL) > 0).count()
        batch_bad = spark.read.parquet(f"{SF_DIR}/events.parquet").where(
            ~F.col("event_type").isin("click", "view", "signup", "purchase")
        ).count()
        assert bad >= batch_bad  # value<0 rows may add more

    def test_error_rate_by_window(self, spark, event_stream):
        validated = st.validate_stream(event_stream, EVENT_SCHEMA)
        rates = st.error_rate_by_window(validated, window="1 hour")
        run_to_memory(rates, "t_rates", output_mode="append")
        out = spark.sql("select * from t_rates")
        cols = set(out.columns)
        assert {"win", "field", "code", "n"} <= cols

    def test_session_windows(self, spark, event_stream):
        sess = st.session_windows(event_stream, gap="30 minutes")
        run_to_memory(sess, "t_sessions", output_mode="append")
        out = spark.sql("select * from t_sessions")
        assert {"session", "user_id", "n_events"} <= set(out.columns)


class TestDeadLetter:
    def test_foreach_batch_split(self, spark, event_stream):
        tmp = tempfile.mkdtemp(prefix="fsdl_")
        clean_p, dead_p = f"{tmp}/clean", f"{tmp}/dead"
        validated = st.validate_stream(event_stream, EVENT_SCHEMA)
        writer = st.dead_letter_writer(clean_p, dead_p)
        q = (
            validated.writeStream.foreachBatch(writer)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        clean = spark.read.parquet(clean_p)
        dead = spark.read.parquet(dead_p)
        assert clean.count() + dead.count() == 1000
        assert ERRORS_COL not in clean.columns
        assert ERRORS_COL in dead.columns
        assert "_batch_id" in dead.columns
        shutil.rmtree(tmp, ignore_errors=True)

    def test_raw_dead_letters_are_replayable(self, spark, event_stream):
        """with_raw=True → the streaming dead-letter table stores the
        ORIGINAL failing values (not the chain-nulled ones), so a
        relaxed-schema replay recovers rows."""
        from filters_spark.schema import RAW_COL
        from filters_spark.sources import sinks

        tmp = tempfile.mkdtemp(prefix="fsdlr_")
        clean_p, dead_p = f"{tmp}/clean", f"{tmp}/dead"
        validated = st.validate_stream(event_stream, EVENT_SCHEMA, with_raw=True)
        writer = st.dead_letter_writer(clean_p, dead_p)
        q = (
            validated.writeStream.foreachBatch(writer)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        clean = spark.read.parquet(clean_p)
        dead = spark.read.parquet(dead_p)
        assert RAW_COL not in clean.columns and RAW_COL not in dead.columns
        # originals preserved: the rejected 'error' event_type rows
        # still carry their value, not NULL
        bad_type = dead.where(~F.col("event_type").isin(
            "click", "view", "signup", "purchase"))
        assert bad_type.count() > 0
        assert bad_type.where(F.col("event_type").isNull()).count() == 0
        # replay under a schema that admits the 'error' type: recovers
        relaxed = fs.ValidationSchema({
            "event_type": fs.Choice(
                ["click", "view", "signup", "purchase", "error"]),
            "value": fs.Min(0),
        })
        replay = sinks.replay_dead_letter(spark, dead_p, relaxed)
        assert replay.clean.count() > 0
        assert replay.clean.count() + replay.rejected.count() == dead.count()
        shutil.rmtree(tmp, ignore_errors=True)

    def test_exactly_once_across_midbatch_restart(self, spark):
        """Kill the query mid-batch AFTER a partial dual-sink write,
        restart from the checkpoint, and prove no duplicate and no
        lost rows: the per-batch dynamic-partition-overwrite write
        makes the replayed batch clobber its own half-written
        partition in BOTH sinks."""
        import os

        from filters_spark.sources.tables import load_table

        tmp = tempfile.mkdtemp(prefix="fseo_")
        src, clean_p, dead_p, ckpt = (
            f"{tmp}/src", f"{tmp}/clean", f"{tmp}/dead", f"{tmp}/ckpt"
        )
        ev = load_table(spark, "events", SF_DIR)
        ev.repartition(3).write.parquet(src)  # 3 files → 3 micro-batches
        schema = spark.read.parquet(src).schema

        def start(writer):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(src)
            )
            validated = st.validate_stream(stream, EVENT_SCHEMA)
            return (
                validated.writeStream.foreachBatch(writer)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )

        inner = st.dead_letter_writer(clean_p, dead_p)
        state = {"crashed": False}

        def writer(bdf, bid):
            if bid == 1 and not state["crashed"]:
                state["crashed"] = True
                inner(bdf.limit(17), bid)  # half-written attempt lands
                raise RuntimeError("injected mid-batch crash")
            inner(bdf, bid)

        q = start(writer)
        try:
            q.processAllAvailable()
        except Exception:
            pass  # the injected crash fails the query
        q.stop()
        assert state["crashed"], "crash injection never fired"

        q2 = start(writer)  # same checkpoint → batch 1 replays
        q2.processAllAvailable()
        q2.stop()

        clean = spark.read.parquet(clean_p).drop(ERRORS_COL, "_batch_id")
        dead = spark.read.parquet(dead_p).drop(ERRORS_COL, "_batch_id")
        got = clean.unionByName(dead).toPandas()
        want = ev.toPandas()
        assert len(got) == len(want) == 1000
        # identity columns only — validation nulls FAILED field values
        # in the split output, so event_type/value differ by design
        key = ["user_id", "ts"]
        got_ms = sorted(map(tuple, got[key].itertuples(index=False)))
        want_ms = sorted(map(tuple, want[key].itertuples(index=False)))
        assert got_ms == want_ms  # multiset equality: no dup, no loss
        shutil.rmtree(tmp, ignore_errors=True)


class TestStreamingDedup:
    def test_within_watermark_dedup(self, spark, event_stream):
        # duplicate every event by unioning the stream with itself is
        # not possible on one file source; instead dedup on a coarse
        # key (user_id) — each user appears many times, only the first
        # per watermark horizon survives.
        dd = st.dedup_stream(event_stream, ["user_id"], watermark="100 days")
        run_to_memory(dd, "t_dedup")
        out = spark.sql("select * from t_dedup")
        n_users = out.select("user_id").distinct().count()
        assert out.count() == n_users  # exactly one row per user


class TestStatefulOperator:
    def test_running_user_stats(self, spark, event_stream):
        stats = st.running_user_stats(event_stream)
        q = (
            stats.writeStream.format("memory").queryName("t_stats")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.processAllAvailable(); q.stop()
        out = spark.sql(
            "select user_id, max(n_events) as n, max(sum_value) as s from t_stats group by user_id"
        )
        got = {r["user_id"]: (r["n"], round(r["s"], 4)) for r in out.collect()}
        batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
        exp = {
            r["user_id"]: (r["n"], round(r["s"], 4))
            for r in batch.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        assert got == exp  # final running totals == batch aggregation


class TestLateData:
    def test_watermark_drops_late_rows(self, spark):
        """Three checkpointed runs of one query (watermark persists in
        the checkpoint): run 1 processes June rows and advances the
        watermark; run 2 replays January rows — far behind the
        watermark — which the windowed APPEND aggregation must drop;
        run 3 adds a noon row that pushes the watermark past the June
        window end so the June window finalizes WITHOUT the late rows."""
        import os
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        tmp = tempfile.mkdtemp(prefix="fslate_")
        src = f"{tmp}/src"
        os.makedirs(src)

        def write(name, ts_list):
            tbl = pa.table({
                "ts": pa.array(pd.to_datetime(ts_list), type=pa.timestamp("us")),
                "user_id": pa.array(range(len(ts_list)), type=pa.int64()),
            })
            pq.write_table(tbl, f"{src}/{name}")

        def run_once():
            stream = (
                spark.readStream.schema("ts timestamp, user_id bigint")
                .parquet(src)
            )
            counts = (
                stream.withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "1 hour").alias("win"))
                .agg(F.count("*").alias("n"))
            )
            q = (
                counts.writeStream.format("parquet")
                .option("path", f"{tmp}/out")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.processAllAvailable()
            q.stop()

        write("batch1.parquet", [f"2021-06-01 10:{m:02d}:00" for m in range(10)])
        run_once()  # watermark → 09:59
        write("batch2.parquet", ["2021-01-01 00:00:00", "2021-01-01 00:05:00"])
        run_once()  # January rows are late → dropped
        write("batch3.parquet", ["2021-06-01 12:00:00"])
        run_once()  # watermark → 11:50 > June window end → emit it

        out = spark.read.parquet(f"{tmp}/out").collect()
        got = {(r["win"]["start"].isoformat(), r["n"]) for r in out}
        # June window finalized with its 10 on-time rows; the late
        # January rows created no window; the noon window is still open
        assert got == {("2021-06-01T10:00:00", 10)}
        shutil.rmtree(tmp, ignore_errors=True)


class TestStreamStreamJoin:
    def test_interval_join_matches_batch(self, spark):
        clicks = st.events_stream(spark, SF_DIR).where(
            F.col("event_type") == "click"
        )
        purchases = st.events_stream(spark, SF_DIR).where(
            F.col("event_type") == "purchase"
        )
        joined = st.interval_join_streams(
            clicks, purchases, upper="30 minutes", watermark="100 days"
        ).select(
            F.col("l.event_id").alias("click_id"),
            F.col("r.event_id").alias("purchase_id"),
        )
        assert joined.isStreaming
        run_to_memory(joined, "t_ssjoin")
        got = {(r["click_id"], r["purchase_id"])
               for r in spark.sql("select * from t_ssjoin").collect()}

        from filters_spark.sources import load_table
        ev = load_table(spark, "events", SF_DIR)
        c = ev.where(F.col("event_type") == "click").alias("c")
        p = ev.where(F.col("event_type") == "purchase").alias("p")
        exp_df = c.join(
            p,
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("p.ts") >= F.col("c.ts"))
            & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 30 minutes")),
        ).select(F.col("c.event_id").alias("click_id"),
                 F.col("p.event_id").alias("purchase_id"))
        exp = {(r["click_id"], r["purchase_id"]) for r in exp_df.collect()}
        assert got == exp and len(got) > 0


class TestStreamStaticJoin:
    def test_stream_enriched_by_static_dim(self, spark):
        """Stream-static join: the static side is re-read per
        micro-batch and broadcast — the standard enrich-with-dimension
        topology (no watermark needed; no join state kept)."""
        stream = st.events_stream(spark, SF_DIR)
        users = (
            spark.read.parquet(f"{SF_DIR}/events.parquet")
            .select("user_id").distinct()
            .withColumn("user_tier",
                        F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"))
        )
        joined = stream.join(F.broadcast(users), "user_id")
        assert joined.isStreaming
        run_to_memory(joined, "t_ssdim")
        out = spark.sql("select * from t_ssdim")
        assert out.count() == 1000  # every event matched its dim row
        assert out.where(
            (F.col("user_id") % 2 == 0) & (F.col("user_tier") != "even")
        ).count() == 0


class TestStreamingMetrics:
    def test_foreach_batch_metrics_table(self, spark, event_stream):
        """Per-micro-batch error-code metrics appended to a parquet
        table from inside foreachBatch — the LogHandler-style metrics
        sink; totals must equal the batch rollup."""
        import os
        tmp = tempfile.mkdtemp(prefix="fsmet_")
        metrics_p = f"{tmp}/metrics"

        def write_metrics(batch_df, batch_id):
            (
                batch_df.where(F.size(ERRORS_COL) > 0)
                .select(F.explode(ERRORS_COL).alias("e"))
                .groupBy(F.col("e.field").alias("field"),
                         F.col("e.code").alias("code"))
                .agg(F.count("*").alias("n"))
                .withColumn("_batch_id", F.lit(batch_id))
                .write.mode("append").parquet(metrics_p)
            )

        validated = st.validate_stream(event_stream, EVENT_SCHEMA)
        q = (
            validated.writeStream.foreachBatch(write_metrics)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()

        got = {
            (r["field"], r["code"]): r["total"]
            for r in spark.read.parquet(metrics_p)
            .groupBy("field", "code").agg(F.sum("n").alias("total"))
            .collect()
        }
        from filters_spark.sources import load_table
        batch = EVENT_SCHEMA.validate(load_table(spark, "events", SF_DIR))
        exp = {
            (r["field"], r["code"]): r["count"]
            for r in batch.error_code_counts().collect()
        }
        assert got == exp and len(got) > 0
        shutil.rmtree(tmp, ignore_errors=True)


class TestStreamingExpectations:
    def test_monitor_writes_per_batch_reports(self, spark, event_stream):
        """expectations_monitor evaluates table-level contracts on
        every micro-batch and appends idempotent per-batch report
        partitions — streaming data contracts (round 4)."""
        from filters_spark.functions import expectations as ex

        tmp = tempfile.mkdtemp(prefix="fsexp_")

        def checks(batch_df):
            return ex.report(
                ex.expect_non_null(batch_df, "user_id"),
                ex.expect_range(batch_df, "value", lo=-1e12),
                ex.expect_row_count_between(batch_df, 1, 10_000_000),
                # deliberately failing contract: the alert path must
                # surface passed=false rows, not drop them
                ex.expect_row_count_between(batch_df, 1, 2,
                                            name="canary_max2"),
            )

        q = (
            event_stream.writeStream
            .foreachBatch(st.expectations_monitor(checks, f"{tmp}/audit"))
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        rep = spark.read.parquet(f"{tmp}/audit")
        rows = rep.collect()
        assert len(rows) >= 4                          # 4 checks per batch
        assert {r["expectation"] for r in rows} == {
            "non_null(user_id)", "range(value)",
            "row_count[1,10000000]", "canary_max2"}
        assert all(isinstance(r["observed"], int) for r in rows)
        canary = [r for r in rows if r["expectation"] == "canary_max2"]
        assert canary and not any(r["passed"] for r in canary)
        assert all(r["passed"] for r in rows
                   if r["expectation"] != "canary_max2")
        # idempotency columns present for overwrite-by-batch replays
        assert {"_query_id", "_batch_id"} <= set(rep.columns)
        shutil.rmtree(tmp, ignore_errors=True)


class TestUpdateMode:
    def test_update_mode_emits_open_windows(self, spark, event_stream):
        """UPDATE output mode emits every changed window per batch —
        including windows the watermark has not finalized (which
        APPEND would hold back).  With one availableNow pass over the
        events file, update mode must emit ALL windows while append
        emits only those already past the watermark."""
        counts = (
            event_stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count("*").alias("n"))
        )
        run_to_memory(counts, "t_upd", output_mode="update")
        run_to_memory(counts, "t_app", output_mode="append")
        upd = spark.sql("select * from t_upd").count()
        app = spark.sql("select * from t_app").count()
        assert upd > app  # the open tail window(s) appear only in update
        # and update-mode totals cover every event exactly once
        total = spark.sql("select sum(n) as s from t_upd").head()["s"]
        assert total == 1000


class TestStreamingPipelineOps:
    def test_pii_redaction_stream_matches_batch(self, spark):
        """The pipeline-layer projections (PII redaction, repetition
        scores, chunking lengths) are pure Column expressions, so they
        compile identically on a stream — prove it by redacting a
        synthesized-PII documents stream and diffing against the batch
        result."""
        from filters_spark.functions import pii

        batch = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        aug = F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit(" mail "), F.col("source"),
                            F.lit("@example.com"))).otherwise(F.lit("")),
        )

        def project(df):
            return df.select(
                "doc_id",
                pii.redact(aug).alias("red"),
                *(c.alias(f"n_{k}") for k, c in pii.pii_counts(pii.redact(aug))),
            )

        stream = (
            spark.readStream.schema(batch.schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(SF_DIR)
        )
        run_to_memory(project(stream), "pii_stream")
        got = {r["doc_id"]: r for r in spark.sql(
            "select * from pii_stream").collect()}
        exp = {r["doc_id"]: r for r in project(batch).collect()}
        assert len(got) == len(exp) > 0
        for k in exp:
            assert got[k] == exp[k]
        assert all(r["n_email"] == 0 for r in got.values())


class TestDeadLetterLineage:
    def test_fresh_checkpoint_does_not_clobber_old_lineage(self, spark):
        """Two runs with DIFFERENT checkpoints (→ different query ids)
        writing to the SAME sink: the second run's batch 0 must not
        delete the first run's batch-0 data (the old batch-id-only
        dynamic overwrite did exactly that)."""
        import tempfile

        import filters_spark as fs
        from filters_spark import streaming as st

        sink = tempfile.mkdtemp(prefix="fs_dl_lineage_")
        clean_p, dead_p = f"{sink}/clean", f"{sink}/dead"
        schema = fs.ValidationSchema({"value": fs.Min(0)})

        def run_once():
            ck = tempfile.mkdtemp(prefix="fs_dl_ck_")
            ev = st.events_stream(spark, SF_DIR)
            validated = st.validate_stream(ev, schema)
            q = (validated.writeStream
                 .foreachBatch(st.dead_letter_writer(clean_p, dead_p))
                 .option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            q.processAllAvailable()
            q.stop()

        run_once()
        n1 = spark.read.parquet(clean_p).count()
        run_once()   # fresh checkpoint, same sink
        after = spark.read.parquet(clean_p)
        assert after.count() == 2 * n1       # both lineages present
        assert after.select("_query_id").distinct().count() == 2


class TestIncrementalDedupSink:
    def test_rolling_batches_and_replay_idempotency(self, spark, tmp_path):
        """batch 1 catches its dup against batch 0's store state; an
        at-least-once REPLAY of batch 1 must not double-append
        signatures (the store would then disagree with the corpus)."""
        from filters_spark.functions import dedup
        from filters_spark.streaming.validate import incremental_dedup_sink
        store = str(tmp_path / "sigstore")
        pairs_out = str(tmp_path / "pairs")
        # empty historical corpus -> empty store
        empty = spark.createDataFrame([], "doc_id bigint, text string")
        dedup.materialize_signatures(empty, store, shingle_k=2,
                                     n_hashes=16, n_bands=8)
        sink = incremental_dedup_sink(store, pairs_out, threshold=0.8)
        b0 = spark.createDataFrame(
            [(1, "one two three four five"),
             (2, "six seven eight nine ten")],
            "doc_id bigint, text string")
        b1 = spark.createDataFrame(
            [(10, "one two three four five")],  # dup of doc 1
            "doc_id bigint, text string")
        sink(b0, 0)
        sink(b1, 1)
        got = spark.read.parquet(pairs_out)
        found = [(r["a_id"], r["b_id"]) for r in
                 got.where(F.col("_batch_id") == 1).collect()]
        assert found == [(1, 10)]
        # replay batch 1: pairs overwritten (not duplicated), store
        # NOT double-appended — doc 10 must appear once in signatures
        sink(b1, 1)
        again = [(r["a_id"], r["b_id"]) for r in
                 spark.read.parquet(pairs_out)
                 .where(F.col("_batch_id") == 1).collect()]
        assert again == [(1, 10)]
        sigs = spark.read.parquet(f"{store}/signatures")
        assert sigs.where(F.col("doc_id") == 10).count() == 1
        # a third batch duplicating doc 10 pairs against it exactly once
        b2 = spark.createDataFrame(
            [(20, "one two three four five")],
            "doc_id bigint, text string")
        sink(b2, 2)
        p2 = sorted((r["a_id"], r["b_id"]) for r in
                    spark.read.parquet(pairs_out)
                    .where(F.col("_batch_id") == 2).collect())
        assert p2 == [(1, 20), (10, 20)]


class TestDedupStreamStored:
    """First-class streaming dedup with the persistent signature
    store (r10 VERDICT #7): watermark state bounds in-flight keys,
    the store catches duplicates BEYOND the horizon and across
    queries; replay-safe."""

    def test_store_catches_late_and_cross_query_dups(
            self, spark, tmp_path):
        from filters_spark.streaming.validate import dedup_stream_stored
        store = str(tmp_path / "store")
        out = str(tmp_path / "out")
        dummy = spark.createDataFrame(
            [], "doc_id bigint, text string, ts timestamp")
        _stream, sink = dedup_stream_stored(
            dummy, ["doc_id"], store, out, sink_id="q1")
        import datetime
        t0 = datetime.datetime(2024, 1, 1)
        b0 = spark.createDataFrame(
            [(1, "a", t0), (2, "b", t0)],
            "doc_id bigint, text string, ts timestamp")
        sink(b0, 0)
        # a LATE duplicate arriving after its key expired from any
        # watermark horizon: the store still drops it
        b1 = spark.createDataFrame(
            [(1, "a-late-dup", t0), (3, "c", t0)],
            "doc_id bigint, text string, ts timestamp")
        sink(b1, 1)
        got = spark.read.parquet(out)
        assert sorted(r["doc_id"] for r in got.collect()) == [1, 2, 3]
        # a SECOND query (fresh checkpoint, fresh watermark state)
        # over overlapping data: the store is the shared horizon
        _s2, sink2 = dedup_stream_stored(
            dummy, ["doc_id"], store, out, sink_id="q2")
        b2 = spark.createDataFrame(
            [(2, "b-again", t0), (4, "d", t0)],
            "doc_id bigint, text string, ts timestamp")
        sink2(b2, 0)
        got2 = spark.read.parquet(out)
        assert sorted(r["doc_id"] for r in got2.collect()) \
            == [1, 2, 3, 4]
        assert got2.where(F.col("doc_id") == 2).count() == 1

    def test_crash_replay_exactly_once(self, spark, tmp_path):
        """Replaying a batch whose store append already landed must
        skip entirely — recomputing the anti-join after the append
        would emit nothing and clobber the batch's output."""
        from filters_spark.streaming.validate import dedup_stream_stored
        store = str(tmp_path / "store")
        out = str(tmp_path / "out")
        dummy = spark.createDataFrame(
            [], "doc_id bigint, ts timestamp")
        _s, sink = dedup_stream_stored(
            dummy, ["doc_id"], store, out, sink_id="q1")
        import datetime
        t0 = datetime.datetime(2024, 1, 1)
        b0 = spark.createDataFrame([(1, t0), (2, t0)],
                                   "doc_id bigint, ts timestamp")
        sink(b0, 0)
        n = spark.read.parquet(out).count()
        sink(b0, 0)                          # at-least-once replay
        assert spark.read.parquet(out).count() == n == 2
        keys = spark.read.parquet(store + "/keys")
        assert keys.count() == 2             # not double-appended

    def test_seeded_store_blocks_history(self, spark, tmp_path):
        """Pre-seeding the store with a historical corpus's keys
        blocks re-ingestion of history."""
        from filters_spark.streaming.validate import dedup_stream_stored
        store = str(tmp_path / "store")
        out = str(tmp_path / "out")
        spark.range(0, 50).select(F.col("id").alias("doc_id")) \
            .write.parquet(store + "/keys")
        dummy = spark.createDataFrame(
            [], "doc_id bigint, ts timestamp")
        _s, sink = dedup_stream_stored(
            dummy, ["doc_id"], store, out, sink_id="q1")
        import datetime
        t0 = datetime.datetime(2024, 1, 1)
        b0 = spark.createDataFrame(
            [(10, t0), (49, t0), (100, t0)],
            "doc_id bigint, ts timestamp")
        sink(b0, 0)
        assert [r["doc_id"] for r in
                spark.read.parquet(out).collect()] == [100]

    def test_end_to_end_stream(self, spark, event_stream, tmp_path):
        """The composed operator on a real stream: within-stream
        duplicates drop via the watermark op, and the store ends up
        holding exactly the emitted keys."""
        from filters_spark.streaming.validate import dedup_stream_stored
        store = str(tmp_path / "store")
        out = str(tmp_path / "out")
        deduped, sink = dedup_stream_stored(
            event_stream, ["user_id"], store, out,
            watermark="100 days", sink_id="e2e")
        q = (deduped.writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(240)
        got = spark.read.parquet(out)
        n_users = got.select("user_id").distinct().count()
        assert got.count() == n_users
        keys = spark.read.parquet(store + "/keys")
        assert keys.count() == n_users


class TestStreamingQualityScreen:
    def test_gopher_monitor_matches_batch(self, spark):
        """The streaming quality screen is a COMPOSITION, not new
        API: expectations_monitor + a gopher_flags rollup as the
        checks callable — per-batch rule-fail counts land in the
        idempotent audit sink and must equal the static batch rollup
        over the same files (round 5)."""
        from filters_spark.functions import text

        tmp = tempfile.mkdtemp(prefix="fsqual_")
        # the testdata table is a single FILE; readStream needs a dir
        docs_dir = f"{tmp}/docs"
        os.makedirs(docs_dir)
        shutil.copy(f"{SF_DIR}/documents.parquet",
                    f"{docs_dir}/part-0.parquet")
        schema = spark.read.parquet(docs_dir).schema

        def checks(batch_df):
            flags = text.gopher_flags(F.col("text"), stopwords=("the", "a"))
            proj = batch_df.select(
                *[v.alias(k) for k, v in flags.items()])
            return proj.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                *[F.sum(k).cast("bigint").alias(f"fail_{k}")
                  for k in flags])

        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(docs_dir))
        q = (stream.writeStream
             .foreachBatch(st.expectations_monitor(checks, f"{tmp}/audit"))
             .trigger(availableNow=True)
             .option("checkpointLocation", f"{tmp}/ckpt")
             .start())
        q.processAllAvailable()
        q.stop()
        audit = spark.read.parquet(f"{tmp}/audit")
        got = audit.agg(
            F.sum("n_docs").alias("n"),
            F.sum("fail_word_count").alias("wc"),
            F.sum("fail_stopwords").alias("sw")).head()
        want = checks(spark.read.parquet(docs_dir)).head()
        assert got["n"] == want["n_docs"]
        assert got["wc"] == want["fail_word_count"]
        assert got["sw"] == want["fail_stopwords"]
        shutil.rmtree(tmp, ignore_errors=True)


class TestStreamingSketchMonitor:
    def test_hll_monitor_merges_to_batch_sketch(self, spark):
        """Streaming cardinality monitor as a COMPOSITION, not new
        API: expectations_monitor + hll_table as the checks callable.
        Per-batch ≤256-row sketches land in the audit sink; the
        cross-batch hll_merge (per-bucket max) must be BIT-IDENTICAL
        to the static sketch over the same files — HLL's merge is
        exact by construction (max of maxes), so the streaming
        monitor loses nothing vs a batch profile (round 5)."""
        from filters_spark.functions import sketch

        tmp = tempfile.mkdtemp(prefix="fshll_")
        docs_dir = f"{tmp}/docs"
        os.makedirs(docs_dir)
        # two files -> two micro-batches with maxFilesPerTrigger=1
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        d.where(F.col("doc_id") % 2 == 0).coalesce(1) \
            .write.parquet(f"{docs_dir}/even")
        d.where(F.col("doc_id") % 2 == 1).coalesce(1) \
            .write.parquet(f"{docs_dir}/odd")
        src = f"{docs_dir}/*"
        schema = d.schema

        def checks(batch_df):
            toks = (batch_df.select(
                F.explode(F.split("text", " ")).alias("t"))
                .where(F.col("t") != ""))
            return sketch.hll_table(toks, "t")

        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (stream.writeStream
             .foreachBatch(st.expectations_monitor(checks, f"{tmp}/audit"))
             .trigger(availableNow=True)
             .option("checkpointLocation", f"{tmp}/ckpt")
             .start())
        q.processAllAvailable()
        q.stop()

        audit = spark.read.parquet(f"{tmp}/audit")
        n_batches = audit.select("_batch_id").distinct().count()
        assert n_batches >= 2, "expected one micro-batch per file"
        merged = {(r["bucket"]): r["max_rho"] for r in
                  audit.groupBy("bucket")
                  .agg(F.max("max_rho").alias("max_rho")).collect()}
        static = {(r["bucket"]): r["max_rho"] for r in
                  checks(spark.read.parquet(src)).collect()}
        assert merged == static
        # and the derived estimates agree exactly (same sketch rows)
        est_m = sketch.hll_estimate(
            audit.groupBy("bucket").agg(
                F.max("max_rho").alias("max_rho"))).head()[0]
        est_s = sketch.hll_estimate(
            checks(spark.read.parquet(src))).head()[0]
        assert est_m == est_s
        shutil.rmtree(tmp, ignore_errors=True)


class TestStreamingCovarianceMonitor:
    def test_covariance_monitor_merges_to_batch_stats(self, spark):
        """Streaming feature-structure drift monitor as a COMPOSITION:
        expectations_monitor + covariance_pairs as the checks callable
        — per-batch exact pair numerators land in the audit sink, and
        covariance_merge over the batches is BIT-IDENTICAL to the
        static covariance over the same files (the additive-sums
        property; a per-source covariance shift is the re-embed /
        re-crawl drift signal) (round 5)."""
        from filters_spark.functions import projection as P

        tmp = tempfile.mkdtemp(prefix="fscov_")
        src_dir = f"{tmp}/vecs"
        os.makedirs(src_dir)
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
            .select("vec_id", F.slice("embedding", 1, 6).alias("embedding"))
        emb.where(F.col("vec_id") % 2 == 0).coalesce(1) \
            .write.parquet(f"{src_dir}/even")
        emb.where(F.col("vec_id") % 2 == 1).coalesce(1) \
            .write.parquet(f"{src_dir}/odd")
        src = f"{src_dir}/*"
        schema = spark.read.parquet(src).schema

        def checks(batch_df):
            return P.covariance_pairs(batch_df, dim=6, engine="expr")

        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (stream.writeStream
             .foreachBatch(st.expectations_monitor(checks, f"{tmp}/audit"))
             .trigger(availableNow=True)
             .option("checkpointLocation", f"{tmp}/ckpt")
             .start())
        q.processAllAvailable()
        q.stop()

        audit = spark.read.parquet(f"{tmp}/audit")
        assert audit.select("_batch_id").distinct().count() >= 2
        canon = lambda rs: {  # noqa: E731
            (r["i"], r["j"]): (r["n"], int(r["sxy"]), int(r["sxi"]),
                               int(r["sxj"]), int(r["cov_num"]))
            for r in rs}
        merged = canon(P.covariance_merge(
            audit.select("i", "j", "n", "sxy", "sxi", "sxj", "cov_num")
        ).collect())
        static = canon(checks(spark.read.parquet(src)).collect())
        assert merged == static
        shutil.rmtree(tmp, ignore_errors=True)


class TestStreamingObservedMetrics:
    def test_observe_surfaces_per_batch_metrics(self, spark):
        """The observe_contract docstring's streaming claim, pinned:
        df.observe(name, *exprs) on a streaming frame surfaces the
        same accumulator metrics per micro-batch under
        StreamingQueryProgress.observedMetrics — contract monitoring
        with ZERO extra passes in the streaming plane too (round 5)."""
        tmp = tempfile.mkdtemp(prefix="fsobs_")
        docs_dir = f"{tmp}/docs"
        os.makedirs(docs_dir)
        shutil.copy(f"{SF_DIR}/documents.parquet",
                    f"{docs_dir}/part-0.parquet")
        schema = spark.read.parquet(docs_dir).schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(docs_dir))
        observed = stream.observe(
            "contract",
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("text").isNull(), 1).otherwise(0))
            .alias("null_text"))
        q = (observed.writeStream.format("noop")
             .trigger(availableNow=True)
             .option("checkpointLocation", f"{tmp}/ckpt")
             .start())
        q.processAllAvailable()
        metrics = [p.observedMetrics["contract"]
                   for p in q.recentProgress
                   if "contract" in p.observedMetrics]
        q.stop()
        static = spark.read.parquet(docs_dir)
        assert sum(m["n"] for m in metrics) == static.count()
        assert sum(m["null_text"] for m in metrics) == 0
        shutil.rmtree(tmp, ignore_errors=True)


class TestGovernedStreamingLoop:
    """Round-9 capstone (VERDICT r8 next #9): the governed streaming
    arc pinned as one LOOP, not as parts — contract_merge_sink
    (validate + quarantine + exactly-once merge) feeding
    consume_changes feeding maintain_continuous_rollup, across clean
    batches, an under-tolerance batch, a POISON batch, a sink-level
    crash-replay, and a rollup-level crash-replay (cursor rewound
    after the destination commit)."""

    def _batch(self, spark, rows):
        return spark.createDataFrame(
            rows, "k bigint, ts timestamp, v string")

    def _full(self, spark, src):
        from filters_spark.sources import versioned as V
        return {
            str(r["b"]): (r["n"], r["s"])
            for r in (V.read_version(spark, src)
                      .groupBy(F.date_trunc("hour", "ts").alias("b"))
                      .agg(F.count("*").alias("n"),
                           F.sum(F.col("v").cast("long")).alias("s"))
                      .collect())
        }

    def _rolled(self, spark, dst):
        from filters_spark.sources import versioned as V
        return {
            str(r["bucket"]): (r["n_rows"], r["v_sum"])
            for r in V.read_version(spark, dst)
            .where(F.col("n_rows") > 0).collect()
        }

    def test_loop_with_poison_and_replays(self, spark, tmp_path):
        import datetime as dt

        import filters_spark as fs
        from filters_spark.functions.timeseries import (
            maintain_continuous_rollup,
        )
        from filters_spark.sources import versioned as V
        from filters_spark.streaming.validate import contract_merge_sink

        src, dst, cur, dead = (str(tmp_path / p)
                               for p in ("s", "d", "c", "dl"))
        schema = fs.ValidationSchema({"v": fs.Int()})
        sink = contract_merge_sink(src, "k", schema, dead,
                                   max_reject_rate=0.5,
                                   on_violation="skip", sink_id="loop")

        def roll():
            return maintain_continuous_rollup(
                spark, src, dst, "k", "ts", "hour",
                [("sum", "v", "v_sum")], cur)

        t = lambda h: dt.datetime(2024, 3, 1, h)  # noqa: E731
        # batch 0: clean, two buckets -> stream-init + bootstrap rollup
        sink(self._batch(spark, [(1, t(0), "10"), (2, t(1), "20")]), 0)
        assert roll() == 1
        assert self._rolled(spark, dst) == self._full(spark, src)
        # batch 1: one reject of three (under tolerance) -> clean
        # merged, reject quarantined; rollup follows incrementally
        sink(self._batch(spark, [(3, t(1), "30"), (4, t(2), "40"),
                                 (5, t(2), "bad")]), 1)
        assert roll() is not None
        assert self._rolled(spark, dst) == self._full(spark, src)
        # batch 2: POISON (2/3 reject) -> whole batch quarantined raw,
        # nothing committed, the LOOP continues: rollup sees no new
        # version and returns None
        head = V.latest_version(src)
        sink(self._batch(spark, [(6, t(3), "x"), (7, t(3), "y"),
                                 (8, t(3), "60")]), 2)
        assert V.latest_version(src) == head
        assert roll() is None
        # batch 3 + SINK-level crash-replay: the redelivered batch is
        # skipped by the manifest (query, batch) guard — one merge
        sink(self._batch(spark, [(9, t(4), "90")]), 3)
        head = V.latest_version(src)
        sink(self._batch(spark, [(9, t(4), "90")]), 3)   # replay
        assert V.latest_version(src) == head
        # ROLLUP-level crash-replay: destination committed but the
        # cursor "crashed" back -> replaying the span is idempotent
        assert roll() is not None
        before = self._rolled(spark, dst)
        with open(cur) as fh:
            acked = int(fh.read())
        with open(cur, "w") as fh:
            fh.write(str(acked - 1))         # rewind = crash window
        assert roll() is not None            # replays the last span
        assert self._rolled(spark, dst) == before == self._full(
            spark, src)
        # dead letter holds exactly the reject + the poison batch,
        # all as RAW strings (single readable type)
        dl = spark.read.parquet(dead)
        assert dict(dl.dtypes)["v"] == "string"
        assert {(r["k"], r["v"]) for r in dl.collect()} == {
            (5, "bad"), (6, "x"), (7, "y"), (8, "60")}
        # the table end-state is every clean committed row, coerced
        assert {(r["k"], r["v"]) for r in
                V.read_version(spark, src).collect()} == {
            (1, 10), (2, 20), (3, 30), (4, 40), (9, 90)}


class TestChangeFeedStream:
    """readStream over the stored change feed (VERDICT r9 next #5):
    a Python Data Source whose offsets are table VERSIONS, partitions
    are change FILES (executor-side pyarrow reads), with Spark's own
    checkpoint as the cursor — plus apply_changes_sink, the
    exactly-once CDC-replica write half."""

    def _src(self, spark, root):
        from filters_spark.sources import versioned as V
        src = os.path.join(root, "src")
        V.write_versioned(spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)],
            "k bigint, val string, n bigint"), src)           # v1
        V.merge_versioned(spark, src, spark.createDataFrame(
            [(2, "B", 99), (3, "c", 30)],
            "k bigint, val string, n bigint"), "k",
            store_changes=True)                               # v2
        V.delete_where(spark, src, "k = 1",
                       store_changes_key="k")                 # v3
        return src

    def _run(self, stream, ckpt, name=None, fb=None):
        w = stream.writeStream.option("checkpointLocation", ckpt)
        if fb is not None:
            w = w.foreachBatch(fb)
        else:
            w = w.format("memory").queryName(name)
        q = w.trigger(availableNow=True).start()
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )
        try:
            q.awaitTermination(300)
        except StreamingQueryException:
            pass                     # tests inspect q.exception()
        return q

    def test_feed_with_commit_versions(self, spark, tmp_path):
        from filters_spark.streaming import change_feed_stream
        src = self._src(spark, str(tmp_path))
        stream = change_feed_stream(spark, src, starting_version=2)
        q = self._run(stream, str(tmp_path / "c1"), "cfs_feed")
        assert q.exception() is None
        got = {(r["_change_type"], r["k"], r["_commit_version"])
               for r in spark.sql("select * from cfs_feed").collect()}
        assert got == {("update_preimage", 2, 2),
                       ("update_postimage", 2, 2),
                       ("insert", 3, 2),
                       ("delete", 1, 3)}

    def test_checkpoint_resume_serves_only_new_commits(self, spark,
                                                       tmp_path):
        from filters_spark.sources import versioned as V
        from filters_spark.streaming import change_feed_stream
        src = self._src(spark, str(tmp_path))
        ckpt = str(tmp_path / "c2")
        # memory sink can't recover a checkpoint; foreachBatch can —
        # collect each run's rows driver-side
        run1: list = []
        q = self._run(change_feed_stream(spark, src, starting_version=2),
                      ckpt, fb=lambda b, _i: run1.extend(
                          map(tuple, b.collect())))
        assert q.exception() is None
        assert len(run1) == 4
        # new commit AFTER the first run
        V.merge_versioned(spark, src, spark.createDataFrame(
            [(9, "z", 90)], "k bigint, val string, n bigint"), "k",
            store_changes=True)                               # v4
        run2: list = []
        q = self._run(change_feed_stream(spark, src, starting_version=2),
                      ckpt, fb=lambda b, _i: run2.extend(
                          map(tuple, b.collect())))
        assert q.exception() is None
        got = {(r[0], r[1], r[-1]) for r in run2}
        assert got == {("insert", 9, 4)}      # v2/v3 NOT re-served

    def test_default_start_streams_only_future_commits(self, spark,
                                                       tmp_path):
        from filters_spark.sources import versioned as V
        from filters_spark.streaming import change_feed_stream
        src = self._src(spark, str(tmp_path))
        ckpt = str(tmp_path / "c3")
        # default start resolves at QUERY start (head+1): the first
        # run serves nothing, a later commit arrives on resume
        run1: list = []
        q = self._run(change_feed_stream(spark, src), ckpt,
                      fb=lambda b, _i: run1.extend(
                          map(tuple, b.collect())))
        assert q.exception() is None and run1 == []
        V.merge_versioned(spark, src, spark.createDataFrame(
            [(8, "y", 80)], "k bigint, val string, n bigint"), "k",
            store_changes=True)                               # v4
        run2: list = []
        q = self._run(change_feed_stream(spark, src), ckpt,
                      fb=lambda b, _i: run2.extend(
                          map(tuple, b.collect())))
        assert q.exception() is None
        assert {(r[1], r[-1]) for r in run2} == {(8, 4)}

    def test_nonstored_commit_fails_loudly(self, spark, tmp_path):
        from filters_spark.sources import versioned as V
        from filters_spark.streaming import change_feed_stream
        src = self._src(spark, str(tmp_path))
        # v4 WITHOUT stored changes breaks the span
        V.merge_versioned(spark, src, spark.createDataFrame(
            [(7, "q", 70)], "k bigint, val string, n bigint"), "k")
        stream = change_feed_stream(spark, src, starting_version=2)
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )
        with pytest.raises(StreamingQueryException,
                           match="no stored change files"):
            q = self._run(stream, str(tmp_path / "c4"), "cfs_err")
            if q.exception() is not None:
                raise q.exception()

    def test_replica_apply_with_deletes(self, spark, tmp_path):
        from filters_spark.sources import versioned as V
        from filters_spark.streaming import (
            apply_changes_sink,
            change_feed_stream,
        )
        src = str(tmp_path / "bigsrc")
        base = (spark.range(50)
                .select(F.col("id").alias("k"), F.lit("x").alias("val"),
                        (F.col("id") * 2).alias("n"))
                .repartitionByRange(4, "k"))
        V.write_versioned(base, src)                          # v1
        V.merge_versioned(spark, src, spark.createDataFrame(
            [(5, "U", 0), (100, "new", 7)],
            "k bigint, val string, n bigint"), "k",
            store_changes=True)                               # v2
        V.delete_where(spark, src, "k = 7",
                       store_changes_key="k")                 # v3
        dst = str(tmp_path / "replica")
        # bootstrap the replica at the stream's starting point (v1),
        # multi-file so the COW apply leaves untouched files
        V.write_versioned(V.read_version(spark, src, 1)
                          .repartitionByRange(4, "k"), dst)
        q = self._run(change_feed_stream(spark, src, starting_version=2),
                      str(tmp_path / "c5"),
                      fb=apply_changes_sink(dst, "k", sink_id="rep5"))
        assert q.exception() is None
        assert sorted(map(tuple, V.read_version(spark, dst).collect())) \
            == sorted(map(tuple, V.read_version(spark, src).collect()))
        # the apply was COPY-ON-WRITE: the replica's new manifest
        # carries untouched v1 files by reference
        m = V._read_manifest(dst, V.latest_version(dst))
        assert m["op"] == "cdc-apply"
        assert any(f.startswith("snap/v=1/") for f in m["data_files"])

    def test_replica_apply_mor(self, spark, tmp_path):
        """apply_changes_sink(mode='mor'): the batch lands as vectors
        + appends — zero replica files rewritten, replica ≡ source,
        and a second batch stacks correctly."""
        from filters_spark.sources import versioned as V
        from filters_spark.streaming import (
            apply_changes_sink,
            change_feed_stream,
        )
        src = str(tmp_path / "bigsrc")
        base = (spark.range(50)
                .select(F.col("id").alias("k"),
                        F.lit("x").alias("val"),
                        (F.col("id") * 2).alias("n"))
                .repartitionByRange(4, "k"))
        V.write_versioned(base, src)                          # v1
        V.merge_versioned(spark, src, spark.createDataFrame(
            [(5, "U", 0), (100, "new", 7)],
            "k bigint, val string, n bigint"), "k",
            store_changes=True)                               # v2
        V.delete_where(spark, src, "k = 7",
                       store_changes_key="k")                 # v3
        dst = str(tmp_path / "replica")
        V.write_versioned(V.read_version(spark, src, 1)
                          .repartitionByRange(4, "k"), dst)
        ck = str(tmp_path / "cmor")
        q = self._run(
            change_feed_stream(spark, src, starting_version=2), ck,
            fb=apply_changes_sink(dst, "k", sink_id="repm",
                                  mode="mor"))
        assert q.exception() is None
        assert sorted(map(tuple,
                          V.read_version(spark, dst).collect())) \
            == sorted(map(tuple,
                          V.read_version(spark, src).collect()))
        m = V._read_manifest(dst, V.latest_version(dst))
        assert m.get("apply_mode") == "mor"
        assert m.get("dv_dirs")
        # every v1 replica file still carried by reference, and the
        # batch's changed and inserted rows appended as ONE file
        assert sum(1 for f in m["data_files"]
                   if f.startswith("snap/v=1/")) == 4
        assert len(m["data_files"]) == 5
        # second batch on the same checkpoint stacks on the vectors
        V.merge_versioned(spark, src, spark.createDataFrame(
            [(5, "V", 1)], "k bigint, val string, n bigint"), "k",
            store_changes=True)                               # v4
        q = self._run(
            change_feed_stream(spark, src, starting_version=2), ck,
            fb=apply_changes_sink(dst, "k", sink_id="repm",
                                  mode="mor"))
        assert q.exception() is None
        assert sorted(map(tuple,
                          V.read_version(spark, dst).collect())) \
            == sorted(map(tuple,
                          V.read_version(spark, src).collect()))

    def test_crash_replay_is_exactly_once(self, spark, tmp_path):
        from filters_spark.sources import versioned as V
        from filters_spark.streaming import (
            apply_changes_sink,
            change_feed_stream,
        )
        src = self._src(spark, str(tmp_path))
        dst = str(tmp_path / "replica")
        ckpt = str(tmp_path / "c6")
        V.write_versioned(V.read_version(spark, src, 1), dst)
        inner = apply_changes_sink(dst, "k", sink_id="rep6")
        state = {"crashed": False}

        def crashing(batch_df, batch_id):
            inner(batch_df, batch_id)        # side effect LANDS...
            if not state["crashed"]:
                state["crashed"] = True      # ...then the "crash"
                raise RuntimeError("injected crash after commit")

        q = self._run(change_feed_stream(spark, src, starting_version=2),
                      ckpt, fb=crashing)
        assert q.exception() is not None     # stream died mid-batch
        head_after_crash = V.latest_version(dst)
        # restart from the SAME checkpoint: Spark redelivers the
        # uncommitted batch; the manifest guard skips the re-apply
        q2 = self._run(change_feed_stream(spark, src, starting_version=2),
                       ckpt, fb=inner)
        assert q2.exception() is None
        assert V.latest_version(dst) == head_after_crash  # no double
        assert sorted(map(tuple, V.read_version(spark, dst).collect())) \
            == sorted(map(tuple, V.read_version(spark, src).collect()))

    def test_cdc_feed_through_watermarked_window(self, spark,
                                                 tmp_path):
        """The change-feed source composes with the standard
        watermarked tumbling-window aggregation (r10 VERDICT missing
        #5's remaining wording): insert events carrying a ts column
        roll up per window, late-vs-watermark rows drop by the
        engine's own semantics."""
        import datetime as dt

        from filters_spark.sources import versioned as V
        from filters_spark.streaming import change_feed_stream

        src = str(tmp_path / "wsrc")
        t = lambda m: dt.datetime(2024, 5, 1, 12, m)  # noqa: E731
        V.write_versioned(spark.createDataFrame(
            [(0, t(0), 1)], "k bigint, ts timestamp, v bigint"), src)
        for i in range(1, 4):                 # v2-v4: stored feeds
            V.merge_versioned(spark, src, spark.createDataFrame(
                [(10 * i + j, t(i * 10 + j), 1) for j in range(3)],
                "k bigint, ts timestamp, v bigint"), "k",
                store_changes=True)
        feed = change_feed_stream(spark, src, starting_version=2)
        agg = (feed.where(F.col("_change_type") == "insert")
               .withWatermark("ts", "1 hour")
               .groupBy(F.window("ts", "10 minutes").alias("w"))
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("v").alias("sv")))
        # update mode: per-window rows emit as they update (append
        # would hold them until the watermark passes each window's
        # end — nothing closes inside a single availableNow batch)
        q = (agg.writeStream.format("memory").queryName("t_cdc_win")
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(240)
        got = {(r["w"]["start"].minute, r["n"], r["sv"]) for r in
               spark.sql("select * from t_cdc_win").collect()}
        assert got == {(10, 3, 3), (20, 3, 3), (30, 3, 3)}

    def test_governed_loop_as_one_stream(self, spark, tmp_path):
        # the TestGovernedStreamingLoop arc with the CONSUME side as a
        # running stream: contract-gated ingest (incl. a POISON batch
        # that must not reach the feed) -> readStream -> replica
        import datetime as dt

        from filters_spark.sources import versioned as V
        from filters_spark.streaming import (
            apply_changes_sink,
            change_feed_stream,
        )
        from filters_spark.streaming.validate import contract_merge_sink

        src, dst, dead = (str(tmp_path / p) for p in ("s", "d", "dl"))
        schema = fs.ValidationSchema({"v": fs.Int()})
        sink = contract_merge_sink(src, "k", schema, dead,
                                   max_reject_rate=0.5,
                                   on_violation="skip", sink_id="g10",
                                   store_changes=True)
        t = lambda h: dt.datetime(2024, 3, 1, h)  # noqa: E731
        sink(spark.createDataFrame(
            [(1, t(0), "10"), (2, t(1), "20")],
            "k bigint, ts timestamp, v string"), 0)           # v1 init
        head0 = V.latest_version(src)
        # bootstrap replica at current state, stream from head+1
        V.write_versioned(V.read_version(spark, src), dst)
        stream = change_feed_stream(spark, src,
                                    starting_version=head0 + 1)
        sink(spark.createDataFrame(
            [(3, t(2), "30")], "k bigint, ts timestamp, v string"), 1)
        # POISON batch: every row rejects -> commit refused, no
        # version, nothing enters the feed
        sink(spark.createDataFrame(
            [(6, t(2), "x"), (7, t(2), "y")],
            "k bigint, ts timestamp, v string"), 2)
        assert V.latest_version(src) == head0 + 1
        sink(spark.createDataFrame(
            [(2, t(1), "25")], "k bigint, ts timestamp, v string"), 3)
        q = self._run(stream, str(tmp_path / "c7"),
                      fb=apply_changes_sink(dst, "k", sink_id="g10r"))
        assert q.exception() is None

        def snap(path):
            return {r["k"]: (r["v"], r["ts"]) for r in
                    V.read_version(spark, path).collect()}

        assert snap(dst) == snap(src)
        assert snap(dst)[2][0] == 25 and 3 in snap(dst)

    def test_stream_crosses_a_restore_commit(self, spark, tmp_path):
        # a restore WITH store_changes_key streams its inverse feed;
        # the replica applied from the stream lands back on v1 state
        from filters_spark.sources import versioned as V
        from filters_spark.streaming import (
            apply_changes_sink,
            change_feed_stream,
        )
        src = os.path.join(str(tmp_path), "src")
        V.write_versioned(spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)],
            "k bigint, val string, n bigint"), src)           # v1
        dst = str(tmp_path / "replica")
        V.write_versioned(V.read_version(spark, src), dst)
        V.merge_versioned(spark, src, spark.createDataFrame(
            [(2, "BAD", 0), (9, "bad", 9)],
            "k bigint, val string, n bigint"), "k",
            store_changes=True)                               # v2
        V.restore_version(spark, src, 1, store_changes_key="k")  # v3
        q = self._run(change_feed_stream(spark, src, starting_version=2),
                      str(tmp_path / "c8"),
                      fb=apply_changes_sink(dst, "k", sink_id="rst"))
        assert q.exception() is None
        assert sorted(map(tuple, V.read_version(spark, dst).collect())) \
            == sorted(map(tuple, V.read_version(spark, src, 1).collect()))
        # a restore WITHOUT stored feed breaks the stream loudly
        V.merge_versioned(spark, src, spark.createDataFrame(
            [(3, "c", 30)], "k bigint, val string, n bigint"), "k",
            store_changes=True)                               # v4
        V.restore_version(spark, src, 1)                      # v5, no feed
        q2 = self._run(change_feed_stream(spark, src,
                                          starting_version=4),
                       str(tmp_path / "c9"),
                       fb=lambda b, i: None)
        assert q2.exception() is not None
        assert "no stored change files" in str(q2.exception())


class TestChangeFeedRateLimit:
    def test_max_versions_per_batch(self, spark, tmp_path):
        """maxVersionsPerBatch=1: a backlog of commits drains one
        commit per micro-batch (bounded catch-up), and the union is
        the complete feed."""
        import os as _os

        from filters_spark.sources import versioned as V
        from filters_spark.streaming import change_feed_stream
        src = _os.path.join(str(tmp_path), "src")
        V.write_versioned(spark.createDataFrame(
            [(1, 10), (2, 20)], "k bigint, n bigint"), src)      # v1
        for step in range(3):                                    # v2-v4
            V.merge_versioned(spark, src, spark.createDataFrame(
                [(10 + step, 100 + step)], "k bigint, n bigint"),
                "k", store_changes=True)
        batches: list = []

        def fb(df, bid):
            batches.append(
                {int(r["_commit_version"]) for r in
                 df.select("_commit_version").distinct().collect()})

        stream = change_feed_stream(spark, src, starting_version=2,
                                    max_versions_per_batch=1)
        # availableNow computes its end ONCE (documented caveat), so
        # drain the backlog with a continuous trigger and stop once
        # three commits arrived
        import time as _time
        q = (stream.writeStream
             .option("checkpointLocation", str(tmp_path / "ck"))
             .foreachBatch(fb)
             .trigger(processingTime="0 seconds").start())
        deadline = _time.time() + 240
        while _time.time() < deadline:
            if sum(1 for b in batches if b) >= 3:
                break
            _time.sleep(0.5)
        q.stop()
        q.awaitTermination(60)
        nonempty = [b for b in batches if b]
        # one commit per micro-batch, three commits total, in order
        assert all(len(b) == 1 for b in nonempty)
        assert [min(b) for b in nonempty][:3] == [2, 3, 4]

    def test_guard(self, spark, tmp_path):
        import os as _os

        import pytest
        from filters_spark.sources import versioned as V
        from filters_spark.streaming import change_feed_stream
        src = _os.path.join(str(tmp_path), "src")
        V.write_versioned(spark.createDataFrame(
            [(1, 10)], "k bigint, n bigint"), src)
        V.merge_versioned(spark, src, spark.createDataFrame(
            [(2, 20)], "k bigint, n bigint"), "k", store_changes=True)
        with pytest.raises(ValueError, match="maxVersionsPerBatch"):
            change_feed_stream(spark, src, max_versions_per_batch=0)

    def test_restart_offset_never_regresses(self, spark, tmp_path):
        """r10 ADVICE regression, protocol-level: a FRESH capped
        reader (simulating a restarted query) whose startingVersion
        lags the committed checkpoint must not re-serve delivered
        commits.  Replays Spark's exact post-restart call sequence:
        latestOffset from a stale cursor (which CAN return below the
        committed offset — the API hides the checkpoint from the
        reader), then the regressed span, then the catch-up span
        that overlaps already-delivered commits."""
        import os as _os

        from filters_spark.sources import versioned as V
        from filters_spark.streaming.change_source import (
            _ChangeFeedStreamReader,
        )
        src = _os.path.join(str(tmp_path), "src")
        V.write_versioned(spark.createDataFrame(
            [(1, 10)], "k bigint, n bigint"), src)         # v1
        for step in range(5):                              # v2-v6
            V.merge_versioned(spark, src, spark.createDataFrame(
                [(10 + step, 100 + step)], "k bigint, n bigint"),
                "k", store_changes=True)
        schema_json = spark.createDataFrame(
            [], "k bigint, n bigint, _change_type string").schema.json()
        names = ("k", "n", "_change_type")
        # restarted query: startingVersion=2, committed checkpoint=4
        r = _ChangeFeedStreamReader(src, 2, names, schema_json,
                                    max_versions=1)
        end1 = r.latestOffset()                 # stale cursor = 1
        # Spark plans (committed=4, end1) whatever end1 is
        p1 = r.partitions({"version": 4}, end1)
        assert p1 == []                         # nothing re-served
        r.commit(end1)
        end2 = r.latestOffset()
        assert int(end2["version"]) == 5        # cursor-synced cap
        p2 = r.partitions(end1 if int(end1["version"]) > 4
                          else {"version": 4}, end2)
        assert sorted({p.version for p in p2}) == [5]
        r.commit(end2)
        end3 = r.latestOffset()
        assert int(end3["version"]) == 6
        p3 = r.partitions(end2, end3)
        assert sorted({p.version for p in p3}) == [6]
        # uncommitted-batch replay on a fresh reader is NOT skipped
        r2 = _ChangeFeedStreamReader(src, 2, names, schema_json,
                                     max_versions=1)
        rep = r2.partitions({"version": 3}, {"version": 4})
        assert sorted({p.version for p in rep}) == [4]

    def test_restart_from_committed_checkpoint_no_duplicates(
            self, spark, tmp_path):
        """End-to-end restart: drain a capped backlog to the
        checkpoint, stop, add commits, restart the SAME checkpoint
        with the SAME lagging startingVersion — only the new commits
        may arrive (the buggy stale-cursor cap re-served the whole
        backlog as duplicate CDC rows)."""
        import os as _os
        import time as _time

        from filters_spark.sources import versioned as V
        from filters_spark.streaming import change_feed_stream
        src = _os.path.join(str(tmp_path), "src")
        ck = str(tmp_path / "ck")
        V.write_versioned(spark.createDataFrame(
            [(1, 10)], "k bigint, n bigint"), src)         # v1
        for step in range(3):                              # v2-v4
            V.merge_versioned(spark, src, spark.createDataFrame(
                [(10 + step, 100 + step)], "k bigint, n bigint"),
                "k", store_changes=True)
        seen: list = []

        def fb(df, bid):
            seen.append(
                {int(r["_commit_version"]) for r in
                 df.select("_commit_version").distinct().collect()})

        def run_until(n_commits):
            stream = change_feed_stream(spark, src, starting_version=2,
                                        max_versions_per_batch=1)
            q = (stream.writeStream
                 .option("checkpointLocation", ck)
                 .foreachBatch(fb)
                 .trigger(processingTime="0 seconds").start())
            deadline = _time.time() + 240
            while _time.time() < deadline:
                if len(set().union(*seen)) >= n_commits if seen else False:
                    break
                _time.sleep(0.5)
            q.stop()
            q.awaitTermination(60)

        run_until(3)
        assert set().union(*seen) == {2, 3, 4}
        seen.clear()
        for step in range(2):                              # v5-v6
            V.merge_versioned(spark, src, spark.createDataFrame(
                [(20 + step, 200 + step)], "k bigint, n bigint"),
                "k", store_changes=True)
        run_until(2)
        got = set().union(*seen) if seen else set()
        assert got == {5, 6}, f"re-delivered commits: {sorted(got)}"
