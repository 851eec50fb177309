"""Snapshot-versioned tables (sources.versioned): commit atomicity,
time travel, optimistic concurrency, merge isolation, retention —
the invariants a DuckDB oracle cannot express (filesystem protocol),
with the merge ARITHMETIC hash-gated by rel_merge_snapshot."""

import os

import pytest
from pyspark.sql import functions as F

from conftest import spark_jobs
from filters_spark.sources import versioned as V


@pytest.fixture()
def tpath(tmp_path):
    return str(tmp_path / "table")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, val string, n bigint")


class TestWriteRead:
    def test_roundtrip_and_versions(self, spark, tpath):
        v1 = V.write_versioned(_df(spark, [(1, "a", 10), (2, "b", 20)]), tpath)
        assert v1 == 1
        assert V.latest_version(tpath) == 1
        assert V.versions(tpath) == [1]
        got = {r["k"]: (r["val"], r["n"])
               for r in V.read_version(spark, tpath).collect()}
        assert got == {1: ("a", 10), 2: ("b", 20)}

    def test_empty_snapshot_reads_with_schema(self, spark, tpath):
        V.write_versioned(_df(spark, []), tpath)
        out = V.read_version(spark, tpath)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == ["k", "val", "n"]

    def test_read_missing_table_and_version(self, spark, tpath):
        with pytest.raises(ValueError, match="no snapshots"):
            V.read_version(spark, tpath)
        V.write_versioned(_df(spark, [(1, "a", 1)]), tpath)
        with pytest.raises(ValueError, match="no snapshot 9"):
            V.read_version(spark, tpath, 9)


class TestTimeTravelAndMerge:
    def test_merge_creates_snapshot_old_version_unchanged(self, spark, tpath):
        V.write_versioned(_df(spark, [(1, "a", 10), (2, "b", 20)]), tpath)
        updates = _df(spark, [(2, "B", 99), (3, "c", 30)])
        v2 = V.merge_versioned(spark, tpath, updates, "k")
        assert v2 == 2
        # time travel: v1 byte-identical to the original write
        old = {r["k"]: r["n"]
               for r in V.read_version(spark, tpath, 1).collect()}
        assert old == {1: 10, 2: 20}
        new = {r["k"]: (r["val"], r["n"])
               for r in V.read_version(spark, tpath).collect()}
        assert new == {1: ("a", 10), 2: ("B", 99), 3: ("c", 30)}

    def test_merge_on_empty_table_raises(self, spark, tpath):
        with pytest.raises(ValueError, match="no base snapshot"):
            V.merge_versioned(spark, tpath, _df(spark, [(1, "a", 1)]), "k")

    def test_expected_parent_mismatch_raises(self, spark, tpath):
        V.write_versioned(_df(spark, [(1, "a", 1)]), tpath)
        with pytest.raises(V.ConcurrentWriteError, match="moved"):
            V.write_versioned(_df(spark, [(2, "b", 2)]), tpath,
                              expected_parent=7)
        # lost-update protection: merge derived from v1 fails after a
        # concurrent commit lands v2
        V.write_versioned(_df(spark, [(9, "z", 9)]), tpath)
        with pytest.raises(V.ConcurrentWriteError):
            V.merge_versioned(spark, tpath, _df(spark, [(1, "A", 2)]),
                              "k", expected_parent=1)


class TestCommitProtocol:
    def test_claimed_version_rejects_second_writer(self, spark, tpath):
        V.write_versioned(_df(spark, [(1, "a", 1)]), tpath)
        claim = os.path.join(tpath, "_manifests", "2.claim")
        open(claim, "w").close()            # a racing writer's claim
        with pytest.raises(V.ConcurrentWriteError, match="claimed"):
            V.write_versioned(_df(spark, [(2, "b", 2)]), tpath)
        os.remove(claim)
        assert V.write_versioned(_df(spark, [(2, "b", 2)]), tpath) == 2

    def test_crashed_writer_invisible_to_readers(self, spark, tpath):
        """Data + manifest written but pointer never flipped: readers
        still see the old head; the next commit skips past the
        orphaned number instead of blocking on it."""
        V.write_versioned(_df(spark, [(1, "a", 1)]), tpath)
        # simulate the crash: full snapshot 2 exists, _latest still 1
        _df(spark, [(8, "x", 8)]).write.mode("overwrite").parquet(
            V._snap_dir(tpath, 2))
        import json
        man = {"version": 2, "parent": 1, "op": "write",
               "schema_json": _df(spark, []).schema.json(), "n_files": 1}
        with open(os.path.join(tpath, "_manifests", "2.json"), "w") as fh:
            json.dump(man, fh)
        assert V.latest_version(tpath) == 1
        assert {r["k"] for r in V.read_version(spark, tpath).collect()} \
            == {1}
        v3 = V.write_versioned(_df(spark, [(3, "c", 3)]), tpath)
        assert v3 == 3
        assert V.latest_version(tpath) == 3

    def test_failed_side_write_surfaces_and_retry_commits(self, spark,
                                                          tpath):
        """A side write (stored feed, delete vectors) that fails
        aborts the commit: its error surfaces, a second side write's
        failure rides along as a note, the head stays put, the table
        verifies clean, and a retry commits."""
        V.write_versioned(_df(spark, [(1, "a", 1), (2, "b", 2)]), tpath)
        nxt = _df(spark, [(1, "a", 1), (3, "c", 3)])
        boom = lambda msg: F.when(  # noqa: E731
            F.col("k") >= 0, F.raise_error(F.lit(msg))).otherwise(
            F.col("k")).alias("k")
        bad_feed = nxt.select(F.lit("insert").alias("_change_type"),
                              boom("feed-write boom"), "val", "n")
        bad_dv = nxt.select(F.lit("x").alias("_file"), boom("dv boom"))
        with pytest.raises(Exception, match="feed-write boom") as ei:
            V.write_versioned(nxt, tpath, changes_df=bad_feed,
                              reuse_files=[], dv_df=bad_dv)
        assert any("dv boom" in n
                   for n in getattr(ei.value, "__notes__", []))
        assert V.latest_version(tpath) == 1
        V.verify_versioned(tpath, strict=True)
        feed = nxt.select(F.lit("insert").alias("_change_type"),
                          "k", "val", "n")
        assert V.write_versioned(nxt, tpath, changes_df=feed) == 2
        assert sorted(r["k"] for r in
                      V.read_version(spark, tpath).collect()) == [1, 3]
        V.verify_versioned(tpath, strict=True)


    def _reclaimed(self, tpath, version):
        assert V.latest_version(tpath) == version - 1
        for d in (V._snap_dir(tpath, version),
                  V._changes_dir(tpath, version),
                  V._dv_dir(tpath, version)):
            assert not os.path.exists(d), d
        assert not [n for n in os.listdir(os.path.join(tpath,
                                                       "_manifests"))
                    if n.startswith(f"{version}.")]
        issues = V.verify_versioned(tpath, strict=True)
        assert not [i for i in issues if "orphan" in i], issues

    def test_failed_main_write_reclaims_its_dirs(self, spark, tpath):
        """The main snapshot write fails beside the stored-feed and
        delete-vector side writes: the error surfaces, the head stays,
        the commit's snap/changes/dv dirs are gone, and a retry commits
        as the same version."""
        V.write_versioned(_df(spark, [(1, "a", 1), (2, "b", 2)]), tpath,
                          stats_cols=["k"])
        nxt = _df(spark, [(1, "a", 1), (3, "c", 3)])
        bad = nxt.select(F.when(F.col("k") == 3, F.raise_error(
            F.lit("main-write boom"))).otherwise(F.col("k")).alias("k"),
            "val", "n")
        feed = nxt.select(F.lit("insert").alias("_change_type"),
                          "k", "val", "n")
        dv = nxt.select(F.lit("x").alias("_file"), "k")
        with pytest.raises(Exception, match="main-write boom"):
            V.write_versioned(bad, tpath, changes_df=feed, reuse_files=[],
                              dv_df=dv, stats_cols=["k"])
        self._reclaimed(tpath, 2)
        assert V.write_versioned(nxt, tpath, changes_df=feed) == 2
        assert sorted(r["k"] for r in
                      V.read_version(spark, tpath).collect()) == [1, 3]

    def test_second_dv_key_fails_before_any_write(self, spark, tpath):
        """A table has one delete-vector key: a ``dv_df`` keyed on
        another column, committed over live vectors, fails before any
        write — the head stays, the version leaves no files, and the
        table verifies clean."""
        V.write_versioned(_df(spark, [(1, "a", 1), (2, "b", 2)]), tpath,
                          stats_cols=["k"])
        V.delete_where(spark, tpath, F.col("k") == 1, mode="mor", key="k")
        m = V._read_manifest(tpath, 2)
        assert m["dv_key"] == "k" and m["dv_dirs"] == [2]
        nxt = _df(spark, [(3, "c", 3)])
        dv = nxt.select(F.lit("x").alias("_file"), "n")
        with pytest.raises(ValueError, match="one key per table"):
            V.write_versioned(nxt, tpath, reuse_files=m["data_files"],
                              dv_df=dv, stats_cols=["k"])
        self._reclaimed(tpath, 3)
        assert sorted(r["k"] for r in
                      V.read_version(spark, tpath).collect()) == [2]

    def test_failed_sidecar_build_reclaims_its_dirs(self, spark, tpath):
        """A sidecar build fails after the data files are written (a
        non-positive value in an HDR column): same guarantees."""
        V.write_versioned(_df(spark, [(1, "a", 1)]), tpath)
        nxt = _df(spark, [(1, "a", 1), (2, "b", -5)])
        feed = nxt.select(F.lit("insert").alias("_change_type"),
                          "k", "val", "n")
        with pytest.raises(ValueError, match="non-positive"):
            V.write_versioned(nxt, tpath, changes_df=feed,
                              stats_cols=["k"], hdr_cols=["n"])
        self._reclaimed(tpath, 2)
        assert V.write_versioned(nxt, tpath, changes_df=feed,
                                 stats_cols=["k"]) == 2
        assert V.read_version(spark, tpath).count() == 2

    @pytest.mark.parametrize("at", ["manifest", "flip"])
    def test_failed_commit_point_does_not_count(self, spark, tpath,
                                                monkeypatch, at):
        """A sink commit that fails at its manifest write (after the
        file landed) or at its head flip does not count as committed:
        the error surfaces, the head stays, the version is not listed,
        its manifest and dirs are gone, the table verifies clean, and
        Spark's replay of the batch lands."""
        from filters_spark.streaming.validate import versioned_merge_sink

        sink = versioned_merge_sink(tpath, "k", sink_id="s")
        sink(_df(spark, [(1, "a", 1)]), 0)                    # v1
        batch = _df(spark, [(2, "b", 2)])
        real_write = V._write_json

        def write_json(dest, obj):
            real_write(dest, obj)
            if os.path.basename(dest) == "2.json":
                raise OSError("manifest boom")

        def flip(path, version):
            raise OSError("flip boom")

        if at == "manifest":
            monkeypatch.setattr(V, "_write_json", write_json)
        else:
            monkeypatch.setattr(V, "_flip_latest", flip)
        with pytest.raises(OSError, match=f"{at} boom"):
            sink(batch, 1)
        monkeypatch.undo()
        self._reclaimed(tpath, 2)
        assert V.versions(tpath) == [1]
        assert V.table_history(spark, tpath).count() == 1
        sink(batch, 1)                                        # replay
        assert V.latest_version(tpath) == 2
        assert sorted(r["k"] for r in
                      V.read_version(spark, tpath).collect()) == [1, 2]
        V.verify_versioned(tpath, strict=True)

    def test_unflipped_manifest_is_not_committed(self, spark, tpath):
        """A writer killed between manifest write and head flip leaves
        a manifest off the head's parent chain: versions, history,
        timestamp travel and the sink replay guard ignore it, verify
        notes it, and the next commit numbers past it."""
        import time

        from filters_spark.streaming.validate import versioned_merge_sink

        sink = versioned_merge_sink(tpath, "k", sink_id="s")
        sink(_df(spark, [(1, "a", 1)]), 0)                    # v1
        sink(_df(spark, [(2, "b", 2)]), 1)                    # v2
        V._flip_latest(tpath, 1)          # as if the flip never ran
        assert V.versions(tpath) == [1]
        assert [r["version"] for r in
                V.table_history(spark, tpath).collect()] == [1]
        assert V.version_as_of(tpath, time.time()) == 1
        issues = V.verify_versioned(tpath, strict=True)
        assert any(i.startswith("note: orphan manifest 2.json")
                   for i in issues), issues
        sink(_df(spark, [(2, "b", 2)]), 1)                    # replay
        assert V.versions(tpath) == [1, 3]
        assert sorted(r["k"] for r in
                      V.read_version(spark, tpath).collect()) == [1, 2]


class TestVacuum:
    def test_retention_keeps_recent_drops_old(self, spark, tpath):
        for i in range(1, 5):
            V.write_versioned(_df(spark, [(i, "v", i)]), tpath)
        removed = V.vacuum_versioned(tpath, keep_last=2)
        assert removed == [1, 2]
        # recent versions still read
        assert V.read_version(spark, tpath, 3).count() == 1
        assert V.read_version(spark, tpath, 4).count() == 1
        # vacuumed version: explicit error, history still listable
        with pytest.raises(ValueError, match="vacuumed"):
            V.read_version(spark, tpath, 1)
        assert V.versions(tpath) == [1, 2, 3, 4]

    def test_keep_last_bound(self, spark, tpath):
        with pytest.raises(ValueError, match="keep_last"):
            V.vacuum_versioned(tpath, keep_last=0)


class TestFileSkipping:
    def _write_clustered(self, spark, tpath):
        df = (spark.range(1000)
              .select(F.col("id").alias("k"),
                      F.lit("v").alias("val"),
                      (F.col("id") * 2).alias("n"))
              .repartitionByRange(8, "k"))
        return V.write_versioned(df, tpath, stats_cols=["k"])

    def test_pruned_read_equals_full_filter(self, spark, tpath):
        self._write_clustered(spark, tpath)
        pruned = (V.read_version(spark, tpath, where=("k", 100, 199))
                  .where(F.col("k").between(100, 199)))
        full = (V.read_version(spark, tpath)
                .where(F.col("k").between(100, 199)))
        assert sorted(r["k"] for r in pruned.collect()) == \
            sorted(r["k"] for r in full.collect())

    def test_prune_actually_skips_files(self, spark, tpath):
        v = self._write_clustered(spark, tpath)
        man = V._read_manifest(tpath, v)
        total = man["n_files"]
        kept = V.prune_files(man, ("k", 100, 199))
        assert kept is not None and 0 < len(kept) < total
        # disjoint range: zero files, empty frame with the schema
        assert V.prune_files(man, ("k", 5000, 6000)) == []
        empty = V.read_version(spark, tpath, where=("k", 5000, 6000))
        assert empty.count() == 0
        assert [f.name for f in empty.schema.fields] == ["k", "val", "n"]

    def test_no_stats_reads_fully(self, spark, tpath):
        V.write_versioned(_df(spark, [(1, "a", 1)]), tpath)  # no stats
        man = V._read_manifest(tpath, 1)
        assert V.prune_files(man, ("k", 0, 0)) is None
        out = V.read_version(spark, tpath, where=("k", 99, 99))
        assert out.count() == 1             # unpruned, correct superset

    def test_string_stats_prune(self, spark, tpath):
        df = (spark.createDataFrame(
            [(c, 1) for c in "abcdefgh"], "s string, n bigint")
            .repartitionByRange(4, "s"))
        V.write_versioned(df, tpath, stats_cols=["s"])
        man = V._read_manifest(tpath, 1)
        kept = V.prune_files(man, ("s", "a", "b"))
        assert kept is not None and len(kept) < man["n_files"]
        rows = (V.read_version(spark, tpath, where=("s", "a", "b"))
                .where(F.col("s") <= "b").collect())
        assert sorted(r["s"] for r in rows) == ["a", "b"]


class TestStreamingSink:
    def test_batches_commit_replay_skipped(self, spark, tpath):
        """versioned_merge_sink: batch 0 initializes, batch 1 merges,
        a REPLAY of batch 1 (at-least-once) is detected via the
        manifest's (stream_query, stream_batch) and skipped — the
        table state reflects each batch exactly once."""
        from filters_spark.streaming.validate import versioned_merge_sink

        sink = versioned_merge_sink(tpath, "k", sink_id="t-stream")
        sink(_df(spark, [(1, "a", 10), (2, "b", 20)]), 0)
        assert V.latest_version(tpath) == 1
        sink(_df(spark, [(2, "B", 99), (3, "c", 30)]), 1)
        assert V.latest_version(tpath) == 2
        sink(_df(spark, [(2, "B", 99), (3, "c", 30)]), 1)   # replay
        assert V.latest_version(tpath) == 2                 # skipped
        got = {r["k"]: r["n"]
               for r in V.read_version(spark, tpath).collect()}
        assert got == {1: 10, 2: 99, 3: 30}
        # per-batch history is time-travelable
        assert {r["k"] for r in
                V.read_version(spark, tpath, 1).collect()} == {1, 2}

    def test_unresolvable_identity_raises(self, spark, tpath):
        """ADVICE r7: without sink_id and with sql.streaming.queryId
        unset (the common PySpark foreachBatch case), the 'unknown'
        lineage collapse would mean two streams silently skipping each
        other's batches — versioned_merge_sink must REFUSE, not
        default."""
        import pytest

        from filters_spark.streaming.validate import versioned_merge_sink

        sink = versioned_merge_sink(tpath, "k")
        with pytest.raises(ValueError, match="sink_id"):
            sink(_df(spark, [(1, "a", 10)]), 0)
        assert V.latest_version(tpath) is None   # nothing committed


class TestConcurrentWriters:
    def test_racing_writers_exactly_one_wins(self, spark, tpath):
        """VERDICT r7 #6: two threaded writers race the same
        expected_parent — exactly ONE commits, the loser raises
        ConcurrentWriteError, and the manifest store stays readable
        throughout.  Repeated to exercise different interleavings
        (entry check, version claim, head-transition claim, head
        re-check are all legitimate losing points)."""
        import threading

        V.write_versioned(_df(spark, [(1, "a", 10), (2, "b", 20)]), tpath)
        assert V.latest_version(tpath) == 1

        for round_no in range(3):
            parent = V.latest_version(tpath)
            barrier = threading.Barrier(2)
            results: dict[str, object] = {}

            def writer(tag, val):
                upd = _df(spark, [(1, tag, val)])
                barrier.wait()
                try:
                    results[tag] = V.merge_versioned(
                        spark, tpath, upd, "k", expected_parent=parent)
                except V.ConcurrentWriteError as e:
                    results[tag] = e

            ts = [threading.Thread(target=writer, args=(t, v))
                  for t, v in (("L", 111 + round_no), ("R", 222 + round_no))]
            for t in ts:
                t.start()
            for t in ts:
                t.join()

            wins = {t: r for t, r in results.items() if isinstance(r, int)}
            losses = {t: r for t, r in results.items()
                      if isinstance(r, V.ConcurrentWriteError)}
            assert len(wins) == 1 and len(losses) == 1, results
            winner_tag, new_v = next(iter(wins.items()))
            assert V.latest_version(tpath) == new_v
            # the committed state is exactly the winner's merge
            got = {r["k"]: r["val"]
                   for r in V.read_version(spark, tpath).collect()}
            assert got[1] == winner_tag
            # every manifest in history is parseable mid/after race
            for v in V.versions(tpath):
                m = V._read_manifest(tpath, v)
                assert m["version"] == v
            # the head's lineage chains back through real parents
            head = V._read_manifest(tpath, V.latest_version(tpath))
            assert head["parent"] == parent

    def test_crash_orphan_vacuum_unblocks_commits(self, spark, tpath):
        """A writer that died mid-commit leaves claim files (version
        claim without a manifest, or a head-transition claim) that
        block future commits on that state — vacuum_versioned must
        reclaim them so the table heals."""
        import os

        import pytest

        V.write_versioned(_df(spark, [(1, "a", 10)]), tpath)
        mdir = os.path.join(tpath, "_manifests")
        # simulate death between _claim and manifest write (v2), and
        # death between manifest write and flip (head claim on v1),
        # plus the dead writer's half-written snapshot dir
        open(os.path.join(mdir, "2.claim"), "w").close()
        open(os.path.join(mdir, "head.1.claim"), "w").close()
        os.makedirs(os.path.join(tpath, "snap", "v=2"), exist_ok=True)
        with pytest.raises(V.ConcurrentWriteError):
            V.merge_versioned(spark, tpath, _df(spark, [(1, "B", 99)]), "k")
        V.vacuum_versioned(tpath, keep_last=5)
        assert not os.path.exists(os.path.join(mdir, "2.claim"))
        assert not os.path.exists(os.path.join(mdir, "head.1.claim"))
        v = V.merge_versioned(spark, tpath, _df(spark, [(1, "B", 99)]), "k")
        assert V.latest_version(tpath) == v
        assert V.read_version(spark, tpath).collect()[0]["val"] == "B"


class TestConcurrentReader:
    def test_reader_resolved_before_merge_sees_old_snapshot(self, spark,
                                                            tpath):
        """Snapshot isolation: a DataFrame resolved against v1 keeps
        reading v1's files even after a merge commits v2 (the commit
        never mutates v1's data dir)."""
        V.write_versioned(_df(spark, [(1, "a", 10)]), tpath)
        reader = V.read_version(spark, tpath, 1)
        V.merge_versioned(spark, tpath, _df(spark, [(1, "A", 99)]), "k")
        assert reader.collect()[0]["n"] == 10
        assert V.read_version(spark, tpath).collect()[0]["n"] == 99


class TestChangeFeed:
    """read_changes — the diff-based CDC read half; the arithmetic is
    hash-gated by rel_change_feed, these pin the reader-contract
    corners the aggregate can't see."""

    def test_insert_update_delete_classification(self, spark, tpath):
        V.write_versioned(_df(spark, [(1, "a", 10), (2, "b", 20),
                                      (3, "c", 30)]), tpath)
        V.write_versioned(_df(spark, [(1, "a", 10),      # unchanged
                                      (2, "B", 20),      # updated
                                      (4, "d", 40)]), tpath)  # 3 del, 4 ins
        rows = V.read_changes(spark, tpath, "k", 1, 2).collect()
        by = {(r["_change_type"], r["k"]): r for r in rows}
        assert set(by) == {("update_preimage", 2), ("update_postimage", 2),
                           ("delete", 3), ("insert", 4)}
        assert by[("update_preimage", 2)]["val"] == "b"
        assert by[("update_postimage", 2)]["val"] == "B"
        assert by[("delete", 3)]["n"] == 30
        assert by[("insert", 4)]["val"] == "d"

    def test_identical_rewrite_is_silent(self, spark, tpath):
        rows = [(1, "a", 10), (2, "b", 20)]
        V.write_versioned(_df(spark, rows), tpath)
        V.write_versioned(_df(spark, rows), tpath)
        assert V.read_changes(spark, tpath, "k", 1, 2).count() == 0

    def test_null_payload_change_detected(self, spark, tpath):
        V.write_versioned(_df(spark, [(1, None, 10)]), tpath)
        V.write_versioned(_df(spark, [(1, "x", 10)]), tpath)
        got = {r["_change_type"] for r in
               V.read_changes(spark, tpath, "k", 1, 2).collect()}
        assert got == {"update_preimage", "update_postimage"}

    def test_schema_evolution_between_snapshots(self, spark, tpath):
        V.write_versioned(_df(spark, [(1, "a", 10), (2, "b", 20)]), tpath)
        ev = spark.createDataFrame([(1, "a", "new1"), (5, "e", "new5")],
                                   "k bigint, val string, extra string")
        V.write_versioned(ev, tpath)
        rows = V.read_changes(spark, tpath, "k", 1, 2).collect()
        by = {(r["_change_type"], r["k"]): r for r in rows}
        # k=1: common columns (val) unchanged -> silent, despite the
        # added/dropped columns (excluded from change detection)
        assert ("update_preimage", 1) not in by
        # k=2 deleted (payload from old side; 'extra' nulls out)
        assert by[("delete", 2)]["extra"] is None
        assert by[("delete", 2)]["n"] == 20
        # k=5 inserted (payload from new side; dropped 'n' nulls out)
        assert by[("insert", 5)]["extra"] == "new5"
        assert by[("insert", 5)]["n"] is None

    def test_bad_args(self, spark, tpath):
        V.write_versioned(_df(spark, [(1, "a", 10)]), tpath)
        with pytest.raises(ValueError, match="two distinct"):
            V.read_changes(spark, tpath, "k", 1)
        V.write_versioned(_df(spark, [(1, "a", 11)]), tpath)
        with pytest.raises(ValueError, match="missing"):
            V.read_changes(spark, tpath, "nope", 1, 2)


class TestConsumeChanges:
    """Cursor-based incremental CDC consumption: bootstrap, the
    at-least-once ack contract, monotone cursors."""

    def test_bootstrap_snapshot_then_deltas(self, spark, tpath, tmp_path):
        cur = str(tmp_path / "cursor")
        V.write_versioned(_df(spark, [(1, "a", 10), (2, "b", 20)]), tpath)
        df, to, ack = V.consume_changes(spark, tpath, "k", cur)
        rows = df.collect()
        assert to == 1
        assert {(r["_change_type"], r["k"]) for r in rows} == {
            ("insert", 1), ("insert", 2)}
        # cursor not advanced until ack: re-consume replays
        df2, _, _ = V.consume_changes(spark, tpath, "k", cur)
        assert df2.count() == 2
        ack()
        assert V.read_cursor(cur) == 1
        # caught up: nothing to do
        none_df, to2, _ = V.consume_changes(spark, tpath, "k", cur)
        assert none_df is None and to2 == 1
        # two more commits, one consumption: ONE net diff
        V.write_versioned(_df(spark, [(1, "a", 10), (2, "B", 20)]), tpath)
        V.write_versioned(_df(spark, [(2, "B", 20), (3, "c", 30)]), tpath)
        df3, to3, ack3 = V.consume_changes(spark, tpath, "k", cur)
        got = {(r["_change_type"], r["k"]) for r in df3.collect()}
        # net 1->3: k=1 deleted, k=2 updated, k=3 inserted
        assert got == {("delete", 1), ("update_preimage", 2),
                       ("update_postimage", 2), ("insert", 3)}
        ack3()
        assert V.read_cursor(cur) == 3 == to3

    def test_bootstrap_diff_baselines_at_oldest(self, spark, tpath,
                                                tmp_path):
        cur = str(tmp_path / "cursor")
        V.write_versioned(_df(spark, [(1, "a", 10)]), tpath)
        V.write_versioned(_df(spark, [(1, "a", 10), (2, "b", 20)]), tpath)
        df, to, ack = V.consume_changes(spark, tpath, "k", cur,
                                        bootstrap="diff")
        rows = df.collect()
        assert to == 2
        # v1's own contents are treated as consumed: only the v1->v2
        # delta appears
        assert {(r["_change_type"], r["k"]) for r in rows} == {
            ("insert", 2)}
        ack()
        assert V.read_cursor(cur) == 2

    def test_cursor_never_rewinds(self, spark, tmp_path):
        cur = str(tmp_path / "cursor")
        V.advance_cursor(cur, 5)
        with pytest.raises(ValueError, match="refusing to rewind"):
            V.advance_cursor(cur, 3)
        V.advance_cursor(cur, 5)   # idempotent re-ack is fine
        assert V.read_cursor(cur) == 5

    def test_bad_bootstrap(self, spark, tpath, tmp_path):
        V.write_versioned(_df(spark, [(1, "a", 10)]), tpath)
        with pytest.raises(ValueError, match="bootstrap"):
            V.consume_changes(spark, tpath, "k",
                              str(tmp_path / "c"), bootstrap="nope")


class TestWriteValidated:
    """Contract-gated commits: the circuit breaker, the no-move-on-
    refusal invariant, and manifest audit metadata (the clean/reject
    arithmetic is hash-gated by rel_validated_commit)."""

    def _schema(self):
        import filters_spark as fs
        return fs.ValidationSchema({"val": fs.Required()})

    def test_clean_commit_records_contract(self, spark, tpath, tmp_path):
        info = V.write_validated(
            _df(spark, [(1, "a", 10), (2, None, 20), (3, "c", 30)]),
            tpath, self._schema(), max_reject_rate=0.5,
            dead_path=str(tmp_path / "dead"))
        assert info == {"version": 1, "n_input": 3, "n_committed": 2,
                        "n_rejected": 1, "reject_rate": info["reject_rate"]}
        assert abs(info["reject_rate"] - 1 / 3) < 1e-9
        got = {r["k"] for r in V.read_version(spark, tpath).collect()}
        assert got == {1, 3}
        dead = spark.read.parquet(str(tmp_path / "dead")).collect()
        assert len(dead) == 1 and dead[0]["k"] == 2
        m = V._read_manifest(tpath, 1)
        assert m["op"] == "validated_write"
        assert m["contract"]["n_rejected"] == 1

    def test_circuit_breaker_refuses_and_head_stays(self, spark, tpath,
                                                    tmp_path):
        V.write_validated(_df(spark, [(1, "a", 10)]), tpath,
                          self._schema())
        assert V.latest_version(tpath) == 1
        bad = _df(spark, [(2, None, 20), (3, None, 30), (4, "d", 40)])
        with pytest.raises(V.ContractViolation, match="0.6667"):
            V.write_validated(bad, tpath, self._schema(),
                              max_reject_rate=0.5,
                              dead_path=str(tmp_path / "dead"))
        # head unmoved, no snapshot committed, rejects quarantined
        assert V.latest_version(tpath) == 1
        assert V.versions(tpath) == [1]
        assert spark.read.parquet(str(tmp_path / "dead")).count() == 2

    def test_zero_tolerance_default(self, spark, tpath):
        with pytest.raises(V.ContractViolation):
            V.write_validated(_df(spark, [(1, None, 10)]), tpath,
                              self._schema())
        assert V.latest_version(tpath) is None

    def test_rate_boundary_inclusive(self, spark, tpath):
        # rate == max_reject_rate commits (strictly-greater refuses)
        info = V.write_validated(
            _df(spark, [(1, "a", 10), (2, None, 20)]), tpath,
            self._schema(), max_reject_rate=0.5)
        assert info["n_committed"] == 1
        assert V.latest_version(tpath) == 1

    def test_empty_input_commits_empty_snapshot(self, spark, tpath):
        info = V.write_validated(_df(spark, []), tpath, self._schema())
        assert info["n_input"] == 0 and info["version"] == 1
        assert V.read_version(spark, tpath).count() == 0


class TestOptimize:
    """optimize_versioned: data preservation (empty change feed),
    CAS loss to concurrent writers, stats arming (skipping
    effectiveness is hash-gated by rel_optimize_zorder)."""

    def test_optimize_preserves_data_and_cdc_silence(self, spark, tpath):
        rows = [(i, f"v{i}", i * 10) for i in range(40)]
        V.write_versioned(_df(spark, rows).repartition(8), tpath)
        v2 = V.optimize_versioned(spark, tpath, zorder=["k", "n"],
                                  n_files=2)
        assert v2 == 2
        assert V._read_manifest(tpath, 2)["op"] == "optimize"
        got = {(r["k"], r["val"], r["n"])
               for r in V.read_version(spark, tpath).collect()}
        assert got == set(rows)
        # layout maintenance is invisible to CDC consumers
        assert V.read_changes(spark, tpath, "k", 1, 2).count() == 0
        # stats recorded for the zorder columns -> skipping armed
        m = V._read_manifest(tpath, 2)
        assert all("k" in st and st["k"] is not None
                   for st in V._load_sidecar(m, "stats").values())

    def test_plain_compaction(self, spark, tpath):
        V.write_versioned(_df(spark, [(i, "x", i) for i in range(20)])
                          .repartition(10), tpath)
        # empty partitions write no file — expect "many", not exactly 10
        assert V._read_manifest(tpath, 1)["n_files"] >= 5
        V.optimize_versioned(spark, tpath, n_files=2)
        assert V._read_manifest(tpath, 2)["n_files"] <= 2
        assert V.read_version(spark, tpath).count() == 20

    def test_optimize_loses_cas_race(self, spark, tpath):
        # optimize commits with expected_parent = the head it read;
        # replay its commit step after a concurrent writer landed —
        # the maintenance pass must lose, never clobber data
        V.write_versioned(_df(spark, [(1, "a", 10)]), tpath)
        df = V.read_version(spark, tpath)
        head = V.latest_version(tpath)
        V.write_versioned(_df(spark, [(2, "b", 20)]), tpath)
        with pytest.raises(V.ConcurrentWriteError):
            V.write_versioned(df, tpath, expected_parent=head,
                              _op="optimize")

    def test_optimize_empty_table_raises(self, spark, tpath):
        with pytest.raises(ValueError, match="no snapshots"):
            V.optimize_versioned(spark, tpath)


class TestContractMergeSink:
    """contract_merge_sink: governed streaming ingest — per-batch
    validation + quarantine + circuit breaker composed onto the
    exactly-once merge."""

    def _schema(self):
        import filters_spark as fs
        return fs.ValidationSchema({"val": fs.Required()})

    def test_clean_and_partial_batches(self, spark, tpath, tmp_path):
        from filters_spark.streaming.validate import contract_merge_sink

        dead = str(tmp_path / "dead")
        sink = contract_merge_sink(tpath, "k", self._schema(), dead,
                                   max_reject_rate=0.5, sink_id="cms")
        sink(_df(spark, [(1, "a", 10), (2, "b", 20)]), 0)
        # batch 1: one violation (under tolerance) -> clean merged,
        # reject quarantined
        sink(_df(spark, [(3, None, 30), (4, "d", 40)]), 1)
        got = {r["k"] for r in V.read_version(spark, tpath).collect()}
        assert got == {1, 2, 4}
        dl = spark.read.parquet(dead).collect()
        assert {r["k"] for r in dl} == {3}
        # replay of batch 1 is skipped table-side (exactly-once)
        head = V.latest_version(tpath)
        sink(_df(spark, [(3, None, 30), (4, "d", 40)]), 1)
        assert V.latest_version(tpath) == head

    def test_poison_batch_fail(self, spark, tpath, tmp_path):
        from filters_spark.sources.versioned import ContractViolation
        from filters_spark.streaming.validate import contract_merge_sink

        dead = str(tmp_path / "dead")
        sink = contract_merge_sink(tpath, "k", self._schema(), dead,
                                   max_reject_rate=0.5, sink_id="cms2")
        sink(_df(spark, [(1, "a", 10)]), 0)
        poison = _df(spark, [(2, None, 20), (3, None, 30), (4, "d", 40)])
        with pytest.raises(ContractViolation, match="batch 1"):
            sink(poison, 1)
        # nothing merged; rejects quarantined for diagnosis
        assert {r["k"] for r in
                V.read_version(spark, tpath).collect()} == {1}
        assert {r["k"] for r in
                spark.read.parquet(dead).collect()} == {2, 3}

    def test_poison_batch_skip_quarantines_all(self, spark, tpath,
                                               tmp_path):
        from filters_spark.streaming.validate import contract_merge_sink

        dead = str(tmp_path / "dead")
        sink = contract_merge_sink(tpath, "k", self._schema(), dead,
                                   max_reject_rate=0.5,
                                   on_violation="skip", sink_id="cms3")
        sink(_df(spark, [(1, "a", 10)]), 0)
        sink(_df(spark, [(2, None, 20), (3, None, 30), (4, "d", 40)]), 1)
        # stream continues; the WHOLE batch (clean row included) is in
        # the dead letter, nothing merged
        assert {r["k"] for r in
                V.read_version(spark, tpath).collect()} == {1}
        assert {r["k"] for r in
                spark.read.parquet(dead).collect()} == {2, 3, 4}
        # the next good batch still lands
        sink(_df(spark, [(5, "e", 50)]), 2)
        assert {r["k"] for r in
                V.read_version(spark, tpath).collect()} == {1, 5}

    def test_bad_on_violation(self, spark, tpath, tmp_path):
        from filters_spark.streaming.validate import contract_merge_sink

        with pytest.raises(ValueError, match="on_violation"):
            contract_merge_sink(tpath, "k", self._schema(),
                                str(tmp_path / "d"), on_violation="x")


class TestPartitionedSnapshots:
    """partition_by on write_versioned: Hive layout roundtrip,
    directory-derived partition stats + pruning, and composition
    with the change feed."""

    def test_roundtrip_and_partition_pruning(self, spark, tpath):
        df = spark.createDataFrame(
            [(i, f"2024-0{1 + i % 3}", i * 10) for i in range(30)],
            "k bigint, month string, v bigint")
        v = V.write_versioned(df, tpath, partition_by=["month"],
                              stats_cols=["month", "v"])
        m = V._read_manifest(tpath, v)
        assert m["partition_by"] == ["month"]
        # plain read restores the directory column
        back = V.read_version(spark, tpath)
        assert back.count() == 30
        assert {r["month"] for r in back.collect()} == {
            "2024-01", "2024-02", "2024-03"}
        # partition-axis pruning: only that directory's files kept
        kept = V.prune_files(m, ("month", "2024-02", "2024-02"))
        assert kept and all("month=2024-02" in f for f in kept)
        assert len(kept) < m["n_files"]
        pruned = (V.read_version(spark, tpath,
                                 where=("month", "2024-02", "2024-02"))
                  .where(F.col("month") == "2024-02"))
        got = {(r["k"], r["month"], r["v"]) for r in pruned.collect()}
        want = {(i, "2024-02", i * 10) for i in range(30) if i % 3 == 1}
        assert got == want

    def test_data_col_stats_inside_partitions(self, spark, tpath):
        df = (spark.range(100)
              .select(F.col("id").alias("k"),
                      (F.col("id") % 2).cast("string").alias("p"),
                      F.col("id").alias("v"))
              .repartitionByRange(4, "v"))
        V.write_versioned(df, tpath, partition_by=["p"],
                          stats_cols=["v"])
        m = V._read_manifest(tpath, 1)
        kept = V.prune_files(m, ("v", 0, 10))
        assert kept is not None and 0 < len(kept) < m["n_files"]
        out = (V.read_version(spark, tpath, where=("v", 0, 10))
               .where(F.col("v").between(0, 10)))
        assert out.count() == 11

    def test_int_partition_values_prune_numerically(self, spark, tpath):
        df = spark.createDataFrame(
            [(i, i % 4, i) for i in range(40)],
            "k bigint, bucket int, v bigint")
        V.write_versioned(df, tpath, partition_by=["bucket"],
                          stats_cols=["bucket"])
        m = V._read_manifest(tpath, 1)
        kept = V.prune_files(m, ("bucket", 2, 3))
        assert kept and all(("bucket=2" in f) or ("bucket=3" in f)
                            for f in kept)

    def test_change_feed_across_partitioned_snapshots(self, spark,
                                                      tpath):
        a = spark.createDataFrame([(1, "x", 10), (2, "y", 20)],
                                  "k bigint, p string, v bigint")
        b = spark.createDataFrame([(1, "x", 10), (2, "y", 99)],
                                  "k bigint, p string, v bigint")
        V.write_versioned(a, tpath, partition_by=["p"])
        V.write_versioned(b, tpath, partition_by=["p"])
        got = {(r["_change_type"], r["k"])
               for r in V.read_changes(spark, tpath, "k", 1, 2).collect()}
        assert got == {("update_preimage", 2), ("update_postimage", 2)}


class TestOptimizePartitionLayout:
    def test_optimize_can_establish_partitioning(self, spark, tpath):
        df = spark.createDataFrame(
            [(i, f"p{i % 3}", i * 10) for i in range(30)],
            "k bigint, part string, v bigint")
        V.write_versioned(df, tpath)                      # flat v1
        v2 = V.optimize_versioned(
            spark, tpath, n_files=2, partition_by=["part"],
            stats_cols=["part"])
        m = V._read_manifest(tpath, v2)
        assert m["partition_by"] == ["part"]
        # directory-axis pruning armed by the re-layout
        kept = V.prune_files(m, ("part", "p1", "p1"))
        assert kept and all("part=p1" in f for f in kept)
        # still data-preserving and CDC-silent
        got = {(r["k"], r["part"], r["v"])
               for r in V.read_version(spark, tpath).collect()}
        assert got == {(i, f"p{i % 3}", i * 10) for i in range(30)}
        assert V.read_changes(spark, tpath, "k", 1, v2).count() == 0


class TestStoredChanges:
    """Opt-in stored change files (VERDICT r8 next #3): single-commit
    spans read the files verbatim, multi-commit spans net them per
    key, and both must equal the writer-independent two-snapshot diff
    exactly (the arithmetic twin is hash-gated by
    rel_change_feed_stored)."""

    def _both(self, spark, tpath, lo, hi):
        stored = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", lo, hi).collect()))
        diff = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", lo, hi, use_stored=False).collect()))
        return stored, diff

    def test_single_commit_stored_equals_diff(self, spark, tpath):
        V.write_versioned(_df(spark, [(1, "a", 10), (2, "b", 20)]), tpath)
        V.merge_versioned(spark, tpath,
                          _df(spark, [(2, "B", 99), (3, "c", 30),
                                      (1, "a", 10)]),   # (1) is a no-op
                          "k", store_changes=True)
        assert os.path.isdir(V._changes_dir(tpath, 2))
        stored, diff = self._both(spark, tpath, 1, 2)
        assert stored == diff
        types = {r[0] for r in stored}
        assert types == {"insert", "update_preimage", "update_postimage"}

    def test_multi_commit_netting_equals_diff(self, spark, tpath):
        V.write_versioned(
            _df(spark, [(i, f"v{i}", i * 10) for i in range(8)]), tpath)
        # v2: update 1, revert-candidate 2, insert 100 and 101
        V.merge_versioned(spark, tpath, _df(spark, [
            (1, "one", 11), (2, "two", 22),
            (100, "x", 1), (101, "y", 2)]), "k", store_changes=True)
        # v3: update 1 again, revert 2 to original, delete-candidate
        # untouched; insert 102
        V.merge_versioned(spark, tpath, _df(spark, [
            (1, "uno", 12), (2, "v2", 20), (102, "z", 3)]),
            "k", store_changes=True)
        # v4: delete 3 (never updated), 100 (insert->delete) and 1
        # (update->update->delete) via a writer-supplied change file
        v3 = V.read_version(spark, tpath)
        gone = F.col("k").isin(1, 3, 100)
        ch = (v3.where(gone)
              .select(F.lit("delete").alias("_change_type"),
                      "k", F.col("n"), F.col("val")))
        # column order of _merge_changes: key + sorted payload
        ch = ch.select("_change_type", "k", "n", "val")
        V.write_versioned(v3.where(~gone), tpath, changes_df=ch)
        for lo, hi in ((1, 3), (1, 4), (2, 4)):
            stored, diff = self._both(spark, tpath, lo, hi)
            assert stored == diff, (lo, hi, stored, diff)
        # semantic pins on the 1->4 net:
        net = {r["k"]: r["_change_type"] for r in V.read_changes(
            spark, tpath, "k", 1, 4).collect()}
        assert net[3] == "delete"            # plain delete
        assert net[1] == "delete"            # update->update->delete
        assert 100 not in net                # insert->delete: nothing
        assert 2 not in net                  # update->revert: nothing
        assert net[101] == "insert" and net[102] == "insert"
        # deleted key 1 carries its ORIGINAL v1 payload
        row = [r for r in V.read_changes(spark, tpath, "k", 1, 4)
               .collect() if r["k"] == 1][0]
        assert row["val"] == "v1" and row["n"] == 10

    def test_nonstored_commit_in_span_falls_back(self, spark, tpath):
        V.write_versioned(_df(spark, [(1, "a", 10)]), tpath)
        V.merge_versioned(spark, tpath, _df(spark, [(2, "b", 20)]),
                          "k", store_changes=True)
        # v3 without stored changes breaks the chain
        V.merge_versioned(spark, tpath, _df(spark, [(3, "c", 30)]), "k")
        assert V._stored_chain(tpath, 1, 3) is None
        stored, diff = self._both(spark, tpath, 1, 3)
        assert stored == diff

    def test_fallback_after_change_file_removal(self, spark, tpath):
        import shutil

        V.write_versioned(_df(spark, [(1, "a", 10)]), tpath)
        V.merge_versioned(spark, tpath, _df(spark, [(1, "A", 11)]),
                          "k", store_changes=True)
        shutil.rmtree(V._changes_dir(tpath, 2))
        out = {(r["_change_type"], r["k"]) for r in V.read_changes(
            spark, tpath, "k", 1, 2).collect()}
        assert out == {("update_preimage", 1), ("update_postimage", 1)}

    def test_vacuum_removes_change_files_with_snapshot(self, spark,
                                                       tpath):
        V.write_versioned(_df(spark, [(1, "a", 10)]), tpath)
        for i in range(3):
            V.merge_versioned(spark, tpath,
                              _df(spark, [(10 + i, "x", i)]), "k",
                              store_changes=True)
        assert V.vacuum_versioned(tpath, keep_last=2) == [1, 2]
        assert not os.path.isdir(V._changes_dir(tpath, 2))
        assert os.path.isdir(V._changes_dir(tpath, 3))
        assert os.path.isdir(V._changes_dir(tpath, 4))
        # retained span still serves stored
        assert V._stored_chain(tpath, 3, 4) is not None

    def test_long_stored_span_plans_one_scan(self, spark, tpath):
        """A 20-commit stored span nets from ONE scan of its change
        directories: no per-commit union branch, no per-version
        literal in the plan."""
        rows = [(0, "a", 0)]
        V.write_versioned(_df(spark, rows), tpath)
        for i in range(1, 21):
            rows.append((i, f"v{i}", i))
            feed = spark.createDataFrame(
                [("insert", i, i, f"v{i}")],
                "_change_type string, k bigint, n bigint, val string")
            V.write_versioned(_df(spark, rows), tpath, changes_df=feed)
        ch = V.read_changes(spark, tpath, "k", 1)
        assert ch._jdf.queryExecution().optimizedPlan() \
            .collectLeaves().size() == 1
        stored, diff = self._both(spark, tpath, 1, 21)
        assert stored == diff

    def test_consume_changes_rides_stored_path(self, spark, tpath,
                                               tmp_path):
        cur = str(tmp_path / "cursor")
        V.write_versioned(_df(spark, [(1, "a", 10)]), tpath)
        ch, head, ack = V.consume_changes(spark, tpath, "k", cur)
        ack()
        V.merge_versioned(spark, tpath, _df(spark, [(2, "b", 20)]),
                          "k", store_changes=True)
        ch, head, ack = V.consume_changes(spark, tpath, "k", cur)
        got = {(r["_change_type"], r["k"]) for r in ch.collect()}
        assert got == {("insert", 2)}


class TestStatsSidecar:
    """Manifest stays O(1): per-file stats live in a lazy sidecar,
    and footer reads fan out executor-side past _STATS_DRIVER_MAX
    (VERDICT r8 next #2)."""

    def test_manifest_has_no_inline_stats(self, spark, tpath):
        import json as _json

        df = (spark.range(100)
              .select(F.col("id").alias("k"),
                      F.lit("x").alias("val"), F.col("id").alias("n"))
              .repartitionByRange(4, "k"))
        V.write_versioned(df, tpath, stats_cols=["k"])
        raw = _json.load(open(os.path.join(tpath, "_manifests",
                                           "1.json")))
        assert "file_stats" not in raw
        assert raw["stats_file"] == "1.stats.json"
        assert raw["stats_cols"] == ["k"]
        man = V._read_manifest(tpath, 1)
        kept = V.prune_files(man, ("k", 0, 10))
        assert kept is not None and 0 < len(kept) < man["n_files"]

    def test_executor_side_stats_match_driver_side(self, spark, tpath,
                                                   monkeypatch):
        # every sidecar kind, built by the driver loop and by the
        # executor job, over bigint, string, date and NULL-bearing
        # columns: the entries must be identical
        df = (spark.range(200)
              .select(F.col("id").alias("k"),
                      F.lit("x").alias("val"), F.col("id").alias("n"),
                      F.concat(F.lit("s"), (F.col("id") % 17)
                               .cast("string")).alias("s"),
                      F.date_add(F.lit("2020-01-01").cast("date"),
                                 (F.col("id") % 40).cast("int"))
                      .alias("d"),
                      F.when(F.col("id") % 5 == 0, F.lit(None))
                      .otherwise(F.col("id") + 1).alias("p"))
              .repartitionByRange(6, "k"))
        arm = dict(stats_cols=["k", "n", "p"],
                   bloom_cols=["k", "s", "d", "p"],
                   ndv_cols=["k", "s", "d", "p"], hdr_cols=["p"])
        V.write_versioned(df, tpath, **arm)
        monkeypatch.setattr(V, "_STATS_DRIVER_MAX", 0)
        monkeypatch.setattr(V, "_SIDECAR_DRIVER_CELLS", 0)
        V.write_versioned(df, tpath, **arm)
        driver, execu = (V._read_manifest(tpath, v) for v in (1, 2))

        # file NAMES differ between the two writes (part-file UUIDs);
        # the part index names the same rows in both
        def by_part(m, kind):
            return {f.split("-")[1]: e
                    for f, e in V._load_sidecar(m, kind).items()}
        for kind in ("stats", "bloom", "ndv", "hdr"):
            assert by_part(execu, kind) == by_part(driver, kind), kind
        assert len(by_part(driver, "stats")) == 6
        kept = V.prune_files(execu, ("k", 0, 30))
        assert kept is not None and 0 < len(kept) < execu["n_files"]

    def test_small_bloom_commit_runs_no_extra_job(self, spark,
                                                  tmp_path):
        # a small commit builds its Bloom entries on the driver: arming
        # them adds no Spark job to the write
        df = (spark.range(500).select(F.col("id").alias("k"),
                                      (F.col("id") % 7).alias("v"))
              .repartitionByRange(4, "k"))

        def jobs(name, **arm):
            return spark_jobs(spark, lambda: V.write_versioned(
                df, str(tmp_path / name), **arm))[1]

        plain = jobs("plain", stats_cols=["k"])
        armed = jobs("armed", stats_cols=["k"], bloom_cols=["k"])
        assert armed == plain
        t = str(tmp_path / "armed")
        assert len(V.prune_files(V._read_manifest(t, 1),
                                 ("k", 7, 7))) == 1

    def test_string_partition_numeric_values_stay_strings(self, spark,
                                                          tpath):
        # ADVICE r8: zero-padded ids on a STRING partition column must
        # not become ints (mispruned / TypeError against string bounds)
        df = spark.createDataFrame(
            [(i, f"{i % 3:03d}", i) for i in range(30)],
            "k bigint, pid string, v bigint")
        V.write_versioned(df, tpath, partition_by=["pid"],
                          stats_cols=["pid"])
        man = V._read_manifest(tpath, 1)
        st = V._load_sidecar(man, "stats")
        assert all(isinstance(s["pid"][0], str) for s in st.values())
        kept = V.prune_files(man, ("pid", "001", "001"))
        assert kept and all("pid=001" in f for f in kept)
        # mixed-type predicate: unknowable, keeps everything, no crash
        kept2 = V.prune_files(man, ("pid", 1, 1))
        assert kept2 is not None and len(kept2) == man["n_files"]

    def test_hive_null_partition_is_unknown_not_literal(self, spark,
                                                        tpath):
        df = spark.createDataFrame(
            [(1, "a", 10), (2, None, 20)], "k bigint, p string, n bigint")
        V.write_versioned(df, tpath, partition_by=["p"],
                          stats_cols=["p"])
        man = V._read_manifest(tpath, 1)
        st = V._load_sidecar(man, "stats")
        null_file = [f for f in st
                     if "__HIVE_DEFAULT_PARTITION__" in f]
        assert null_file and st[null_file[0]]["p"] is None
        # the null-partition file is never pruned away
        kept = V.prune_files(man, ("p", "a", "a"))
        assert any("__HIVE_DEFAULT_PARTITION__" in f for f in kept)


class TestWriteValidatedOrdering:
    def test_dead_letter_lands_even_if_commit_crashes(self, spark,
                                                      tpath, tmp_path,
                                                      monkeypatch):
        """ADVICE r8: quarantine writes BEFORE the head flip, so a
        crash between them can never commit a manifest whose contract
        metadata claims rejects that were never quarantined."""
        import filters_spark as fs

        dead = str(tmp_path / "dead")

        def boom(*a, **kw):
            raise RuntimeError("simulated crash at commit")

        monkeypatch.setattr(V, "write_versioned", boom)
        schema = fs.ValidationSchema({"val": fs.Required()})
        with pytest.raises(RuntimeError, match="simulated crash"):
            V.write_validated(
                _df(spark, [(1, "a", 10), (2, None, 20)]), tpath,
                schema, max_reject_rate=0.9, dead_path=dead)
        # head never moved, but the reject IS quarantined
        assert V.latest_version(tpath) is None
        assert {r["k"] for r in spark.read.parquet(dead).collect()} \
            == {2}


class TestSkipQuarantineRawTypes:
    def test_skip_path_stores_raw_values_single_type(self, spark,
                                                     tpath, tmp_path):
        """ADVICE r8: a COERCING schema's skip path must quarantine
        raw values — transformed ints beside raw strings would leave
        the dead-letter directory unreadable."""
        import filters_spark as fs
        from filters_spark.streaming.validate import contract_merge_sink

        dead = str(tmp_path / "dead")
        schema = fs.ValidationSchema({"val": fs.Int()})
        sink = contract_merge_sink(tpath, "k", schema, dead,
                                   max_reject_rate=0.5,
                                   on_violation="skip", sink_id="cms4")
        # batch 0: one reject of two (at tolerance) -> clean merged,
        # reject quarantined as its raw string
        sink(_df(spark, [(1, "7", 10), (2, "x2", 20)]), 0)
        # batch 1: 2/3 reject -> poison: WHOLE batch quarantined,
        # incl. the clean coercible row, as its RAW string
        sink(_df(spark, [(3, "bad", 30), (5, "no", 50),
                         (4, "40", 40)]), 1)
        dl = spark.read.parquet(dead)
        assert dict(dl.dtypes)["val"] == "string"
        got = {r["k"]: r["val"] for r in dl.collect()}
        assert got == {2: "x2", 3: "bad", 5: "no", 4: "40"}
        # clean half carries an EMPTY error array, rejects non-empty
        errs = {r["k"]: len(r["_errors"]) for r in dl.collect()}
        assert errs[4] == 0 and errs[3] > 0 and errs[2] > 0
        # table got only batch 0's clean row, coerced
        assert {(r["k"], r["val"]) for r in
                V.read_version(spark, tpath).collect()} == {(1, 7)}


class TestTimestampTimeTravel:
    def test_as_of_resolution_and_read(self, spark, tpath):
        import time

        V.write_versioned(_df(spark, [(1, "a", 1)]), tpath)
        t1 = time.time()
        time.sleep(0.05)
        V.write_versioned(_df(spark, [(2, "b", 2)]), tpath)
        t2 = time.time()
        assert V.version_as_of(tpath, t1) == 1
        assert V.version_as_of(tpath, t2) == 2
        assert {r["k"] for r in
                V.read_version(spark, tpath, as_of=t1).collect()} == {1}
        # no version that old
        with pytest.raises(ValueError, match="at or before"):
            V.version_as_of(tpath, 1.0)
        with pytest.raises(ValueError, match="version OR as_of"):
            V.read_version(spark, tpath, 1, as_of=t1)

    def test_manifest_records_commit_stamp(self, spark, tpath):
        import time

        before = time.time()
        V.write_versioned(_df(spark, [(1, "a", 1)]), tpath)
        at = V._read_manifest(tpath, 1)["committed_at"]
        assert before <= at <= time.time()


class TestStreamingStoredChanges:
    def test_sink_arms_the_stored_cdc_path(self, spark, tpath):
        from filters_spark.streaming.validate import versioned_merge_sink

        sink = versioned_merge_sink(tpath, "k", sink_id="ssc",
                                    store_changes=True)
        sink(_df(spark, [(1, "a", 10), (2, "b", 20)]), 0)
        sink(_df(spark, [(2, "B", 99), (3, "c", 30)]), 1)
        sink(_df(spark, [(1, "A", 11)]), 2)
        # every commit stored its changes -> multi-commit span serves
        # from the netting aggregate, identical to the diff
        assert V._stored_chain(tpath, 1, 3) is not None
        stored = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 3).collect()))
        diff = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 3, use_stored=False).collect()))
        assert stored == diff
        # ...and the rollup consumer rides it transparently
        cur = tpath + ".cursor"
        ch, head, ack = V.consume_changes(spark, tpath, "k", cur)
        assert head == 3 and ch.count() == 3   # bootstrap snapshot


class TestDeleteWhere:
    """Copy-on-write file-reuse commits (delete_where +
    merge_versioned(file_reuse=True)): touched-slice rewrite with
    untouched files carried by reference, stats carry-forward,
    reference-counting vacuum, partitioned fallback, and SQL DELETE
    null semantics.  The delete arithmetic is hash-gated by
    rel_delete_where."""

    def _clustered(self, spark, tpath, n=1000, files=8):
        df = (spark.range(n)
              .select(F.col("id").alias("k"),
                      (F.col("id") * 2).alias("n"),
                      F.lit("x").alias("val"))
              .repartitionByRange(files, "k"))
        return V.write_versioned(df, tpath, stats_cols=["k"])

    def test_reuses_untouched_files(self, spark, tpath):
        self._clustered(spark, tpath)
        total = V._read_manifest(tpath, 1)["n_files"]
        res = V.delete_where(spark, tpath, "k BETWEEN 100 AND 150")
        assert res["n_deleted"] == 51
        assert 0 < res["files_rewritten"] < total
        assert res["files_reused"] == total - res["files_rewritten"]
        m2 = V._read_manifest(tpath, 2)
        # carried files are literally the parent's paths, not copies
        assert any(f.startswith("snap/v=1/") for f in m2["data_files"])
        got = V.read_version(spark, tpath)
        assert got.count() == 949
        assert got.where(F.col("k").between(100, 150)).count() == 0
        # time travel to the pre-delete snapshot intact
        assert V.read_version(spark, tpath, 1).count() == 1000
        # stats carried forward: pruning still real on v2
        kept = V.prune_files(m2, ("k", 900, 950))
        assert kept is not None and 0 < len(kept) < m2["n_files"]
        assert (V.read_version(spark, tpath, where=("k", 900, 950))
                .where(F.col("k").between(900, 950)).count() == 51)

    def test_null_condition_rows_are_kept(self, spark, tpath):
        df = spark.createDataFrame(
            [(1, 10, "a"), (2, None, "b"), (3, 30, "c")],
            "k bigint, n bigint, val string")
        V.write_versioned(df, tpath)
        res = V.delete_where(spark, tpath, F.col("n") > 15)
        assert res["n_deleted"] == 1            # only k=3; NULL kept
        assert {r["k"] for r in
                V.read_version(spark, tpath).collect()} == {1, 2}

    def test_partitioned_parent_falls_back_to_rewrite(self, spark,
                                                      tpath):
        df = spark.createDataFrame(
            [(i, f"p{i % 2}", i) for i in range(20)],
            "k bigint, p string, v bigint")
        V.write_versioned(df, tpath, partition_by=["p"])
        res = V.delete_where(spark, tpath, "k % 5 = 0")
        assert res["n_deleted"] == 4 and res["files_reused"] == 0
        back = V.read_version(spark, tpath)
        assert back.count() == 16
        assert V._read_manifest(tpath, 2)["partition_by"] == ["p"]

    def test_vacuum_refcounts_reused_files(self, spark, tpath):
        self._clustered(spark, tpath)
        V.delete_where(spark, tpath, "k BETWEEN 0 AND 50")
        V.delete_where(spark, tpath, "k BETWEEN 900 AND 950")
        removed = V.vacuum_versioned(tpath, keep_last=1)
        assert removed == [1, 2]
        # head still reads whole (its files live partly in v1's dir)
        assert V.read_version(spark, tpath).count() == 1000 - 102
        # the vacuumed versions fail loudly, not partially
        for old in (1, 2):
            with pytest.raises(ValueError, match="vacuumed"):
                V.read_version(spark, tpath, old).count()

    def test_merge_file_reuse_matches_full_merge(self, spark, tpath):
        self._clustered(spark, tpath)
        total = V._read_manifest(tpath, 1)["n_files"]
        ups = spark.createDataFrame(
            [(100, 999, "U"), (101, 998, "U"), (5000, 1, "new")],
            "k bigint, n bigint, val string")
        V.merge_versioned(spark, tpath, ups, "k", file_reuse=True,
                          store_changes=True)
        m2 = V._read_manifest(tpath, 2)
        assert len([f for f in m2["data_files"]
                    if f.startswith("snap/v=1/")]) > 0
        assert m2["n_files"] <= total + 1       # touched slice + new
        got = {r["k"]: (r["n"], r["val"]) for r in
               V.read_version(spark, tpath).collect()}
        assert len(got) == 1001
        assert got[100] == (999, "U") and got[5000] == (1, "new")
        assert got[99] == (198, "x")            # carried untouched
        # stored feed == diff across the reuse commit
        a = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 2).collect()))
        b = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 2, use_stored=False).collect()))
        assert a == b

    def test_file_reuse_merge_without_broadcast_matches(self, spark,
                                                        tmp_path):
        """broadcast_batch=False dedups the touched-file collect
        executor-side; the commit must equal the broadcast path's."""
        ups = spark.createDataFrame(
            [(100, 999, "U"), (101, 998, "U"), (5000, 1, "new")]
            + [(k, 7, "V") for k in range(300, 340)],
            "k bigint, n bigint, val string")
        out = {}
        for bb in (True, False):
            t = str(tmp_path / f"bb{bb}")
            self._clustered(spark, t)
            V.merge_versioned(spark, t, ups, "k", file_reuse=True,
                              broadcast_batch=bb)
            m = V._read_manifest(t, 2)
            out[bb] = (sorted(map(tuple,
                                  V.read_version(spark, t).collect())),
                       sorted(f.split("-")[1] for f in m["data_files"]
                              if f.startswith("snap/v=1/")))
        assert out[True] == out[False]
        assert len(out[False][0]) == 1001

    def test_optimize_compacts_reuse_chain(self, spark, tpath):
        self._clustered(spark, tpath)
        V.delete_where(spark, tpath, "k BETWEEN 10 AND 20")
        v = V.optimize_versioned(spark, tpath, zorder=["k"], n_files=2)
        m = V._read_manifest(tpath, v)
        assert "data_files" not in m            # plain snapshot again
        assert V.read_version(spark, tpath).count() == 989

    def test_empty_table_delete(self, spark, tpath):
        V.write_versioned(_df(spark, []), tpath)
        res = V.delete_where(spark, tpath, "k > 0")
        assert res["n_deleted"] == 0
        assert V.read_version(spark, tpath).count() == 0

    def test_reuse_rejects_partition_by(self, spark, tpath):
        with pytest.raises(ValueError, match="flat"):
            V.write_versioned(_df(spark, [(1, "a", 1)]), tpath,
                              partition_by=["val"],
                              reuse_files=["snap/v=1/x.parquet"])


class TestConjunctivePrune:
    def test_list_where_intersects_axes(self, spark, tpath):
        df = (spark.range(100)
              .select(F.col("id").alias("k"),
                      (F.col("id") % 4).cast("string").alias("p"),
                      F.col("id").alias("v"))
              .repartitionByRange(4, "v"))
        V.write_versioned(df, tpath, partition_by=["p"],
                          stats_cols=["p", "v"])
        m = V._read_manifest(tpath, 1)
        both = V.prune_files(m, [("p", "1", "1"), ("v", 0, 10)])
        only_p = V.prune_files(m, ("p", "1", "1"))
        only_v = V.prune_files(m, ("v", 0, 10))
        assert set(both) == set(only_p) & set(only_v)
        assert 0 < len(both) < m["n_files"]
        out = (V.read_version(spark, tpath,
                              where=[("p", "1", "1"), ("v", 0, 10)])
               .where((F.col("p") == "1") & F.col("v").between(0, 10)))
        assert {r["v"] for r in out.collect()} == {1, 5, 9}
        # an axis without stats contributes nothing but doesn't kill
        # the other axis's pruning
        assert V.prune_files(m, [("nostats", 0, 1), ("v", 0, 10)]) \
            == only_v


class TestEvolveSchemaMerge:
    def test_added_column_widens_table(self, spark, tpath):
        V.write_versioned(_df(spark, [(1, "a", 10), (2, "b", 20)]),
                          tpath)
        ups = spark.createDataFrame(
            [(2, "B", 99, "note-2"), (3, "c", 30, "note-3")],
            "k bigint, val string, n bigint, note string")
        V.merge_versioned(spark, tpath, ups, "k", evolve_schema=True,
                          store_changes=True)
        got = {r["k"]: (r["val"], r["n"], r["note"]) for r in
               V.read_version(spark, tpath).collect()}
        assert got == {1: ("a", 10, None), 2: ("B", 99, "note-2"),
                       3: ("c", 30, "note-3")}
        # stored feed equals the diff across the evolving commit
        a = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 2).collect()))
        b = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 2, use_stored=False).collect()))
        assert a == b

    def test_evolve_with_file_reuse(self, spark, tpath):
        df = (spark.range(100)
              .select(F.col("id").alias("k"),
                      F.lit("x").alias("val"),
                      (F.col("id") * 2).alias("n"))
              .repartitionByRange(4, "k"))
        V.write_versioned(df, tpath, stats_cols=["k"])
        ups = spark.createDataFrame(
            [(5, "U", 0, 7.5)], "k bigint, val string, n bigint, w double")
        V.merge_versioned(spark, tpath, ups, "k", evolve_schema=True,
                          file_reuse=True)
        m2 = V._read_manifest(tpath, 2)
        assert any(f.startswith("snap/v=1/") for f in m2["data_files"])
        got = V.read_version(spark, tpath)
        assert got.count() == 100
        # carried old files null-pad the new column via schema-on-read
        assert got.where("k = 99").first()["w"] is None
        assert got.where("k = 5").first()["w"] == 7.5

    def test_type_conflict_raises(self, spark, tpath):
        V.write_versioned(_df(spark, [(1, "a", 10)]), tpath)
        ups = spark.createDataFrame([(1, "a", "ten")],
                                    "k bigint, val string, n string")
        with pytest.raises(ValueError, match="type"):
            V.merge_versioned(spark, tpath, ups, "k",
                              evolve_schema=True)

    def test_missing_update_columns_null_pad(self, spark, tpath):
        V.write_versioned(_df(spark, [(1, "a", 10)]), tpath)
        ups = spark.createDataFrame([(2, "b")], "k bigint, val string")
        V.merge_versioned(spark, tpath, ups, "k", evolve_schema=True)
        got = {r["k"]: r["n"] for r in
               V.read_version(spark, tpath).collect()}
        assert got == {1: 10, 2: None}


class TestEvolveStoredFeedParity:
    """ADVICE r9 (medium): the stored change feed of an evolve_schema
    merge must equal the two-snapshot diff — change DETECTION is
    restricted to the parent snapshot's columns, because the diff
    path cannot see one-side-only columns."""

    def test_new_column_value_on_existing_key_emits_nothing(
            self, spark, tpath):
        V.write_versioned(_df(spark, [(1, "a", 10), (2, "b", 20)]),
                          tpath)
        # update touches ONLY the freshly added column on key 1
        ups = spark.createDataFrame(
            [(1, "a", 10, 99.0), (3, "c", 30, 1.0)],
            "k bigint, val string, n bigint, w double")
        V.merge_versioned(spark, tpath, ups, "k", evolve_schema=True,
                          store_changes=True)
        stored = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 2).collect()))
        diff = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 2, use_stored=False).collect()))
        assert stored == diff
        # the diff semantics: key 1 (only the new column changed) is
        # SILENT; key 3 is an insert carrying the new column
        kinds = {r[1]: r[0] for r in stored}  # k -> _change_type
        assert 1 not in kinds
        assert kinds == {3: "insert"}

    def test_parent_column_change_still_detected(self, spark, tpath):
        V.write_versioned(_df(spark, [(1, "a", 10)]), tpath)
        # n changes AND a new column arrives: update pair emitted,
        # identical on both paths
        ups = spark.createDataFrame(
            [(1, "a", 11, 5.0)], "k bigint, val string, n bigint, w double")
        V.merge_versioned(spark, tpath, ups, "k", evolve_schema=True,
                          store_changes=True)
        stored = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 2).collect()))
        diff = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 2, use_stored=False).collect()))
        assert stored == diff
        assert {r[0] for r in stored} == {"update_preimage",
                                          "update_postimage"}

    def test_omitted_parent_column_nulling_detected(self, spark, tpath):
        # evolve merge whose update batch OMITS a parent column: the
        # merged row nulls it; both paths must emit the update pair
        V.write_versioned(_df(spark, [(1, "a", 10)]), tpath)
        ups = spark.createDataFrame([(1, "a", 3.5)],
                                    "k bigint, val string, w double")
        V.merge_versioned(spark, tpath, ups, "k", evolve_schema=True,
                          store_changes=True)
        stored = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 2).collect()))
        diff = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 2, use_stored=False).collect()))
        assert stored == diff
        assert {r[0] for r in stored} == {"update_preimage",
                                          "update_postimage"}


class TestValidateKeysForcesDiff:
    def test_stored_span_with_validation_uses_diff(self, spark, tpath):
        # pinned behavior (ADVICE r9 / VERDICT r9 wrong #3): asking
        # for key validation bypasses the stored fast path — the
        # uniqueness property lives in the snapshots
        V.write_versioned(_df(spark, [(1, "a", 10)]), tpath)
        V.merge_versioned(spark, tpath, _df(spark, [(1, "A", 11)]),
                          "k", store_changes=True)
        assert V._stored_chain(tpath, 1, 2) is not None
        a = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 2, validate_keys=True).collect()))
        b = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 2, use_stored=False).collect()))
        assert a == b
        # and the validation itself still fires on a dup-key snapshot
        V.write_versioned(_df(spark, [(7, "x", 1), (7, "y", 2)]), tpath)
        with pytest.raises(ValueError, match="not unique"):
            V.read_changes(spark, tpath, "k", 2, 3, validate_keys=True)


class TestPlainMergeKeepsSkippingContract:
    def test_stats_cols_carry_across_plain_merge(self, spark, tpath):
        df = (spark.range(100)
              .select(F.col("id").alias("k"), F.lit("x").alias("val"),
                      (F.col("id") * 2).alias("n"))
              .repartitionByRange(4, "k"))
        V.write_versioned(df, tpath, stats_cols=["k"])
        V.merge_versioned(spark, tpath, _df(spark, [(5, "U", 0)]), "k")
        m2 = V._read_manifest(tpath, 2)
        assert m2.get("stats_cols") == ["k"]
        stats = V._load_sidecar(m2, "stats")
        assert stats and all(c["k"] is not None for c in stats.values())
        # skipping is ARMED on the new head: prune_files resolves
        # ranges (not None = no-stats) and an impossible range prunes
        # everything (the merge coalesced to one file here, so a
        # partial range keeps it — the contract is armed stats, not a
        # particular file layout)
        assert V.prune_files(m2, ("k", 0, 10)) is not None
        assert V.prune_files(m2, ("k", 10_000, 20_000)) == []

    def test_partition_by_carries_across_plain_merge(self, spark, tpath):
        df = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k bigint, val string, n bigint")
        V.write_versioned(df, tpath, partition_by=["val"])
        V.merge_versioned(spark, tpath, _df(spark, [(3, "c", 30)]), "k")
        m2 = V._read_manifest(tpath, 2)
        assert m2.get("partition_by") == ["val"]
        got = {r["k"]: r["val"] for r in
               V.read_version(spark, tpath).collect()}
        assert got == {1: "a", 2: "b", 3: "c"}


class TestStatsSidecarTypeNormalization:
    def test_date_stats_json_safe_on_driver_path(self, spark, tpath):
        # ADVICE r9 (low): date/Decimal footer stats crashed the
        # sidecar json.dump on the <=64-file driver path while the
        # executor path silently stringified — both now stringify
        df = spark.createDataFrame(
            [(1, "2024-01-05"), (2, "2024-03-09")],
            "k bigint, d string").select(
            "k", F.col("d").cast("date").alias("d"))
        V.write_versioned(df.repartitionByRange(2, "d"), tpath,
                          stats_cols=["d", "k"])   # driver path (2 files)
        m = V._read_manifest(tpath, 1)
        stats = V._load_sidecar(m, "stats")
        for _f, cols in stats.items():
            rng = cols["d"]
            if rng is not None:
                assert all(isinstance(v, str) for v in rng)
            krng = cols["k"]
            if krng is not None:
                assert all(isinstance(v, int) for v in krng)
        # string bounds prune on the stringified ISO dates
        pruned = V.read_version(spark, tpath,
                                where=("d", "2024-03-01", "2024-12-31"))
        assert len(pruned.inputFiles()) == 1
        # typed (date) bounds hit the conservative TypeError keep
        import datetime as _dt
        kept = V.prune_files(m, ("d", _dt.date(2024, 3, 1),
                                 _dt.date(2024, 12, 31)))
        assert kept is not None and len(kept) == 2


class TestRestoreVersion:
    """RESTORE as a first-class commit (VERDICT r9 next #3): rollback
    is a new manifest carrying the restored version's files by
    reference, with a defined (inverse) change feed across it."""

    def _seed(self, spark, tpath):
        df = (spark.range(50)
              .select(F.col("id").alias("k"), F.lit("x").alias("val"),
                      (F.col("id") * 2).alias("n"))
              .repartitionByRange(4, "k"))
        V.write_versioned(df, tpath, stats_cols=["k"])

    def test_restore_is_file_reuse_and_content_equal(self, spark, tpath):
        self._seed(spark, tpath)
        V.merge_versioned(spark, tpath,
                          _df(spark, [(1, "BAD", 0), (999, "bad", 9)]),
                          "k")                       # the bad commit
        v1_rows = sorted(map(tuple, V.read_version(
            spark, tpath, 1).collect()))
        out = V.restore_version(spark, tpath, 1)
        assert out["version"] == 3 and out["restored_from"] == 1
        assert out["files_rewritten"] == 0 and out["files_reused"] >= 1
        assert V.latest_version(tpath) == 3
        assert sorted(map(tuple, V.read_version(
            spark, tpath).collect())) == v1_rows
        m3 = V._read_manifest(tpath, 3)
        assert m3["op"] == "restore" and m3["restored_from"] == 1
        # files carried by REFERENCE into v1's directory
        assert all(f.startswith("snap/v=1/")
                   for f in m3["data_files"] if "v=1" in f)
        assert any(f.startswith("snap/v=1/") for f in m3["data_files"])
        # the bad version stays readable (audit trail)
        assert V.read_version(spark, tpath, 2).where(
            "k = 999").count() == 1
        # stats sidecar carried: pruning still works on the restore
        pruned = V.read_version(spark, tpath, where=("k", 0, 5))
        full = V.read_version(spark, tpath)
        assert len(pruned.inputFiles()) < len(full.inputFiles())

    def test_restore_change_feed_is_inverse(self, spark, tpath):
        self._seed(spark, tpath)
        V.merge_versioned(spark, tpath,
                          _df(spark, [(1, "BAD", 0), (999, "bad", 9)]),
                          "k", store_changes=True)
        V.restore_version(spark, tpath, 1, store_changes_key="k")
        fwd = {(r["_change_type"], r["k"]) for r in V.read_changes(
            spark, tpath, "k", 1, 2).collect()}
        inv = {(r["_change_type"], r["k"]) for r in V.read_changes(
            spark, tpath, "k", 2, 3).collect()}
        flip = {"insert": "delete", "delete": "insert",
                "update_preimage": "update_postimage",
                "update_postimage": "update_preimage"}
        assert {(flip[t], k) for t, k in fwd} == inv
        # and the restore's stored feed equals the snapshot diff
        stored = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 2, 3).collect()))
        diff = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 2, 3, use_stored=False).collect()))
        assert stored == diff
        # net across the bad span + restore: NOTHING changed
        assert V.read_changes(spark, tpath, "k", 1, 3).count() == 0

    def test_vacuum_refcounts_restored_files(self, spark, tpath):
        self._seed(spark, tpath)
        V.merge_versioned(spark, tpath, _df(spark, [(1, "BAD", 0)]), "k")
        V.restore_version(spark, tpath, 1)
        # retention drops v1 and v2 data dirs, but v3 references v1's
        # files — they must survive at file granularity
        removed = V.vacuum_versioned(tpath, keep_last=1)
        assert 2 in removed
        assert sorted(map(tuple, V.read_version(
            spark, tpath).collect())) == sorted(map(tuple, V.read_version(
                spark, tpath, 3).collect()))
        assert V.read_version(spark, tpath).count() == 50

    def test_restore_partitioned_falls_back_to_rewrite(self, spark,
                                                       tpath):
        df = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k bigint, val string, n bigint")
        V.write_versioned(df, tpath, partition_by=["val"])
        V.merge_versioned(spark, tpath, _df(spark, [(1, "a", 99)]), "k")
        out = V.restore_version(spark, tpath, 1)
        assert out["files_reused"] == 0 and out["files_rewritten"] >= 1
        m3 = V._read_manifest(tpath, 3)
        assert m3.get("partition_by") == ["val"] and m3["op"] == "restore"
        got = {r["k"]: r["n"] for r in
               V.read_version(spark, tpath).collect()}
        assert got == {1: 10, 2: 20}

    def test_restore_guards(self, spark, tpath):
        self._seed(spark, tpath)
        with pytest.raises(ValueError, match="already the head"):
            V.restore_version(spark, tpath, 1)
        V.merge_versioned(spark, tpath, _df(spark, [(1, "B", 0)]), "k")
        with pytest.raises(ValueError):
            V.restore_version(spark, tpath, 77)      # unknown version
        with pytest.raises(V.ConcurrentWriteError):
            V.restore_version(spark, tpath, 1, expected_parent=1)
        # vacuumed target refuses
        V.merge_versioned(spark, tpath, _df(spark, [(2, "C", 0)]), "k")
        V.vacuum_versioned(tpath, keep_last=1)
        with pytest.raises(ValueError, match="vacuum"):
            V.restore_version(spark, tpath, 1)


class TestUpdateWhere:
    """Row-level COW UPDATE (delete_where's sibling, r10)."""

    def _seed(self, spark, tpath):
        df = (spark.range(100)
              .select(F.col("id").alias("k"),
                      (F.col("id") % 3).alias("a"),
                      (F.col("id") % 5).alias("b"))
              .repartitionByRange(4, "k"))
        V.write_versioned(df, tpath, stats_cols=["k"])

    def test_cow_reuse_and_report(self, spark, tpath):
        self._seed(spark, tpath)
        res = V.update_where(spark, tpath, "k < 10",
                             {"a": "a + 100"},
                             store_changes_key="k")
        assert res["n_updated"] == 10 and res["n_changed"] == 10
        assert res["files_reused"] >= 1
        assert res["files_rewritten"] < 4 + 1
        got = {r["k"]: r["a"] for r in
               V.read_version(spark, tpath).collect()}
        assert got[5] == 5 % 3 + 100 and got[50] == 50 % 3
        assert len(got) == 100
        m = V._read_manifest(tpath, 2)
        assert m["op"] == "update" and m.get("stats_cols") == ["k"]

    def test_assignments_see_old_values_swap(self, spark, tpath):
        self._seed(spark, tpath)
        V.update_where(spark, tpath, "k < 10",
                       {"a": F.col("b"), "b": F.col("a")})
        got = {r["k"]: (r["a"], r["b"]) for r in
               V.read_version(spark, tpath).collect()}
        for k in range(10):
            assert got[k] == (k % 5, k % 3)      # swapped, not chained
        assert got[20] == (20 % 3, 20 % 5)       # untouched

    def test_unchanged_rows_emit_no_feed(self, spark, tpath):
        self._seed(spark, tpath)
        # a % 3 == a for a in {0,1,2}: floor-to-multiple-of-3 changes
        # only rows with a != 0
        res = V.update_where(spark, tpath, "k < 30",
                             {"a": "a - a % 3"},
                             store_changes_key="k")
        assert res["n_updated"] == 30
        assert res["n_changed"] == 20            # a in {1,2} changed
        stored = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 2).collect()))
        diff = sorted(map(tuple, V.read_changes(
            spark, tpath, "k", 1, 2, use_stored=False).collect()))
        assert stored == diff
        assert len(stored) == 40                 # 20 pairs

    def test_null_condition_rows_untouched(self, spark, tpath):
        df = spark.createDataFrame(
            [(1, 5, None), (2, 6, 1), (3, 7, 0)],
            "k bigint, a bigint, flag bigint")
        V.write_versioned(df, tpath)
        V.update_where(spark, tpath, F.col("flag") == 1, {"a": "a * 10"})
        got = {r["k"]: r["a"] for r in
               V.read_version(spark, tpath).collect()}
        assert got == {1: 5, 2: 60, 3: 7}        # NULL => untouched

    def test_unknown_column_raises(self, spark, tpath):
        self._seed(spark, tpath)
        with pytest.raises(ValueError, match="unknown column"):
            V.update_where(spark, tpath, "k < 10", {"nope": "1"})

    def test_partitioned_parent_falls_back(self, spark, tpath):
        df = spark.createDataFrame(
            [(1, "x", 10), (2, "y", 20)], "k bigint, p string, n bigint")
        V.write_versioned(df, tpath, partition_by=["p"])
        res = V.update_where(spark, tpath, "k = 1", {"n": "n + 5"})
        assert res["files_reused"] == 0
        m = V._read_manifest(tpath, 2)
        assert m.get("partition_by") == ["p"]
        got = {r["k"]: r["n"] for r in
               V.read_version(spark, tpath).collect()}
        assert got == {1: 15, 2: 20}

    def test_no_match_is_pure_reuse(self, spark, tpath):
        self._seed(spark, tpath)
        res = V.update_where(spark, tpath, "k > 10000", {"a": "0"},
                             store_changes_key="k")
        assert res["n_updated"] == 0 and res["files_rewritten"] == 0
        assert V.read_version(spark, tpath).count() == 100
        # stored (empty) feed still == diff (empty)
        assert V.read_changes(spark, tpath, "k", 1, 2).count() == 0


class TestTableHistory:
    def test_lifecycle_rows(self, spark, tpath):
        V.write_versioned(_df(spark, [(1, "a", 10), (2, "b", 20)]),
                          tpath)
        V.merge_versioned(spark, tpath, _df(spark, [(3, "c", 30)]),
                          "k", store_changes=True)
        V.delete_where(spark, tpath, "k = 3", store_changes_key="k")
        V.restore_version(spark, tpath, 2)
        h = {r["version"]: r for r in
             V.table_history(spark, tpath).collect()}
        assert [h[v]["op"] for v in (1, 2, 3, 4)] == [
            "write", "merge", "delete", "restore"]
        assert h[4]["restored_from"] == 2
        assert h[3]["file_reuse"] and h[4]["file_reuse"]
        assert h[2]["has_changes"] and not h[4]["has_changes"]
        assert h[2]["parent"] == 1 and h[1]["parent"] is None
        assert all(h[v]["committed_at"] is not None for v in h)


class TestLocalFrames:
    """Driver-built frames are JVM-local relations: no Python-worker
    task, same rows as before."""

    @staticmethod
    def _plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_driver_built_frames_are_local(self, spark, tpath):
        import datetime

        from pyspark.sql import types as T

        df = (spark.range(100).select(F.col("id").alias("k"),
                                      (F.col("id") * 2).alias("n"))
              .repartitionByRange(4, "k"))
        V.write_versioned(df, tpath, stats_cols=["k", "n"],
                          bloom_cols=["k"])
        V.delete_where(spark, tpath, F.col("k") < 10)
        hist = V.table_history(spark, tpath)
        agg = V.stats_aggregate(spark, tpath, [
            ("count", None, "c"), ("min", "k", "lo"),
            ("max", "n", "hi")], version=1)
        miss = V.read_version(spark, tpath, version=1,
                              where=("k", 10 ** 9, 10 ** 9))
        strict = T.StructType([T.StructField("a", T.LongType(), False),
                               T.StructField("d", T.DateType())])
        empty = V._local_frame(spark, [], strict)
        for frame in (hist, agg, miss, empty):
            plan = self._plan(frame)
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        assert [(r["version"], r["parent"], r["op"], r["n_files"],
                 r["has_changes"], r["file_reuse"])
                for r in hist.collect()] == [
            (1, None, "write", 4, False, False),
            (2, 1, "delete", 4, False, True)]
        assert hist.schema == spark.createDataFrame(
            [], "version long, parent long, op string, n_files long, "
            "has_changes boolean, file_reuse boolean, "
            "restored_from long, stream_query string, "
            "stream_batch long, committed_at double").schema
        assert [tuple(r) for r in agg.collect()] == [(100, 0, 198)]
        assert miss.collect() == [] and miss.schema == df.schema
        assert empty.collect() == [] and empty.schema == strict
        rows = [(1, datetime.date(2024, 2, 29)), (2, None)]
        assert V._local_frame(spark, rows, "a long, d date").collect() \
            == spark.createDataFrame(rows, "a long, d date").collect()


class TestCloneVersioned:
    """Shallow clone: manifest-only table copy by file reference."""

    def _mk_src(self, spark, tmp_path, partition_by=None):
        src = str(tmp_path / "src")
        df = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("v"),
            (F.col("id") % 4).cast("int").alias("p"))
        V.write_versioned(df.repartitionByRange(4, "k"), src,
                          stats_cols=["k"], partition_by=partition_by)
        V.merge_versioned(
            spark, src,
            spark.range(1000, 1100).select(
                F.col("k") if False else F.col("id").alias("k"),
                (F.col("id") * 7).alias("v"),
                (F.col("id") % 4).cast("int").alias("p")),
            "k", file_reuse=partition_by is None, store_changes=True)
        return src

    def test_clone_is_manifest_only_and_reads_back(self, spark, tmp_path):
        src = self._mk_src(spark, tmp_path)
        dst = str(tmp_path / "dst")
        rep = V.clone_versioned(spark, src, dst)
        m = V._read_manifest(src, 2)
        assert rep["files_rewritten"] == 0
        assert rep["files_referenced"] == m["n_files"]
        md = V._read_manifest(dst, 1)
        assert md["op"] == "clone"
        assert md["source_version"] == 2
        # every referenced file points OUTSIDE the clone's root
        ext = [f for f in md["data_files"] if f.startswith("..")]
        assert len(ext) == rep["files_referenced"]
        assert V.read_version(spark, dst).count() == 1100
        # stats carried: pruning on the clone keeps a strict subset
        kept = V.prune_files(md, ("k", 1050, None))
        assert kept is not None and 0 < len(kept) < md["n_files"]

    def test_clone_evolves_independently(self, spark, tmp_path):
        src = self._mk_src(spark, tmp_path)
        dst = str(tmp_path / "dst")
        V.clone_versioned(spark, src, dst)
        V.delete_where(spark, dst, F.col("k") < 100,
                       store_changes_key="k")
        assert V.read_version(spark, dst).count() == 1000
        assert V.read_version(spark, src).count() == 1100
        # and the other direction: source COW delete leaves the clone
        # reading the ORIGINAL files (still on disk until src vacuums)
        V.delete_where(spark, src, F.col("k") >= 1000)
        assert V.read_version(spark, src).count() == 1000
        assert V.read_version(spark, dst).count() == 1000
        assert V.read_version(spark, dst).where(
            F.col("k") >= 1000).count() == 100  # src delete NOT mirrored
        # clone CDC is its own feed
        feed = V.read_changes(spark, dst, "k", 1, 2)
        assert feed.count() == 100
        assert {r["_change_type"] for r in
                feed.select("_change_type").distinct().collect()} \
            == {"delete"}

    def test_vacuum_boundaries(self, spark, tmp_path):
        src = self._mk_src(spark, tmp_path)
        dst = str(tmp_path / "dst")
        V.clone_versioned(spark, src, dst)
        V.delete_where(spark, dst, F.col("k") < 100)
        # clone vacuum never crosses roots
        V.vacuum_versioned(dst, keep_last=1)
        assert V.read_version(spark, src).count() == 1100
        assert V.read_version(spark, dst).count() == 1000
        # source vacuum that keeps the cloned files alive is fine...
        V.vacuum_versioned(src, keep_last=1)
        assert V.read_version(spark, dst).count() == 1000
        # ...but rewriting + vacuuming the source breaks the clone
        # LOUDLY (the documented Delta shallow-clone hazard)
        V.write_versioned(
            spark.range(1).select(F.col("id").alias("k"),
                                  F.col("id").alias("v"),
                                  F.col("id").cast("int").alias("p")),
            src)
        V.vacuum_versioned(src, keep_last=1)
        import pytest
        with pytest.raises(ValueError, match="vacuum"):
            V.read_version(spark, dst).count()

    def test_time_travel_clone(self, spark, tmp_path):
        src = self._mk_src(spark, tmp_path)
        dst = str(tmp_path / "dst")
        rep = V.clone_versioned(spark, src, dst, version=1)
        assert rep["source_version"] == 1
        assert V.read_version(spark, dst).count() == 1000

    def test_partitioned_source_falls_back_to_rewrite(self, spark,
                                                      tmp_path):
        src = self._mk_src(spark, tmp_path, partition_by=["p"])
        dst = str(tmp_path / "dst")
        rep = V.clone_versioned(spark, src, dst)
        assert rep["files_referenced"] == 0
        assert rep["files_rewritten"] > 0
        assert V.read_version(spark, dst).count() == 1100
        md = V._read_manifest(dst, 1)
        assert md.get("partition_by") == ["p"]
        # directory columns restored
        assert V.read_version(spark, dst).where(
            F.col("p") == 2).count() > 0

    def test_guards(self, spark, tmp_path):
        import pytest
        src = self._mk_src(spark, tmp_path)
        dst = str(tmp_path / "dst")
        V.clone_versioned(spark, src, dst)
        with pytest.raises(ValueError, match="already a versioned"):
            V.clone_versioned(spark, src, dst)
        with pytest.raises(ValueError):
            V.clone_versioned(spark, src, str(tmp_path / "d2"),
                              version=99)
        with pytest.raises(ValueError, match="no snapshots"):
            V.clone_versioned(spark, str(tmp_path / "nope"),
                              str(tmp_path / "d3"))
        # vacuumed source version refuses
        V.write_versioned(
            spark.range(1).select(F.col("id").alias("k"),
                                  F.col("id").alias("v"),
                                  F.col("id").cast("int").alias("p")),
            src)
        V.vacuum_versioned(src, keep_last=1)
        with pytest.raises(ValueError, match="vacuumed"):
            V.clone_versioned(spark, src, str(tmp_path / "d4"),
                              version=1)


class TestBloomSkipping:
    """Per-file Bloom bitmaps: point-lookup skipping where min/max
    can't prune (hash-clustered layouts)."""

    def _mk(self, spark, tmp_path, name="t", **kw):
        t = str(tmp_path / name)
        df = spark.range(0, 8000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
        # hash-partition on v: every file spans the full k range
        V.write_versioned(df.repartition(8, "v"), t, **{
            "stats_cols": ["k"], "bloom_cols": ["k"], **kw})
        return t

    def test_prunes_where_minmax_cannot(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        m = V._read_manifest(t, 1)
        assert len(V._load_sidecar(m, "bloom")) == 8
        # min/max alone (the same layout without bloom_cols) keeps
        # everything: full-range files...
        t0 = self._mk(spark, tmp_path, "stats_only", bloom_cols=None)
        assert len(V.prune_files(V._read_manifest(t0, 1),
                                 ("k", 4242, 4242))) == 8
        # ...with bitmaps almost nothing survives
        kept = V.prune_files(m, ("k", 4242, 4242))
        assert 1 <= len(kept) <= 2
        # absent key: near-total pruning, zero rows, no error
        absent = V.prune_files(m, ("k", 123_456_789, 123_456_789))
        assert len(absent) <= 1
        assert V.read_version(
            spark, t, where=("k", 123_456_789, 123_456_789)).count() == 0

    def test_never_wrong_prunes(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        for k in range(0, 8000, 149):
            got = V.read_version(spark, t, where=("k", k, k)).where(
                F.col("k") == k).count()
            assert got == 1, k

    @pytest.mark.parametrize("hashes", [3, 4, 7])
    def test_never_wrong_prunes_any_hash_count(self, spark, tmp_path,
                                               hashes):
        """Every key of every file keeps that file, at any hash count
        (exhaustive over random keys, at the driver), while absent
        keys still prune."""
        import random

        import pyarrow.parquet as pq

        keys = random.Random(hashes).sample(range(10 ** 12), 3000)
        t = str(tmp_path / "t")
        V.write_versioned(
            spark.createDataFrame([(k, k % 13) for k in keys],
                                  "k bigint, v bigint")
            .repartition(6, "v"), t, bloom_cols=["k"],
            bloom_bits=8192, bloom_hashes=hashes)
        m = V._read_manifest(t, 1)
        assert m["bloom_hashes"] == hashes
        files = sorted(V._load_sidecar(m, "bloom"))
        for f in files:
            for k in pq.read_table(os.path.join(V._snap_dir(t, 1), f),
                                   columns=["k"])["k"].to_pylist():
                assert f in V.prune_files(m, ("k", k, k)), (f, k)
        kept = sum(len(V.prune_files(m, ("k", -k, -k)))
                   for k in range(1, 301))
        assert kept < 0.1 * 300 * len(files)

    def test_bitmap_literal_and_sql_replay(self, spark):
        """A fixed key set's bitmap is pinned literally, and every
        position replays in Spark SQL from one md5 per key:
        (h1 + i·h2) mod bits over its first two 32-bit words."""
        import pyarrow as pa

        keys = [1, 2, 3, 42]
        cfg = {"bloom_bits": 256, "bloom_hashes": 4}
        assert V._bloom_build("k", pa.array(keys + [None, 2]), cfg) == (
            "1010000000000444000000000200055000000200800001140000000008000")
        h = "cast(conv(substr(md5(cast(k AS string)), {}, 8), 16, 10) " \
            "AS bigint)"
        sql = spark.createDataFrame([(k,) for k in keys], "k bigint") \
            .selectExpr("k", "transform(sequence(0, 3), i -> pmod("
                        f"{h.format(1)} + i * {h.format(9)}, 256)) AS p")
        want = V._bloom_positions_py(keys, 256, 4).tolist()
        assert [r["p"] for r in sql.orderBy("k").collect()] == want

    def test_one_md5_per_distinct_value(self, monkeypatch):
        import hashlib

        import pyarrow as pa

        real, calls = hashlib.md5, []

        def counted(*a, **kw):
            calls.append(1)
            return real(*a, **kw)

        monkeypatch.setattr(hashlib, "md5", counted)
        V._bloom_build("k", pa.array([5, 1, 5, None, 2, 1, 9]),
                       {"bloom_bits": 1024, "bloom_hashes": 7})
        assert len(calls) == 4

    def test_false_positive_rate_matches_theory(self):
        """15k keys in 65,536 bits at 4 hashes: the measured
        false-positive rate is within 1.2× of (1 − e^(−kn/m))^k."""
        import math

        import numpy as np
        import pyarrow as pa

        n, bits, k = 15_000, 65_536, 4
        hexmap = V._bloom_build("k", pa.array(range(n)),
                                {"bloom_bits": bits, "bloom_hashes": k})
        bm = np.unpackbits(np.frombuffer(
            int(hexmap, 16).to_bytes(bits // 8, "little"), np.uint8),
            bitorder="little")
        probes = list(range(10 ** 9, 10 ** 9 + 200_000))
        fp = bm[V._bloom_positions_py(probes, bits, k)].all(axis=1).mean()
        theory = (1 - math.exp(-k * n / bits)) ** k
        assert theory / 1.2 <= fp <= theory * 1.2, (fp, theory)

    def test_scheme_less_manifest_is_untrusted(self, spark, tmp_path):
        """Bitmaps of a manifest without ``bloom_scheme`` were hashed
        another way: they prune nothing, verify notes them (no error),
        and a copy-on-write commit records the carried files' entries
        unknown while its new files get trusted bitmaps."""
        import json

        t = self._mk(spark, tmp_path)
        mpath = os.path.join(V._manifest_dir(t), "1.json")
        with open(mpath) as fh:
            raw = json.load(fh)
        del raw["bloom_scheme"]
        with open(mpath, "w") as fh:
            json.dump(raw, fh)
        m = V._read_manifest(t, 1)
        # min/max keeps every full-range file; the bitmaps drop none
        assert len(V.prune_files(m, ("k", 4242, 4242))) == 8
        issues = V.verify_versioned(t)
        assert any("never pruned on" in i for i in issues), issues
        assert not [i for i in issues if i.startswith("error")], issues
        V.delete_where(spark, t, F.col("v") == 3)
        m2 = V._read_manifest(t, 2)
        assert m2["bloom_scheme"] == V._BLOOM_SCHEME
        bl = V._load_sidecar(m2, "bloom")
        carried = [b for f, b in bl.items() if f.startswith("snap/v=1/")]
        fresh = [b for f, b in bl.items() if f.startswith("snap/v=2/")]
        assert len(carried) >= 6
        assert all(b == {"k": None} for b in carried)
        assert fresh and all(b["k"] is not None for b in fresh)
        assert V.read_version(spark, t, where=("k", 4242, 4242)).where(
            F.col("k") == 4242).count() == 1

    def test_range_predicates_ignore_bloom(self, spark, tmp_path):
        """Bloom only fires on lo == hi points — a RANGE on a table
        with bitmaps and no stats must keep everything."""
        t = self._mk(spark, tmp_path, stats_cols=None)
        m = V._read_manifest(t, 1)
        all_files = list(V._load_sidecar(m, "bloom"))
        assert V.prune_files(m, ("k", 0, 100)) == all_files
        assert V.read_version(spark, t, where=("k", 0, 100)).where(
            F.col("k") <= 100).count() == 101

    def test_inheritance_and_cow_carry(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        # delete on the CLUSTERED column: one file holds v == 3, the
        # other seven carry by reference with their bitmaps intact
        V.delete_where(spark, t, F.col("v") == 3)
        m2 = V._read_manifest(t, 2)
        assert m2.get("bloom_cols") == ["k"]
        bl = V._load_sidecar(m2, "bloom")
        # carried files keep bitmaps; the delete's rewritten slice got
        # fresh ones — every entry present
        assert set(bl) == set(m2["data_files"])
        carried_known = sum(1 for f, b in bl.items()
                            if f.startswith("snap/v=1/")
                            and b.get("k") not in (None,))
        assert carried_known >= 6
        assert V.read_version(spark, t, where=("k", 4242, 4242)).where(
            F.col("k") == 4242).count() == 1
        # restore carries the restored version's bitmaps
        V.restore_version(spark, t, 1)
        m3 = V._read_manifest(t, 3)
        assert m3.get("bloom_cols") == ["k"]
        bl3 = V._load_sidecar(m3, "bloom")
        assert sum(1 for b in bl3.values()
                   if b.get("k") not in (None,)) >= 8
        assert V.read_version(spark, t, where=("k", 50, 50)).where(
            F.col("k") == 50).count() == 1
        # plain merge (full materialization) re-arms via inheritance
        V.merge_versioned(
            spark, t,
            spark.range(9000, 9010).select(
                F.col("id").alias("k"),
                F.lit(0).cast("bigint").alias("v")), "k")
        m4 = V._read_manifest(t, 4)
        assert m4.get("bloom_cols") == ["k"]
        assert V.read_version(spark, t, where=("k", 9005, 9005)).where(
            F.col("k") == 9005).count() == 1

    def test_clone_carries_blooms(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        dst = str(tmp_path / "dst")
        V.clone_versioned(spark, t, dst)
        mc = V._read_manifest(dst, 1)
        assert mc.get("bloom_cols") == ["k"]
        kept = V.prune_files(mc, ("k", 4242, 4242))
        assert 1 <= len(kept) <= 2
        assert V.read_version(spark, dst, where=("k", 4242, 4242)) \
            .where(F.col("k") == 4242).count() == 1

    def test_disarm_and_partition_guard(self, spark, tmp_path):
        import pytest
        t = self._mk(spark, tmp_path)
        df = spark.range(0, 100).select(F.col("id").alias("k"),
                                        (F.col("id") % 7).alias("v"))
        V.write_versioned(df, t, bloom_cols=[])
        m = V._read_manifest(t, 2)
        assert m.get("bloom_cols") is None
        # and stays off for the next inherited commit
        V.write_versioned(df, t)
        assert V._read_manifest(t, 3).get("bloom_cols") is None
        with pytest.raises(ValueError, match="partition"):
            V.write_versioned(df, str(tmp_path / "p"),
                              partition_by=["v"], bloom_cols=["v"])

    def test_string_keys_and_nulls(self, spark, tmp_path):
        t = str(tmp_path / "s")
        df = spark.createDataFrame(
            [(f"user-{i}",) for i in range(500)] + [(None,)] * 5,
            "uid string")
        V.write_versioned(df.repartition(4, F.rand(7)), t,
                          bloom_cols=["uid"])
        got = V.read_version(
            spark, t, where=("uid", "user-123", "user-123"))
        assert got.where(F.col("uid") == "user-123").count() == 1
        m = V._read_manifest(t, 1)
        files = list(V._load_sidecar(m, "bloom"))
        kept = V.prune_files(m, ("uid", "user-123", "user-123"))
        assert len(kept) < len(files)
        # NULLs never probed, never added: a where on another value
        # still reads its row back
        assert V.read_version(spark, t).where(
            F.col("uid").isNull()).count() == 5

    def test_unsupported_types_rejected(self, spark, tmp_path):
        """r10 ADVICE: bitmaps hash Spark's string cast, probes hash
        the Python rendering — doubles ('1e+20' vs '1.0E20') and
        booleans ('True' vs 'true') diverge, so every probe misses
        and point reads silently DROP matching files.  write_versioned
        must refuse such columns up front."""
        import pytest
        df = spark.range(5).select(
            F.col("id").alias("k"),
            (F.col("id") * 1e18).alias("d"),
            (F.col("id") % 2 == 0).alias("b"))
        with pytest.raises(ValueError, match="string cast"):
            V.write_versioned(df, str(tmp_path / "d"), bloom_cols=["d"])
        with pytest.raises(ValueError, match="string cast"):
            V.write_versioned(df, str(tmp_path / "b"), bloom_cols=["b"])
        # int/string/date stay accepted
        ok = df.select("k", F.col("k").cast("string").alias("s"),
                       F.to_date(F.lit("2024-01-15")).alias("dt"))
        V.write_versioned(ok, str(tmp_path / "ok"),
                          bloom_cols=["k", "s", "dt"])

    def test_date_probe_canonical(self, spark, tmp_path):
        """A datetime.date probe must hash like Spark's string cast
        of the date column (both ISO)."""
        import datetime
        t = str(tmp_path / "dt")
        df = spark.range(0, 400).select(
            F.col("id").alias("k"),
            F.date_add(F.to_date(F.lit("2024-01-01")),
                       F.col("id").cast("int")).alias("d"))
        V.write_versioned(df.repartition(4, F.rand(3)), t,
                          bloom_cols=["d"])
        probe = datetime.date(2024, 3, 1)
        m = V._read_manifest(t, 1)
        files = list(V._load_sidecar(m, "bloom"))
        kept = V.prune_files(m, ("d", probe, probe))
        assert len(kept) < len(files)
        assert V.read_version(spark, t, where=("d", probe, probe)) \
            .where(F.col("d") == F.lit("2024-03-01").cast("date")) \
            .count() == 1

    def test_restore_carries_bloom_sizing(self, spark, tmp_path):
        """r10 ADVICE: restore carries m_old's bitmaps — probing them
        with the CURRENT head's bloom_bits/bloom_hashes would yield
        silent false negatives when the sizing changed between those
        versions.  The restore manifest must pin m_old's config."""
        t = str(tmp_path / "t")
        df = spark.range(0, 2000).select(
            F.col("id").alias("k"), (F.col("id") % 31).alias("v"))
        V.write_versioned(df.repartition(4, "v"), t,
                          bloom_cols=["k"], bloom_bits=4096,
                          bloom_hashes=3)                        # v1
        # resize blooms in a later full commit
        V.write_versioned(df.repartition(4, "v"), t,
                          bloom_cols=["k"], bloom_bits=65536,
                          bloom_hashes=7)                        # v2
        V.restore_version(spark, t, 1)                           # v3
        m3 = V._read_manifest(t, 3)
        assert m3.get("bloom_bits") == 4096
        assert m3.get("bloom_hashes") == 3
        # every point read still finds its row after the restore
        for k in range(0, 2000, 101):
            assert V.read_version(spark, t, where=("k", k, k)).where(
                F.col("k") == k).count() == 1, k
        # restoring a pre-bloom snapshot restores the no-bloom state
        t2 = str(tmp_path / "t2")
        V.write_versioned(df, t2)                                # v1
        V.write_versioned(df, t2, bloom_cols=["k"])              # v2
        V.restore_version(spark, t2, 1)                          # v3
        assert V._read_manifest(t2, 3).get("bloom_cols") is None


#: The prune tables: one sidecar config per kind, four layouts each.
_PRUNE_KINDS = {
    "stats": dict(stats_cols=["k", "v", "p"]),
    "bloom": dict(bloom_cols=["k", "v"]),
    "both": dict(stats_cols=["k", "v", "p"], bloom_cols=["k", "v"]),
}
_PRUNE_LAYOUTS = ("flat", "partitioned", "reuse", "clone")


def _prune_tables(spark, root):
    """Every (kind, layout) table of the prune tests, ``{(kind,
    layout): path}``: 2,400 rows of ``k`` (300-key runs hashed to 8
    write tasks, so stats prune ``k`` ranges), ``v`` = 37·k mod 500
    (scattered: min/max cannot prune it) and ``p`` = k mod 3, written
    flat, partitioned on ``p``, as a file-reuse snapshot after a
    copy-on-write delete of one run's slice, and as a clone of the
    flat table.  The hash layout depends on no core count."""
    df = spark.range(0, 2400).select(
        F.col("id").alias("k"), (F.col("id") * 37 % 500).alias("v"),
        (F.col("id") % 3).alias("p")) \
        .repartition(8, (F.col("k") / 300).cast("int"))
    out = {}
    for kind, cfg in _PRUNE_KINDS.items():
        t = {lay: os.path.join(root, kind, lay) for lay in _PRUNE_LAYOUTS}
        V.write_versioned(df, t["flat"], **cfg)
        V.write_versioned(df, t["partitioned"], partition_by=["p"], **cfg)
        V.write_versioned(df, t["reuse"], **cfg)
        V.delete_where(spark, t["reuse"], F.col("k").between(600, 649))
        V.clone_versioned(spark, t["flat"], t["clone"])
        out.update({(kind, lay): p for lay, p in t.items()})
    return out


def _file_rows(path, m):
    """Each data file's rows as pandas, keyed the way the manifest's
    sidecars key files (partition columns restored from the path)."""
    import pyarrow.parquet as pq

    if m.get("data_files") is not None:
        base, keys = path, m["data_files"]
    else:
        base = V._snap_dir(path, m["version"])
        keys = V._data_files(base)
    out = {}
    for f in keys:
        pdf = pq.ParquetFile(os.path.join(base, f)).read().to_pandas()
        for c in m.get("partition_by") or ():
            pdf[c] = V._partition_value(f, c, "long")
        out[f] = pdf
    return out


def _conj(where):
    return where if isinstance(where, list) else [where]


def _holds_match(pdf, where) -> bool:
    mask = pdf["k"] == pdf["k"]
    for c, lo, hi in _conj(where):
        if lo is not None:
            mask &= pdf[c] >= lo
        if hi is not None:
            mask &= pdf[c] <= hi
    return bool(mask.any())


def _filtered(df, where):
    for c, lo, hi in _conj(where):
        if lo is not None:
            df = df.where(F.col(c) >= lo)
        if hi is not None:
            df = df.where(F.col(c) <= hi)
    return sorted(r["k"] for r in df.select("k").collect())


#: Fixed predicates of the kept-count pins: points present and absent
#: on the clustered and the scattered column, closed and open ranges,
#: a partition point, and conjunctions.
_PIN_PREDICATES = [
    ("k", 1234, 1234), ("k", 99_999, 99_999), ("v", 77, 77),
    ("v", 600, 600), ("k", 500, 1100), ("k", None, 250), ("v", 10, 20),
    [("k", 0, 1500), ("v", 77, 77)], [("p", 1, 1), ("k", 1234, 1234)],
    ("p", 2, 2), [("k", 2000, None), ("v", 3, 3)],
]


@pytest.fixture(scope="class")
def prune_tables(spark, tmp_path_factory):
    return _prune_tables(spark, str(tmp_path_factory.mktemp("prune")))


class TestPruneFiles:
    """``prune_files`` over stats-only, Bloom-only and stats+Bloom
    tables in flat, partitioned, file-reuse and cloned layouts: it
    never drops a file that holds a matching row, a pruned read equals
    the filtered full read, and the kept-file counts stay pinned."""

    #: kept files per ``_PIN_PREDICATES`` entry, recorded from the
    #: min/max-then-Bloom composition this loop replaced
    PINS = {
        "bloom/clone": [1, 0, 3, 0, 6, 6, 6, 3, 1, 6, 3],
        "bloom/flat": [1, 0, 3, 0, 6, 6, 6, 3, 1, 6, 3],
        "bloom/partitioned": [1, 0, 4, 0, 15, 15, 15, 4, 1, 15, 4],
        "bloom/reuse": [1, 0, 3, 0, 6, 6, 6, 3, 1, 6, 3],
        "both/clone": [1, 0, 3, 0, 3, 2, 6, 2, 1, 6, 2],
        "both/flat": [1, 0, 3, 0, 3, 2, 6, 2, 1, 6, 2],
        "both/partitioned": [1, 0, 4, 0, 6, 3, 12, 3, 1, 5, 3],
        "both/reuse": [1, 0, 3, 0, 3, 2, 6, 2, 1, 6, 2],
        "stats/clone": [3, 1, 6, 1, 3, 2, 6, 5, 3, 6, 3],
        "stats/flat": [3, 1, 6, 1, 3, 2, 6, 5, 3, 6, 3],
        "stats/partitioned": [6, 0, 15, 0, 6, 3, 12, 10, 2, 5, 3],
        "stats/reuse": [3, 1, 6, 1, 3, 2, 6, 5, 3, 6, 3],
    }

    def test_never_drops_a_matching_file(self, spark, prune_tables):
        import random

        rng = random.Random(14)

        def one():
            c = rng.choice("kkvp")
            top = {"k": 2600, "v": 520, "p": 3}[c]
            lo = rng.randrange(top)
            shape = rng.random()
            if shape < 0.5:
                return (c, lo, lo)
            hi = lo + rng.randrange(top // 8 + 1)
            return (c, None if shape < 0.6 else lo,
                    None if 0.6 <= shape < 0.7 else hi)

        for (kind, lay), t in sorted(prune_tables.items()):
            m = V._read_manifest(t, V.latest_version(t))
            rows = _file_rows(t, m)
            preds = [[one(), one()] if rng.random() < 0.3 else one()
                     for _ in range(80)]
            pruned_any = False
            for w in preds:
                kept = V.prune_files(m, w)
                kept = set(rows) if kept is None else set(kept)
                assert kept <= set(rows), (kind, lay, w)
                pruned_any |= len(kept) < len(rows)
                for f, pdf in rows.items():
                    if _holds_match(pdf, w):
                        assert f in kept, (kind, lay, w, f)
            assert pruned_any, (kind, lay)
            full = V.read_version(spark, t)
            for w in preds[:3] + [_PIN_PREDICATES[0]]:
                assert _filtered(V.read_version(spark, t, where=w), w) \
                    == _filtered(full, w), (kind, lay, w)

    def test_kept_counts_pinned(self, prune_tables):
        got = {}
        for (kind, lay), t in sorted(prune_tables.items()):
            m = V._read_manifest(t, V.latest_version(t))
            n = len(_file_rows(t, m))
            got[f"{kind}/{lay}"] = [
                n if k is None else len(k)
                for k in (V.prune_files(m, w) for w in _PIN_PREDICATES)]
        assert got == self.PINS


class TestMorDelete:
    """Merge-on-read deletion vectors (r10 VERDICT #2): scattered
    point deletes cost a delete-sized sidecar, zero data rewritten;
    reads anti-join the vectors; COW ops / optimize fold them;
    restore/clone/vacuum handle them."""

    def _mk(self, spark, tmp_path, n=1000, files=8):
        t = str(tmp_path / "t")
        df = spark.range(0, n).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("c"))
        V.write_versioned(df.repartitionByRange(files, "k"), t,
                          stats_cols=["k"])
        return t

    def test_mor_equals_cow(self, spark, tmp_path):
        """The SAME lifecycle through mode='mor' and mode='cow' must
        produce identical table contents at every step."""
        tm = self._mk(spark, tmp_path)
        tc = str(tmp_path / "c")
        V.clone_versioned(spark, tm, tc)
        for cond in (F.col("k") % 97 == 0, F.col("k").between(500, 520),
                     F.col("k") == 5):
            rm = V.delete_where(spark, tm, cond, mode="mor", key="k")
            rc = V.delete_where(spark, tc, cond)
            assert rm["n_deleted"] == rc["n_deleted"]
            assert rm["files_rewritten"] == 0
            a = sorted((r["k"], r["c"]) for r in
                       V.read_version(spark, tm).collect())
            b = sorted((r["k"], r["c"]) for r in
                       V.read_version(spark, tc).collect())
            assert a == b

    def test_zero_data_movement(self, spark, tmp_path):
        """A scattered delete touches sidecars only: every parent
        file carried by reference, no new data files, the DV parquet
        is delete-sized."""
        t = self._mk(spark, tmp_path)
        r = V.delete_where(spark, t, F.col("k") % 199 == 0,
                           mode="mor", key="k")
        assert r == {"version": 2, "n_deleted": 6,
                     "files_rewritten": 0, "files_reused": 8}
        m = V._read_manifest(t, 2)
        assert m["dv_dirs"] == [2] and m["dv_key"] == "k"
        # every parent file carried, and NOTHING else: the r11
        # data-less commit path skips the empty replacement write, so
        # a MOR delete adds ZERO data files (no schema-only junk part
        # that every later read would open forever)
        extra = [f for f in m["data_files"]
                 if not f.startswith("snap/v=1/")]
        assert extra == []
        assert sum(1 for f in m["data_files"]
                   if f.startswith("snap/v=1/")) == 8
        dv = spark.read.parquet(str(tmp_path / "t" / "dv" / "v=2"))
        assert dv.count() == 6
        assert set(dv.columns) == {"_file", "k"}

    def test_no_data_commits_write_zero_files(self, spark, tmp_path):
        """r11 optimization pin: metadata-only commits (MOR delete,
        no-change MOR update, RESTORE, CLONE) commit no replacement
        frame (``df=None``) — the snapshot dir exists but
        holds no parquet, n_files counts carried files only, and
        reads / fsck are unaffected."""
        t = self._mk(spark, tmp_path)
        V.delete_where(spark, t, F.col("k") % 199 == 0,
                       mode="mor", key="k")                       # v2
        c = str(tmp_path / "clone")
        V.clone_versioned(spark, t, c)                    # clone v1
        V.restore_version(spark, t, 1)                            # v3
        for path, v, carried in ((t, 2, 8), (t, 3, 8), (c, 1, 8)):
            m = V._read_manifest(path, v)
            assert len(m["data_files"]) == m["n_files"] == carried
            snap = os.path.join(path, "snap", f"v={v}")
            assert os.path.isdir(snap)
            assert [f for f in os.listdir(snap)
                    if f.endswith(".parquet")] == []
        # reads and fsck still healthy
        assert V.read_version(spark, t).count() == 1000   # restored
        assert V.read_version(spark, c).count() == 994
        assert [i for i in V.verify_versioned(t)
                if i.startswith("error:")] == []
        assert [i for i in V.verify_versioned(c)
                if i.startswith("error:")] == []

    def test_reinsert_not_redeleted(self, spark, tmp_path):
        """File binding: a key deleted at v2 and re-inserted at v3
        (a NEW file) must be visible — key-only vectors would wrongly
        re-delete it."""
        t = self._mk(spark, tmp_path)
        V.delete_where(spark, t, F.col("k") == 97, mode="mor", key="k")
        V.merge_versioned(spark, t, spark.createDataFrame(
            [(97, 1234)], "k bigint, c bigint"), "k", file_reuse=True)
        got = V.read_version(spark, t).where(F.col("k") == 97)
        assert [(r["k"], r["c"]) for r in got.collect()] == [(97, 1234)]

    def test_reuse_commits_inherit_vectors(self, spark, tmp_path):
        """COW commits carrying parent files by reference must carry
        the vectors too — or deleted rows resurrect; and their raw
        touched-slice re-reads must be DV-applied."""
        t = self._mk(spark, tmp_path)
        V.delete_where(spark, t, F.col("k").isin(3, 500), mode="mor",
                       key="k")
        # a COW delete on top (touches the file containing k=5,
        # which is also k=3's file at this layout)
        V.delete_where(spark, t, F.col("k") == 5)
        g = V.read_version(spark, t)
        assert g.count() == 997
        assert g.where(F.col("k").isin(3, 5, 500)).count() == 0
        # COW update on top
        V.update_where(spark, t, F.col("k") == 501, {"c": F.lit(1)})
        g2 = V.read_version(spark, t)
        assert g2.where(F.col("k") == 500).count() == 0
        assert g2.where((F.col("k") == 501) & (F.col("c") == 1)) \
            .count() == 1

    def test_stacked_vectors_and_pruned_read(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        V.delete_where(spark, t, F.col("k") == 100, mode="mor", key="k")
        V.delete_where(spark, t, F.col("k") == 101, mode="mor", key="k")
        m = V._read_manifest(t, 3)
        assert m["dv_dirs"] == [2, 3]
        got = V.read_version(spark, t, where=("k", 90, 110))
        assert got.where(F.col("k").isin(100, 101)).count() == 0
        assert got.where(F.col("k") == 102).count() == 1

    def test_dv_read_builds_without_job(self, spark, tmp_path):
        # the delete-vector schema comes from the manifest: building a
        # read of a snapshot with live vectors runs no Spark job
        t = self._mk(spark, tmp_path, n=200, files=4)
        V.delete_where(spark, t, F.col("k") % 9 == 0, mode="mor",
                       key="k")
        assert V._read_manifest(t, 2).get("dv_dirs") == [2]
        df, jobs = spark_jobs(spark, lambda: V.read_version(spark, t))
        assert jobs == 0
        assert sorted(r["k"] for r in df.collect()) == [
            k for k in range(200) if k % 9]

    def test_cdc_sees_mor_deletes(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        V.delete_where(spark, t, F.col("k").isin(7, 800), mode="mor",
                       key="k", store_changes_key="k")
        stored = V.read_changes(spark, t, "k", from_version=1,
                                to_version=2)
        assert {(r["_change_type"], r["k"]) for r in stored.collect()} \
            == {("delete", 7), ("delete", 800)}
        # diff path agrees (reads both sides DV-applied)
        m = V._read_manifest(t, 2)
        assert m.get("changes")

    def test_optimize_folds_vectors(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        V.delete_where(spark, t, F.col("k") % 97 == 0, mode="mor",
                       key="k")
        n = V.read_version(spark, t).count()
        V.optimize_versioned(spark, t, n_files=4)
        m = V._read_manifest(t, V.latest_version(t))
        assert not m.get("dv_dirs")
        g = V.read_version(spark, t)
        assert g.count() == n
        assert g.where(F.col("k") == 97).count() == 0

    def test_selective_compaction_folds_and_refilters(
            self, spark, tmp_path):
        """Selective compaction DV-applies the compacted slice and
        rewrites the surviving vector set as one fresh sidecar."""
        t = self._mk(spark, tmp_path, n=20000, files=4)
        V.delete_where(spark, t, F.col("k").isin(3, 19999),
                       mode="mor", key="k")
        # one tiny extra file -> selective compaction target
        V.merge_versioned(spark, t, spark.createDataFrame(
            [(50000, 1)], "k bigint, c bigint"), "k", file_reuse=True)
        head = V.optimize_versioned(spark, t, n_files=2,
                                    min_file_bytes=2000)
        m = V._read_manifest(t, head)
        # the big v1 files still carry their vectors, folded into
        # ONE fresh dv dir owned by the optimize commit
        assert m.get("dv_dirs") == [head]
        g = V.read_version(spark, t)
        assert g.count() == 20000 - 2 + 1
        assert g.where(F.col("k").isin(3, 19999)).count() == 0

    def test_restore_and_clone_carry_vectors(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        V.delete_where(spark, t, F.col("k") == 42, mode="mor", key="k")
        V.delete_where(spark, t, F.col("k") == 43, mode="mor", key="k")
        V.restore_version(spark, t, 2)          # undo the 43 delete
        g = V.read_version(spark, t)
        assert g.where(F.col("k") == 43).count() == 1
        assert g.where(F.col("k") == 42).count() == 0
        dst = str(tmp_path / "dst")
        V.clone_versioned(spark, t, dst)
        mc = V._read_manifest(dst, 1)
        assert mc.get("dv_dirs") == [1]         # rewritten, clone-owned
        gc = V.read_version(spark, dst)
        assert gc.where(F.col("k") == 42).count() == 0
        assert gc.count() == g.count()

    def test_vacuum_refcounts_dv_dirs(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        V.delete_where(spark, t, F.col("k") == 1, mode="mor", key="k")
        V.merge_versioned(spark, t, spark.createDataFrame(
            [(9999, 1)], "k bigint, c bigint"), "k", file_reuse=True)
        # v3 inherits dv_dirs=[2]; keep_last=2 retains {2,3} -> dv kept
        V.vacuum_versioned(t, keep_last=2)
        assert (tmp_path / "t" / "dv" / "v=2").is_dir()
        assert V.read_version(spark, t).count() == 1000
        # full rewrite drops the reference, then vacuum reclaims
        V.optimize_versioned(spark, t, n_files=2)
        V.vacuum_versioned(t, keep_last=1)
        assert not (tmp_path / "t" / "dv" / "v=2").is_dir()
        assert V.read_version(spark, t).count() == 1000

    def test_mor_update_moves_only_changed_rows(self, spark, tmp_path):
        """update_where(mode='mor'): old copies vectored out, updated
        content appended, zero files rewritten; unchanged-content
        matches neither move nor duplicate."""
        t = self._mk(spark, tmp_path)
        r = V.update_where(spark, t, F.col("k").between(100, 109),
                           {"c": F.when(F.col("k") < 105,
                                        F.col("c") + 1)
                            .otherwise(F.col("c"))},
                           mode="mor", key="k")
        assert r["files_rewritten"] == 0 and r["files_reused"] == 8
        assert r["n_updated"] == 10 and r["n_changed"] == 5
        g = V.read_version(spark, t)
        assert g.count() == 1000
        got = {x["k"]: x["c"] for x in
               g.where(F.col("k").between(98, 111)).collect()}
        for k in range(98, 112):
            want = k * 10 + (1 if 100 <= k < 105 else 0)
            assert got[k] == want, (k, got[k], want)
        # stacking: mor update on top, then mor delete of an updated
        # key — the vector binds the NEW file's copy
        V.update_where(spark, t, F.col("k") == 100,
                       {"c": F.lit(7)}, mode="mor", key="k")
        assert V.read_version(spark, t).where(
            (F.col("k") == 100) & (F.col("c") == 7)).count() == 1
        V.delete_where(spark, t, F.col("k") == 100, mode="mor",
                       key="k")
        g2 = V.read_version(spark, t)
        assert g2.where(F.col("k") == 100).count() == 0
        assert g2.count() == 999

    def test_mor_update_equals_cow(self, spark, tmp_path):
        tm = self._mk(spark, tmp_path)
        tc = str(tmp_path / "c")
        V.clone_versioned(spark, tm, tc)
        rm = V.update_where(spark, tm, F.col("k") % 97 == 0,
                            {"c": F.col("c") * 2}, mode="mor", key="k")
        rc = V.update_where(spark, tc, F.col("k") % 97 == 0,
                            {"c": F.col("c") * 2})
        assert (rm["n_updated"], rm["n_changed"]) \
            == (rc["n_updated"], rc["n_changed"])
        a = sorted((r["k"], r["c"]) for r in
                   V.read_version(spark, tm).collect())
        b = sorted((r["k"], r["c"]) for r in
                   V.read_version(spark, tc).collect())
        assert a == b

    def test_mor_update_cdc_and_guards(self, spark, tmp_path):
        import pytest
        t = self._mk(spark, tmp_path)
        V.update_where(spark, t, F.col("k") == 3, {"c": F.lit(1)},
                       mode="mor", key="k", store_changes_key="k")
        feed = V.read_changes(spark, t, "k", 1, 2)
        got = sorted((r["_change_type"], r["k"], r["c"])
                     for r in feed.collect())
        assert got == [("update_postimage", 3, 1),
                       ("update_preimage", 3, 30)]
        with pytest.raises(ValueError, match="delete\\+insert"):
            V.update_where(spark, t, F.col("k") == 4,
                           {"k": F.lit(9)}, mode="mor", key="k")
        with pytest.raises(ValueError, match="requires key"):
            V.update_where(spark, t, F.col("k") == 4,
                           {"c": F.lit(9)}, mode="mor")
        # no-change update commits a clean no-op
        r = V.update_where(spark, t, F.col("k") == 5,
                           {"c": F.col("c")}, mode="mor", key="k")
        assert r["n_changed"] == 0
        assert V.read_version(spark, t).count() == 1000

    def test_mor_merge_moves_changed_inserts_new(self, spark,
                                                 tmp_path):
        """merge_versioned(mor=True): changed matches vector+append,
        inserts append, unchanged matches don't move, zero rewrites;
        equals the plain merge."""
        tm = self._mk(spark, tmp_path)
        tc = str(tmp_path / "c")
        V.clone_versioned(spark, tm, tc)
        ups = spark.createDataFrame(
            [(5, 50), (6, 61), (2000, 1)],   # 5 unchanged, 6 changed,
            "k bigint, c bigint")            # 2000 new
        V.merge_versioned(spark, tm, ups, "k", mor=True,
                          store_changes=True)
        V.merge_versioned(spark, tc, ups, "k")
        a = sorted((r["k"], r["c"]) for r in
                   V.read_version(spark, tm).collect())
        b = sorted((r["k"], r["c"]) for r in
                   V.read_version(spark, tc).collect())
        assert a == b and len(a) == 1001
        m2 = V._read_manifest(tm, 2)
        assert m2.get("merge_mode") == "mor"
        assert m2["dv_dirs"] == [2]
        dv = spark.read.parquet(str(tmp_path / "t" / "dv" / "v=2"))
        assert [r["k"] for r in dv.collect()] == [6]  # changed only
        # stored feed: unchanged row 5 silent, 6 pairs, 2000 insert
        feed = V.read_changes(spark, tm, "k", 1, 2)
        got = sorted((r["_change_type"], r["k"])
                     for r in feed.collect())
        assert got == [("insert", 2000), ("update_postimage", 6),
                       ("update_preimage", 6)]

    def test_mor_merge_evolve_schema(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        ups = spark.createDataFrame(
            [(7, 71, "x"), (3000, 1, "y")],
            "k bigint, c bigint, tag string")
        V.merge_versioned(spark, t, ups, "k", mor=True,
                          evolve_schema=True)
        g = V.read_version(spark, t)
        assert g.count() == 1001
        got = {r["k"]: (r["c"], r["tag"]) for r in
               g.where(F.col("k").isin(7, 8, 3000)).collect()}
        assert got == {7: (71, "x"), 8: (80, None), 3000: (1, "y")}

    def test_mor_append_fits_one_split_as_one_file(self, spark, tmp_path):
        """A MOR merge whose append fits one read split writes ONE
        file; an insert-heavy batch larger than a split keeps a task
        per input partition (the batch's four, here)."""
        t = str(tmp_path / "t")
        V.write_versioned(spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("c"))
            .repartitionByRange(2, "k"), t)

        def added(lo, hi):
            # keys lo..999 change, the rest insert
            before = V._head_manifest(t)["n_files"]
            V.merge_versioned(spark, t, spark.range(
                lo, hi, numPartitions=4).select(
                F.col("id").alias("k"), F.lit(-1).cast("bigint")
                .alias("c")), "k", mor=True)
            return V._head_manifest(t)["n_files"] - before

        assert added(990, 1010) == 1
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16k")
        try:
            assert added(900, 40_900) >= 4
        finally:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
        back = V.read_version(spark, t)
        assert back.count() == 40_900
        assert back.where(F.col("c") == -1).count() == 40_000

    def test_guards(self, spark, tmp_path):
        import pytest
        t = self._mk(spark, tmp_path)
        with pytest.raises(ValueError, match="key"):
            V.delete_where(spark, t, F.col("k") == 1, mode="mor")
        with pytest.raises(ValueError, match="mode"):
            V.delete_where(spark, t, F.col("k") == 1, mode="vector")
        tp = str(tmp_path / "p")
        V.write_versioned(
            spark.range(10).select(F.col("id").alias("k"),
                                   (F.col("id") % 2).alias("p")),
            tp, partition_by=["p"])
        with pytest.raises(ValueError, match="flat"):
            V.delete_where(spark, tp, F.col("k") == 1, mode="mor",
                           key="k")
        # empty delete commits cleanly with no dv dir
        r = V.delete_where(spark, t, F.col("k") == -1, mode="mor",
                           key="k")
        assert r["n_deleted"] == 0
        assert not V._read_manifest(t, r["version"]).get("dv_dirs")


class TestVerifyVersioned:
    """fsck for the versioned format: healthy lifecycles report
    clean, vacuumed history reports notes, real damage reports
    errors (and raises under strict)."""

    def test_healthy_lifecycle_clean(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = spark.range(0, 200).select(
            F.col("k") if False else F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"))
        V.write_versioned(df.repartition(4, "k"), t,
                          stats_cols=["k"], bloom_cols=["k"])
        V.delete_where(spark, t, F.col("k") == 5, mode="mor", key="k")
        V.merge_versioned(spark, t, spark.createDataFrame(
            [(999, 1)], "k bigint, v bigint"), "k",
            store_changes=True, file_reuse=True)
        assert V.verify_versioned(t) == []
        assert V.verify_versioned(t, strict=True) == []

    def test_vacuumed_history_is_notes(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = spark.range(0, 50).select(F.col("id").alias("k"))
        V.write_versioned(df, t)
        V.write_versioned(df.where(F.col("k") < 10), t)
        V.write_versioned(df, t)
        V.vacuum_versioned(t, keep_last=1)
        issues = V.verify_versioned(t)
        assert issues and all(i.startswith("note:") for i in issues)
        V.verify_versioned(t, strict=True)   # notes never raise

    def test_missing_head_file_is_error(self, spark, tmp_path):
        import os
        import pytest
        t = str(tmp_path / "t")
        V.write_versioned(
            spark.range(0, 50).select(F.col("id").alias("k"))
            .repartition(2, "k"), t)
        m = V._read_manifest(t, 1)
        victim = V._root_files(t, m)[0]
        os.remove(os.path.join(t, victim))
        issues = V.verify_versioned(t)
        assert any(i.startswith("error:") and "missing" in i
                   for i in issues)
        with pytest.raises(ValueError, match="integrity"):
            V.verify_versioned(t, strict=True)

    def test_orphan_claim_and_dir_are_notes(self, spark, tmp_path):
        import os
        t = str(tmp_path / "t")
        V.write_versioned(
            spark.range(5).select(F.col("id").alias("k")), t)
        open(os.path.join(V._manifest_dir(t), "9.claim"), "w").close()
        os.makedirs(os.path.join(t, "snap", "v=9"))
        issues = V.verify_versioned(t)
        assert sum(1 for i in issues if "orphan" in i) == 2
        assert all(i.startswith("note:") for i in issues)

    def test_every_sidecar_kind_is_checked(self, spark, tmp_path):
        """NDV and HDR sidecars get the stats/bloom checks: a corrupt
        file, a key outside the snapshot, a missing config."""
        import json
        t = str(tmp_path / "t")
        V.write_versioned(
            spark.range(1, 200).select(F.col("id").alias("k"))
            .repartition(2, "k"), t, ndv_cols=["k"], hdr_cols=["k"])
        assert V.verify_versioned(t) == []
        mdir = V._manifest_dir(t)
        with open(os.path.join(mdir, "1.ndv.json"), "w") as fh:
            fh.write("{not json")
        with open(os.path.join(mdir, "1.hdr.json")) as fh:
            hdr = json.load(fh)
        hdr["part-99999.parquet"] = {"k": {}}
        with open(os.path.join(mdir, "1.hdr.json"), "w") as fh:
            json.dump(hdr, fh)
        issues = V.verify_versioned(t)
        assert any(i.startswith("error:") and "ndv sidecar unreadable"
                   in i for i in issues), issues
        assert any(i.startswith("error:") and "hdr key" in i
                   for i in issues), issues
        with pytest.raises(ValueError, match="integrity"):
            V.verify_versioned(t, strict=True)
        mf = os.path.join(mdir, "1.json")
        with open(mf) as fh:
            man = json.load(fh)
        del man["hdr_cols"]
        with open(mf, "w") as fh:
            json.dump(man, fh)
        assert any("hdr sidecar but no hdr_cols" in i
                   for i in V.verify_versioned(t))


class TestStatsAggregate:
    """Metadata-only COUNT/MIN/MAX (r10 VERDICT #5): zero
    data-reading tasks where stats suffice, loud fallback otherwise."""

    def _mk(self, spark, tmp_path, stats=True):
        t = str(tmp_path / ("t" if stats else "t0"))
        df = spark.range(0, 5000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
            F.when(F.col("id") % 10 == 0, None)
            .otherwise(F.col("id").cast("double")).alias("d"))
        V.write_versioned(df.repartitionByRange(8, "k"), t,
                          stats_cols=["k", "v", "d"] if stats else None)
        return t

    def test_values_and_no_scan(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        res = V.stats_aggregate(spark, t, [
            ("count", None, "n"), ("min", "k", "kmin"),
            ("max", "k", "kmax"), ("min", "d", "dmin"),
            ("max", "v", "vmax")])
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in plan
        [r] = res.collect()
        assert (r["n"], r["kmin"], r["kmax"], r["vmax"]) \
            == (5000, 0, 4999, 9998)
        assert r["dmin"] == 1.0          # id 0's d is NULL

    def test_where_full_containment_only(self, spark, tmp_path):
        import pytest
        t = self._mk(spark, tmp_path)
        st = V._root_sidecar(V._read_manifest(t, 1), "stats")
        lo, hi = st[sorted(st)[0]]["k"]
        [r] = V.stats_aggregate(spark, t, [("count", None, "n")],
                                where=("k", lo, hi)).collect()
        assert r["n"] == V.read_version(spark, t).where(
            F.col("k").between(lo, hi)).count()
        with pytest.raises(V.StatsInsufficient, match="partially"):
            V.stats_aggregate(spark, t, [("count", None, "n")],
                              where=("k", lo, hi - 1))
        [r2] = V.stats_aggregate(spark, t, [("count", None, "n")],
                                 where=("k", lo, hi - 1),
                                 strict=False).collect()
        assert r2["n"] == r["n"] - 1

    def test_fallbacks(self, spark, tmp_path):
        import pytest
        t = self._mk(spark, tmp_path)
        # live delete vectors: extremes/counts unprovable
        V.delete_where(spark, t, F.col("k") == 5, mode="mor", key="k")
        with pytest.raises(V.StatsInsufficient, match="delete"):
            V.stats_aggregate(spark, t, [("count", None, "n")])
        [r] = V.stats_aggregate(spark, t, [("count", None, "n")],
                                strict=False).collect()
        assert r["n"] == 4999
        # string min/max: footer stats may truncate
        t2 = str(tmp_path / "s")
        V.write_versioned(
            spark.range(5).select(F.col("id").cast("string")
                                  .alias("s")), t2, stats_cols=["s"])
        with pytest.raises(V.StatsInsufficient, match="truncated"):
            V.stats_aggregate(spark, t2, [("min", "s", "m")])

    def test_pre_r11_sidecar_footer_route(self, spark, tmp_path):
        """A table without stats_cols (no sidecar at all) still
        answers from footer METADATA reads."""
        t = self._mk(spark, tmp_path, stats=False)
        res = V.stats_aggregate(spark, t, [
            ("count", None, "n"), ("max", "k", "km")])
        assert "FileScan" not in \
            res._jdf.queryExecution().executedPlan().toString()
        [r] = res.collect()
        assert (r["n"], r["km"]) == (5000, 4999)

    def test_empty_snapshot(self, spark, tmp_path):
        t = str(tmp_path / "e")
        V.write_versioned(
            spark.range(0).select(F.col("id").alias("k")), t,
            stats_cols=["k"])
        [r] = V.stats_aggregate(spark, t, [
            ("count", None, "n"), ("min", "k", "km")]).collect()
        assert r["n"] == 0 and r["km"] is None

    @pytest.mark.parametrize("strict", [True, False])
    def test_where_bounds_that_do_not_compare_fall_back(
            self, spark, tmp_path, strict):
        """A date column's stats are ISO strings: ``date`` bounds do
        not compare with them, so the count falls back — loud under
        strict, the scan answer otherwise."""
        import datetime
        t = str(tmp_path / "dt")
        df = spark.range(0, 300).select(
            F.date_add(F.to_date(F.lit("2024-01-01")),
                       F.col("id").cast("int")).alias("d"))
        V.write_versioned(df.repartition(3), t, stats_cols=["d"])
        call = lambda: V.stats_aggregate(  # noqa: E731
            spark, t, [("count", None, "n")], strict=strict,
            where=("d", datetime.date(2024, 3, 1),
                   datetime.date(2024, 3, 5))).collect()
        if strict:
            with pytest.raises(V.StatsInsufficient, match="compare"):
                call()
        else:
            assert call()[0]["n"] == 5

    def test_date_minmax(self, spark, tmp_path):
        import datetime
        t = str(tmp_path / "dt")
        df = spark.range(0, 300).select(
            F.date_add(F.to_date(F.lit("2024-01-01")),
                       F.col("id").cast("int")).alias("d"))
        V.write_versioned(df.repartition(3), t, stats_cols=["d"])
        [r] = V.stats_aggregate(spark, t, [
            ("min", "d", "dmin"), ("max", "d", "dmax")]).collect()
        assert r["dmin"] == datetime.date(2024, 1, 1)
        assert r["dmax"] == datetime.date(2024, 10, 26)


class TestNdvSidecars:
    """Per-file HLL register sidecars (Puffin's shape): metadata
    approx-NDV == the whole-table sketch, carried on reuse commits."""

    def test_merge_equals_whole_table_sketch(self, spark, tmp_path):
        from filters_spark.functions import sketch
        t = str(tmp_path / "t")
        df = spark.range(0, 20000).select(
            F.col("id").alias("k"), (F.col("id") % 16).alias("low"))
        V.write_versioned(df.repartitionByRange(8, "k"), t,
                          ndv_cols=["k", "low"])
        res = V.stats_aggregate(spark, t, [
            ("approx_ndv", "k", "nk"), ("approx_ndv", "low", "nl")])
        assert "FileScan" not in \
            res._jdf.queryExecution().executedPlan().toString()
        [r] = res.collect()
        ek = sketch.hll_estimate(sketch.hll_table(df, "k")) \
            .collect()[0]["est_distinct"]
        el = sketch.hll_estimate(sketch.hll_table(df, "low")) \
            .collect()[0]["est_distinct"]
        assert abs(r["nk"] - ek) < 1e-9
        assert abs(r["nl"] - el) < 1e-6
        # sanity: the estimates are actually in calibration range
        assert 0.7 * 20000 < r["nk"] < 1.3 * 20000
        assert r["nl"] == el and abs(el - 16) < 4

    def test_reuse_carries_registers_and_config(self, spark,
                                                tmp_path):
        t = str(tmp_path / "t")
        df = spark.range(0, 5000).select(
            F.col("id").alias("k"), (F.col("id") % 16).alias("low"))
        V.write_versioned(df.repartitionByRange(4, "k"), t,
                          ndv_cols=["low"])
        V.merge_versioned(spark, t, spark.createDataFrame(
            [(90000, 99)], "k bigint, low bigint"), "k",
            file_reuse=True)
        m = V._read_manifest(t, 2)
        assert m.get("ndv_cols") == ["low"]
        [r] = V.stats_aggregate(
            spark, t, [("approx_ndv", "low", "nl")]).collect()
        # 17 distinct low values now (16 + the planted 99): linear
        # counting tracks closely at this cardinality
        assert 13 < r["nl"] < 21

    def test_strict_refuses_without_registers(self, spark, tmp_path):
        import pytest
        t = str(tmp_path / "t")
        V.write_versioned(
            spark.range(100).select(F.col("id").alias("k")), t)
        with pytest.raises(V.StatsInsufficient, match="registers"):
            V.stats_aggregate(spark, t, [("approx_ndv", "k", "x")])
        [r] = V.stats_aggregate(spark, t, [("approx_ndv", "k", "x")],
                                strict=False).collect()
        assert r["x"] == 100.0               # exact-scan stand-in

    def test_clone_and_restore_keep_registers(self, spark, tmp_path):
        """Clone and restore carry the source's NDV config and
        registers: strict approx_ndv keeps answering from metadata
        with the same estimate."""
        t = str(tmp_path / "t")
        df = spark.range(1, 3001).select(
            F.col("id").alias("k"), (F.col("id") % 40 + 1).alias("v"))
        V.write_versioned(df.repartitionByRange(4, "k"), t,
                          ndv_cols=["v"], hdr_cols=["v"])
        q = [("approx_ndv", "v", "n")]
        [want] = V.stats_aggregate(spark, t, q).collect()
        dst = str(tmp_path / "dst")
        V.clone_versioned(spark, t, dst)
        assert V._read_manifest(dst, 1).get("ndv_cols") == ["v"]
        assert V.stats_aggregate(spark, dst, q).collect() == [want]
        V.write_versioned(df.where(F.col("k") > 10).repartition(3), t)
        V.restore_version(spark, t, 1)
        assert V._read_manifest(t, 3).get("ndv_cols") == ["v"]
        assert V.stats_aggregate(spark, t, q).collect() == [want]

    def test_rejects_types_without_python_string_form(self, spark,
                                                      tmp_path):
        # registers hash the value's string form: types whose Spark
        # string cast Python cannot reproduce are refused up front
        t = str(tmp_path / "t")
        df = spark.range(10).select(F.col("id").alias("k"),
                                    (F.col("id") / 3).alias("x"))
        with pytest.raises(ValueError, match="ndv_cols"):
            V.write_versioned(df, t, ndv_cols=["k", "x"])
        assert V.latest_version(t) is None
        V.write_versioned(df, t, ndv_cols=["k"])
        assert V._read_manifest(t, 1)["ndv_cols"] == ["k"]


class TestHdrSidecars:
    """Per-file HDR histogram sidecars: metadata quantiles == the
    whole-table sketch exactly (all-integer arithmetic)."""

    def test_merged_equals_whole_table_sketch(self, spark, tmp_path):
        from filters_spark.functions import sketch
        t = str(tmp_path / "t")
        df = spark.range(1, 20001).select(
            F.col("id").alias("k"),
            (F.col("id") * F.col("id") % 99991 + 1).alias("v"))
        V.write_versioned(df.repartitionByRange(8, "k"), t,
                          hdr_cols=["v"])
        res = V.stats_aggregate(spark, t, [
            ("approx_quantile", ("v", 1, 2), "p50"),
            ("approx_quantile", ("v", 9, 10), "p90")])
        assert "FileScan" not in \
            res._jdf.queryExecution().executedPlan().toString()
        [r] = res.collect()
        est = {(x["q_num"], x["q_den"]): x["est"] for x in
               sketch.hdr_quantiles(sketch.hdr_table(df, "v"),
                                    [(1, 2), (9, 10)]).collect()}
        assert r["p50"] == est[(1, 2)]
        assert r["p90"] == est[(9, 10)]
        # the HDR bound: est <= true < est·(1 + 2^-3)
        true = df.selectExpr("percentile(v, 0.5) p") \
            .collect()[0]["p"]
        assert r["p50"] <= true < r["p50"] * 1.125 + 1

    def test_reuse_carry_and_fallbacks(self, spark, tmp_path):
        import pytest
        t = str(tmp_path / "t")
        df = spark.range(1, 5001).select(
            F.col("id").alias("k"), (F.col("id") % 997 + 1).alias("v"))
        V.write_versioned(df.repartitionByRange(4, "k"), t,
                          hdr_cols=["v"])
        [before] = V.stats_aggregate(spark, t, [
            ("approx_quantile", ("v", 1, 2), "p")]).collect()
        V.merge_versioned(spark, t, spark.createDataFrame(
            [(90000, 5)], "k bigint, v bigint"), "k", file_reuse=True)
        [after] = V.stats_aggregate(spark, t, [
            ("approx_quantile", ("v", 1, 2), "p")]).collect()
        assert abs(after["p"] - before["p"]) <= before["p"] // 4
        t2 = str(tmp_path / "t2")
        V.write_versioned(df, t2)
        with pytest.raises(V.StatsInsufficient, match="HDR"):
            V.stats_aggregate(spark, t2, [
                ("approx_quantile", ("v", 1, 2), "p")])
        [fb] = V.stats_aggregate(spark, t2, [
            ("approx_quantile", ("v", 1, 2), "p")],
            strict=False).collect()
        assert fb["p"] == before["p"]
        with pytest.raises(ValueError, match="q_num"):
            V.stats_aggregate(spark, t, [
                ("approx_quantile", "v", "p")])

    def test_clone_and_restore_keep_buckets(self, spark, tmp_path):
        """Clone and restore carry the source's HDR config and
        buckets: strict approx_quantile keeps answering from
        metadata with the same estimate."""
        t = str(tmp_path / "t")
        df = spark.range(1, 3001).select(
            F.col("id").alias("k"), (F.col("id") % 400 + 1).alias("v"))
        V.write_versioned(df.repartitionByRange(4, "k"), t,
                          ndv_cols=["v"], hdr_cols=["v"])
        q = [("approx_quantile", ("v", 1, 2), "p")]
        [want] = V.stats_aggregate(spark, t, q).collect()
        dst = str(tmp_path / "dst")
        V.clone_versioned(spark, t, dst)
        assert V._read_manifest(dst, 1).get("hdr_cols") == ["v"]
        assert V.stats_aggregate(spark, dst, q).collect() == [want]
        V.write_versioned(df.where(F.col("k") > 10).repartition(3), t)
        V.restore_version(spark, t, 1)
        assert V._read_manifest(t, 3).get("hdr_cols") == ["v"]
        assert V.stats_aggregate(spark, t, q).collect() == [want]

    def test_nonpositive_values_fail_commit(self, spark, tmp_path):
        import pytest
        df = spark.range(0, 10).select(F.col("id").alias("v"))
        with pytest.raises(Exception, match="non-positive"):
            V.write_versioned(df, str(tmp_path / "t"),
                              hdr_cols=["v"])


class TestMaintainScd2:
    """Incremental SCD2 maintenance (r10 VERDICT #3): bounded
    cursor-driven calls into a stored versioned dimension ≡ the
    scd2_from_changes full rebuild."""

    _COLS = ["k", "v", "__start_version", "__end_version",
             "is_current"]

    def _lifecycle(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        V.write_versioned(df.repartitionByRange(4, "k"), t)        # v1
        V.update_where(spark, t, F.col("k").between(10, 29),
                       {"v": F.col("v") + 7}, store_changes_key="k")
        V.delete_where(spark, t, F.col("k").between(20, 29),
                       store_changes_key="k")                      # v3
        V.merge_versioned(spark, t, spark.range(1000, 1005).select(
            F.col("id").alias("k"),
            F.lit(1).cast("bigint").alias("v")), "k",
            store_changes=True)                                    # v4
        V.merge_versioned(spark, t, spark.createDataFrame(
            [(25, 999)], "k bigint, v bigint"), "k",
            store_changes=True)          # v5: re-insert deleted key
        return t

    def _rows(self, df):
        return sorted(tuple(r) for r in df.select(*self._COLS)
                      .collect())

    def test_incremental_equals_rebuild(self, spark, tmp_path):
        from filters_spark.plans.joins import (maintain_scd2,
                                               scd2_from_changes)
        t = self._lifecycle(spark, tmp_path)
        d, c = str(tmp_path / "d"), str(tmp_path / "cur")
        # five commits consumed over three bounded calls
        import shutil as _sh
        _sh.rmtree(d, ignore_errors=True)
        # replay the lifecycle incrementally: rebuild table paths by
        # maintaining AFTER each commit is impossible post-hoc, so
        # consume in one call and compare — plus the per-commit
        # variant below
        maintain_scd2(spark, t, d, "k", c)
        a = self._rows(scd2_from_changes(spark, t, "k", 1))
        b = self._rows(V.read_version(spark, d).drop("_sk"))
        assert a == b and len(a) > 100
        # re-inserted key has two interval generations
        ivs = sorted((x[2], x[3]) for x in b if x[0] == 25)
        assert ivs == [(1, 2), (2, 3), (5, None)]

    def test_per_commit_maintenance_and_caught_up(self, spark,
                                                  tmp_path):
        from filters_spark.plans.joins import (maintain_scd2,
                                               scd2_from_changes)
        t = str(tmp_path / "t")
        d, c = str(tmp_path / "d"), str(tmp_path / "cur")
        df = spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        V.write_versioned(df.repartitionByRange(4, "k"), t)
        assert maintain_scd2(spark, t, d, "k", c) == 1     # seed
        assert maintain_scd2(spark, t, d, "k", c) is None  # caught up
        V.update_where(spark, t, F.col("k") < 5,
                       {"v": F.lit(1)}, store_changes_key="k")
        assert maintain_scd2(spark, t, d, "k", c) == 2
        V.delete_where(spark, t, F.col("k") == 0,
                       store_changes_key="k")
        assert maintain_scd2(spark, t, d, "k", c) == 3
        a = self._rows(scd2_from_changes(spark, t, "k", 1))
        b = self._rows(V.read_version(spark, d).drop("_sk"))
        assert a == b
        # unchanged maintenance is a no-op
        assert maintain_scd2(spark, t, d, "k", c) is None

    def test_crash_replay_idempotent(self, spark, tmp_path):
        import shutil
        from filters_spark.plans.joins import (maintain_scd2,
                                               scd2_from_changes)
        t = str(tmp_path / "t")
        d, c = str(tmp_path / "d"), str(tmp_path / "cur")
        df = spark.range(0, 60).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        V.write_versioned(df.repartitionByRange(4, "k"), t)
        V.update_where(spark, t, F.col("k").between(5, 15),
                       {"v": F.col("v") + 1}, store_changes_key="k")
        maintain_scd2(spark, t, d, "k", c)
        shutil.copy(c, c + ".bak")
        V.delete_where(spark, t, F.col("k") == 7,
                       store_changes_key="k")
        V.merge_versioned(spark, t, spark.createDataFrame(
            [(7, 42)], "k bigint, v bigint"), "k", store_changes=True)
        maintain_scd2(spark, t, d, "k", c)
        a = self._rows(V.read_version(spark, d).drop("_sk"))
        # crash: dimension commit landed, cursor ack lost
        shutil.copy(c + ".bak", c)
        maintain_scd2(spark, t, d, "k", c)
        assert self._rows(V.read_version(spark, d).drop("_sk")) == a
        assert a == self._rows(scd2_from_changes(spark, t, "k", 1))

    def test_bounded_plan_per_call(self, spark, tmp_path):
        """The per-call work consumes only the commits since the
        cursor: after catching up on a long history, one more commit
        maintains with a plan holding ONE feed branch (the
        scd2_from_changes rebuild would union the full span)."""
        from filters_spark.plans.joins import maintain_scd2
        t = str(tmp_path / "t")
        d, c = str(tmp_path / "d"), str(tmp_path / "cur")
        df = spark.range(0, 30).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        V.write_versioned(df.repartitionByRange(2, "k"), t)
        for i in range(6):
            V.update_where(spark, t, F.col("k") == i,
                           {"v": F.lit(i * 100)},
                           store_changes_key="k")
        maintain_scd2(spark, t, d, "k", c)
        V.update_where(spark, t, F.col("k") == 29,
                       {"v": F.lit(1)}, store_changes_key="k")
        ver = maintain_scd2(spark, t, d, "k", c)
        assert ver is not None
        m = V._read_manifest(str(tmp_path / "d"), ver)
        assert m.get("scd2_src_version") == 8
        cur_rows = V.read_version(spark, d).where(
            (F.col("k") == 29) & F.col("is_current")).collect()
        assert [r["v"] for r in cur_rows] == [1]


class TestScd2FromChanges:
    def _mk(self, spark, tmp_path):
        from filters_spark.plans.joins import scd2_from_changes
        t = str(tmp_path / "t")
        df = spark.range(0, 100).select(
            F.col("k") if False else F.col("id").alias("k"),
            (F.col("id") * 10).alias("c"))
        V.write_versioned(df.repartitionByRange(4, "k"), t)
        V.update_where(spark, t, F.col("k").between(10, 29),
                       {"c": F.col("c") + 7})
        V.delete_where(spark, t, F.col("k").between(20, 29))
        V.merge_versioned(spark, t, spark.range(1000, 1005).select(
            F.col("id").alias("k"),
            F.lit(1).cast("bigint").alias("c")), "k")
        return t, scd2_from_changes(spark, t, "k", 1)

    def test_interval_shape(self, spark, tmp_path):
        t, h = self._mk(spark, tmp_path)
        agg = {}
        for r in h.collect():
            kk = (r["__start_version"], r["__end_version"])
            agg[kk] = agg.get(kk, 0) + 1
        assert agg == {(1, 2): 20, (1, None): 80, (2, 3): 10,
                       (2, None): 10, (4, None): 5}
        cur = {r["k"]: r["c"] for r in h.collect() if r["is_current"]}
        assert cur[15] == 157 and 25 not in cur and cur[1000] == 1

    def test_asof_reconstruction_equals_time_travel(self, spark,
                                                    tmp_path):
        t, h = self._mk(spark, tmp_path)
        for v in (1, 2, 3, 4):
            asof = h.where(
                (F.col("__start_version") <= v)
                & (F.col("__end_version").isNull()
                   | (F.col("__end_version") > v)))
            want = {(r["k"], r["c"]) for r in
                    V.read_version(spark, t, v).collect()}
            got = {(r["k"], r["c"]) for r in
                   asof.select("k", "c").collect()}
            assert got == want, v

    def test_reinserted_key_opens_fresh_interval(self, spark,
                                                 tmp_path):
        from filters_spark.plans.joins import scd2_from_changes
        t = str(tmp_path / "r")
        V.write_versioned(spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit(1).cast("bigint").alias("c")), t)
        V.delete_where(spark, t, F.col("k") == 5)
        V.merge_versioned(spark, t, spark.range(5, 6).select(
            F.col("id").alias("k"),
            F.lit(99).cast("bigint").alias("c")), "k")
        h = scd2_from_changes(spark, t, "k", 1)
        k5 = sorted((r["__start_version"], r["__end_version"], r["c"])
                    for r in h.where(F.col("k") == 5).collect())
        assert k5 == [(1, 2, 1), (3, None, 99)]

    def test_unchanged_rewrites_never_version(self, spark, tmp_path):
        from filters_spark.plans.joins import scd2_from_changes
        t = str(tmp_path / "u")
        df = spark.range(0, 10).select(F.col("id").alias("k"),
                                       F.lit(1).cast("bigint").alias("c"))
        V.write_versioned(df, t)
        V.optimize_versioned(spark, t, n_files=2)   # layout-only
        h = scd2_from_changes(spark, t, "k", 1)
        assert h.count() == 10
        assert h.where(~F.col("is_current")).count() == 0

    def _mk_stored(self, spark, tmp_path):
        """rel_scd2_maintain's lifecycle shape with EVERY commit
        storing its feed — the span the single-scan fast path serves."""
        t = str(tmp_path / "s")
        V.write_versioned(spark.range(0, 60).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("c")), t)
        V.update_where(spark, t, F.col("k").between(10, 29),
                       {"c": F.col("c") + 7}, store_changes_key="k")
        V.delete_where(spark, t, F.col("k").between(20, 29),
                       store_changes_key="k")
        V.merge_versioned(spark, t, spark.range(1000, 1005).select(
            F.col("id").alias("k"),
            F.lit(1).cast("bigint").alias("c")), "k",
            store_changes=True)
        V.merge_versioned(spark, t, spark.range(20, 23).select(
            F.col("id").alias("k"),
            F.lit(99).cast("bigint").alias("c")), "k",
            store_changes=True)                     # re-insert
        return t

    def test_stored_span_fast_path_equals_loop(self, spark, tmp_path,
                                               monkeypatch):
        from filters_spark.plans import joins as J
        t = self._mk_stored(spark, tmp_path)
        assert V.read_changes_per_commit(spark, t, "k", 1) is not None
        fast = {tuple(r) for r in
                J.scd2_from_changes(spark, t, "k", 1).collect()}
        # force the per-pair loop and compare row-for-row
        monkeypatch.setattr(V, "read_changes_per_commit",
                            lambda *a, **kw: None)
        loop = {tuple(r) for r in
                J.scd2_from_changes(spark, t, "k", 1).collect()}
        assert fast == loop and len(fast) > 60

    def test_commit_version_of_foreign_path_names_it(self, spark,
                                                     tmp_path,
                                                     monkeypatch):
        # a change file outside changes/v=N/ fails naming the file,
        # not as an ANSI cast error on the empty segment
        import shutil
        t = self._mk_stored(spark, tmp_path)
        moved = tmp_path / "feeds"
        for v in V.versions(t)[1:]:
            shutil.copytree(V._changes_dir(t, v), moved / f"w{v}")
        monkeypatch.setattr(V, "_changes_dir",
                            lambda path, v: str(moved / f"w{v}"))
        ev = V.read_changes_per_commit(spark, t, "k", 1)
        with pytest.raises(Exception, match=r"feeds/w\d+/.*is not "
                           r"under a changes/v=N/ directory"):
            ev.collect()

    def test_long_stored_history_plan_bounded(self, spark, tmp_path):
        """SCALE §25/§32 giant-union class (VERDICT r11 task 10): a
        rebuild over 120 stored commits must plan as ONE feed scan,
        not 120 union branches — pinned by a plan-string length
        assertion AND an exact-interval check."""
        from filters_spark.plans.joins import scd2_from_changes
        t = str(tmp_path / "long")
        rows = [(0, 0)]
        V.write_versioned(spark.createDataFrame(
            rows, "k bigint, c bigint"), t)
        n_commits = 120
        for i in range(1, n_commits + 1):
            rows.append((i, i * 10))
            feed = spark.createDataFrame(
                [("insert", i, i * 10)],
                "_change_type string, k bigint, c bigint")
            V.write_versioned(
                spark.createDataFrame(rows, "k bigint, c bigint"),
                t, changes_df=feed)
        h = scd2_from_changes(spark, t, "k", 1)
        plan = h._jdf.queryExecution().executedPlan().toString()
        # one multi-path scan: far under the ~80k chars the per-commit
        # union planned at this history length (SCALE §32)
        assert len(plan) < 20_000, len(plan)
        got = {(r["k"], r["__start_version"], r["__end_version"])
               for r in h.collect()}
        want = {(0, 1, None)} | {(i, i + 1, None)
                                 for i in range(1, n_commits + 1)}
        assert got == want


class TestSelectiveCompaction:
    def test_compacts_only_the_small_tail(self, spark, tmp_path):
        t = str(tmp_path / "t")
        big = spark.range(0, 200_000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        V.write_versioned(big.repartitionByRange(2, "k"), t,
                          stats_cols=["k"])
        # 6 tiny appended files via 6 file-reuse merges
        for i in range(6):
            lo = 200_000 + i * 10
            V.merge_versioned(spark, t, spark.range(lo, lo + 10)
                              .coalesce(1)
                              .select(F.col("id").alias("k"),
                                      (F.col("id") * 3).alias("v")),
                              "k", file_reuse=True)
        m1 = V._read_manifest(t, 7)
        assert m1["n_files"] >= 8
        # threshold sits between the tiny appended files (~1 KB) and
        # the two big range files (~200-230 KB under the r12 zstd
        # default — they were ~800 KB under snappy, hence the old
        # 256 KB value)
        v = V.optimize_versioned(spark, t, min_file_bytes=128 * 1024,
                                 n_files=2)
        m2 = V._read_manifest(t, v)
        assert m2["op"] == "optimize"
        assert m2["carried"] == 2            # the two big files
        assert m2["compacted"] >= 6
        # big files carried by REFERENCE (paths outside snap/v=3/)
        carried = [f for f in m2["data_files"]
                   if not f.startswith(f"snap/v={v}/")]
        assert len(carried) == 2
        # content preserved, stats carried (pruning still works)
        assert V.read_version(spark, t).count() == 200_060
        kept = V.prune_files(m2, ("k", 0, 10))
        assert kept is not None and len(kept) < m2["n_files"]
        # the feed across the optimize is EMPTY (layout-blind CDC)
        assert V.read_changes(spark, t, "k", 7, v).count() == 0

    def test_noop_and_guards(self, spark, tmp_path):
        import pytest
        t = str(tmp_path / "n")
        V.write_versioned(spark.range(0, 1000).select(
            F.col("id").alias("k")), t)
        head = V.latest_version(t)
        assert V.optimize_versioned(spark, t, min_file_bytes=10) == head
        assert V.latest_version(t) == head   # truly no commit
        with pytest.raises(ValueError, match="one or the other"):
            V.optimize_versioned(spark, t, zorder=["k"],
                                 min_file_bytes=10)
        p = str(tmp_path / "p")
        V.write_versioned(spark.range(0, 10).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("int").alias("d")), p,
            partition_by=["d"])
        with pytest.raises(ValueError, match="flat layout"):
            V.optimize_versioned(spark, p, min_file_bytes=10)

    def test_bloom_carries_through_compaction(self, spark, tmp_path):
        t = str(tmp_path / "b")
        df = spark.range(0, 8000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
        V.write_versioned(df.repartition(8, "v"), t, bloom_cols=["k"])
        V.merge_versioned(spark, t, spark.range(8000, 8010).select(
            F.col("id").alias("k"), F.lit(0).cast("bigint").alias("v")),
            "k", file_reuse=True)
        v = V.optimize_versioned(spark, t, min_file_bytes=1024,
                                 n_files=1)
        m = V._read_manifest(t, v)
        assert m.get("bloom_cols") == ["k"]
        assert V.read_version(spark, t, where=("k", 4242, 4242)).where(
            F.col("k") == 4242).count() == 1

    def test_clone_keeps_deleted_rows_deleted(self, spark, tmp_path):
        """A clone carries the source's files as ``../src/snap/...``
        paths while its delete vectors bind the ``snap/v=N/...``
        tail: compaction must match the two, or the carried files'
        vector entries drop and their deleted rows read again."""
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        V.write_versioned(spark.range(0, 4000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
            .repartitionByRange(2, "k"), src)
        V.delete_where(spark, src, "k % 10 = 0", mode="mor", key="k")
        V.clone_versioned(spark, src, dst)
        V.merge_versioned(spark, dst, spark.range(1, 4).select(
            F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")),
            "k", mor=True)
        assert V.read_version(spark, dst).count() == 3600
        m = V._read_manifest(dst, V.latest_version(dst))
        sizes = {f: os.path.getsize(os.path.join(dst, f))
                 for f in m["data_files"]}
        carried = [s for f, s in sizes.items() if f.startswith("../")]
        assert len(carried) == 2 and len(sizes) > 2
        V.optimize_versioned(spark, dst, min_file_bytes=min(carried))
        back = V.read_version(spark, dst)
        assert back.count() == 3600
        assert back.select("k").distinct().count() == 3600
        assert back.where("k % 10 = 0").count() == 0
