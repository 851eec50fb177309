"""The CDC replica sink, ``apply_changes_sink``, on its three commit
layouts: flat copy-on-write, flat merge-on-read and a partitioned
replica (full rewrite).  Each cell hands one change-feed batch to the
sink directly and checks the replica against a pandas replay,
``verify_versioned(strict=True)`` and the batch's Spark job count
against a pin.

The fixture is 20k rows in 4 range-clustered files (the partitioned
replica: by ``p = k % 7``).  The batch nets to 3 changed upserts, 2
unchanged upserts, 2 inserts and 2 deletes; every existing key it
names sits in the first file.  Job counts come from a warm run (the
same batch on a fresh replica right after a first one)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import spark_jobs
from filters_spark.sources import versioned as V
from filters_spark.streaming import apply_changes_sink

N = 20_000

#: Spark jobs per batch on the warm run, side writes included (4-CPU
#: box, ``local[4]``).  A pin may only go down: lower it when a change
#: saves a job.
JOB_PINS = {"cow": 9, "mor": 9, "full": 5}

CHANGED = (10, 20, 30)
UNCHANGED = (40, 50)
INSERTED = (N, N + 1)
DELETED = (60, 70)

FEED_SCHEMA = ("_change_type string, k bigint, c bigint, p bigint, "
               "_commit_version bigint")


def _row(k, c=None):
    return (k, k % 97 if c is None else c, k % 7)


def _events():
    ev = []
    for k in CHANGED:
        ev += [("update_preimage", *_row(k), 2),
               ("update_postimage", *_row(k, 1000 + k), 2)]
    # a later commit of the same key wins the netting
    ev += [("update_preimage", *_row(30, 1030), 3),
           ("update_postimage", *_row(30, 2030), 3)]
    ev += [("update_postimage", *_row(k), 2) for k in UNCHANGED]
    ev += [("insert", *_row(k, 1), 3) for k in INSERTED]
    ev += [("delete", *_row(k), 3) for k in DELETED]
    return ev


def _expected():
    k = pd.Series(range(N), dtype="int64")
    b = pd.DataFrame({"k": k, "c": k % 97, "p": k % 7}).set_index("k")
    for key in CHANGED:
        b.loc[key, "c"] = 1000 + key
    b.loc[30, "c"] = 2030
    for key in INSERTED:
        b.loc[key] = (1, key % 7)
    b = b.drop(index=list(DELETED))
    return sorted((int(i), int(r.c), int(r.p)) for i, r in b.iterrows())


def _write_base(spark, t, layout):
    df = (spark.range(N).select(F.col("id").alias("k"),
                                (F.col("id") % 97).alias("c"),
                                (F.col("id") % 7).alias("p"))
          .repartitionByRange(4, "k"))
    V.write_versioned(df, t, stats_cols=["k"],
                      partition_by=["p"] if layout == "full" else None)


def _apply(spark, t, layout):
    sink = apply_changes_sink(t, "k", sink_id=f"replica-{layout}",
                              mode="mor" if layout == "mor" else "cow")
    batch = V._local_frame(spark, _events(), FEED_SCHEMA)
    sink(batch, 0)


@pytest.mark.parametrize("layout", ["cow", "mor", "full"])
def test_replica_matrix(spark, tmp_path, layout):
    warm = str(tmp_path / "warm")
    _write_base(spark, warm, layout)
    _apply(spark, warm, layout)
    t = str(tmp_path / "t")
    _write_base(spark, t, layout)
    _, jobs = spark_jobs(spark, lambda: _apply(spark, t, layout))

    assert V.latest_version(t) == 2
    assert sorted(tuple(int(r[c]) for c in ("k", "c", "p"))
                  for r in V.read_version(spark, t).collect()) \
        == _expected()
    m = V._read_manifest(t, 2)
    assert m["op"] == "cdc-apply"
    assert m["stream_query"] == f"replica-{layout}"
    assert m["stream_batch"] == 0
    assert bool(m.get("dv_dirs")) == (layout == "mor")
    if layout == "mor":
        # vectors kill only the changed and deleted keys' old copies
        dv = sorted(r["k"] for r in V._read_dv(spark, t, m).collect())
        assert dv == sorted(CHANGED + DELETED)
        # the changed and inserted rows append as ONE file
        assert m["n_files"] == V._read_manifest(t, 1)["n_files"] + 1
    if layout == "full":
        assert m["partition_by"] == ["p"]
    else:
        n_v1 = sum(1 for f in m["data_files"] if f.startswith("snap/v=1/"))
        assert n_v1 == (3 if layout == "cow" else 4)
    V.verify_versioned(t, strict=True)
    # a replayed batch is skipped
    _apply(spark, t, layout)
    assert V.latest_version(t) == 2
    assert jobs <= JOB_PINS[layout], jobs
