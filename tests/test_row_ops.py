"""Row-level commit ops — merge, delete and update — across the three
commit layouts (full rewrite, copy-on-write file reuse, merge-on-read
delete vectors).  Each of the nine cells checks the table against a
pandas replay, the returned counts, the stored change feed against
the two-snapshot diff, and the op's Spark job count against a pin.

The fixture is 20k rows in 4 range-clustered files with
``stats_cols=["k"]``; every touched key sits in the first file, so a
copy-on-write commit rewrites exactly one file.  Job counts come from
a warm run (the same op on a fresh table right after a first one)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import spark_jobs
from filters_spark.sources import versioned as V

N = 20_000

#: Spark jobs per op on the warm run, side writes included (4-CPU box,
#: ``local[4]``).  A pin may only go down: lower it when a change saves
#: a job.
JOB_PINS = {
    ("merge", "full"): 10, ("merge", "cow"): 11, ("merge", "mor"): 12,
    ("delete", "full"): 4, ("delete", "cow"): 4, ("delete", "mor"): 5,
    ("update", "full"): 4, ("update", "cow"): 4, ("update", "mor"): 6,
}

MERGE_KEYS = list(range(0, 2000, 50))      # first file only
INSERT_KEYS = list(range(N, N + 10))


def _replay_base() -> pd.DataFrame:
    k = pd.Series(range(N), dtype="int64")
    return pd.DataFrame({"k": k, "c": k % 97, "g": k % 4})


def _write_base(spark, t, layout):
    df = (spark.range(N).select(F.col("id").alias("k"),
                                (F.col("id") % 97).alias("c"),
                                (F.col("id") % 4).alias("g"))
          .repartitionByRange(4, "k"))
    V.write_versioned(df, t, stats_cols=["k"],
                      partition_by=["g"] if layout == "full" else None)


def _updates(spark):
    # half the matched keys change content, half rewrite it unchanged
    rows = [(k, k % 97 + (1 if k % 100 == 0 else 0), k % 4)
            for k in MERGE_KEYS]
    rows += [(k, 1, k % 4) for k in INSERT_KEYS]
    return spark.createDataFrame(rows, "k bigint, c bigint, g bigint")


def _run(spark, t, op, layout):
    if op == "merge":
        return V.merge_versioned(
            spark, t, _updates(spark), "k", store_changes=True,
            file_reuse=layout == "cow", mor=layout == "mor")
    mode = {"full": "cow", "cow": "cow", "mor": "mor"}[layout]
    kw = {"mode": mode, "store_changes_key": "k",
          "key": "k" if mode == "mor" else None}
    if op == "delete":
        return V.delete_where(spark, t, "k % 7 = 0 AND k < 3000", **kw)
    return V.update_where(spark, t, F.col("k").between(100, 400),
                          {"c": "c * 2"}, **kw)


def _expected(op):
    b = _replay_base()
    if op == "merge":
        u = pd.DataFrame([(k, k % 97 + (1 if k % 100 == 0 else 0), k % 4)
                          for k in MERGE_KEYS]
                         + [(k, 1, k % 4) for k in INSERT_KEYS],
                         columns=["k", "c", "g"])
        return pd.concat([b[~b.k.isin(u.k)], u])
    if op == "delete":
        return b[~((b.k % 7 == 0) & (b.k < 3000))]
    hit = b.k.between(100, 400)
    b.loc[hit, "c"] = b.loc[hit, "c"] * 2
    return b


def _rows(df):
    return sorted(tuple(int(r[c]) for c in ("k", "c", "g"))
                  for r in df.collect())


def _feed(df):
    return sorted(tuple(sorted(r.asDict().items())) for r in df.collect())


@pytest.mark.parametrize("layout", ["full", "cow", "mor"])
@pytest.mark.parametrize("op", ["merge", "delete", "update"])
def test_op_matrix(spark, tmp_path, op, layout):
    warm = str(tmp_path / "warm")
    _write_base(spark, warm, layout)
    _run(spark, warm, op, layout)
    t = str(tmp_path / "t")
    _write_base(spark, t, layout)
    n_parent = V._read_manifest(t, 1)["n_files"]
    res, jobs = spark_jobs(spark, lambda: _run(spark, t, op, layout))

    exp = _expected(op)
    assert _rows(V.read_version(spark, t)) == sorted(
        tuple(int(x) for x in r)
        for r in exp[["k", "c", "g"]].itertuples(index=False))

    if op == "merge":
        assert res == 2
    else:
        assert res["version"] == 2
        rewritten, reused = {"full": (n_parent, 0), "cow": (1, 3),
                             "mor": (0, 4)}[layout]
        assert (res["files_rewritten"], res["files_reused"]) \
            == (rewritten, reused)
        b = _replay_base()
        if op == "delete":
            assert res["n_deleted"] == int(
                ((b.k % 7 == 0) & (b.k < 3000)).sum())
        else:
            hit = b[b.k.between(100, 400)]
            assert res["n_updated"] == len(hit)
            assert res["n_changed"] == int((hit.c != 0).sum())
    m = V._read_manifest(t, 2)
    assert m.get("changes") is True
    assert bool(m.get("dv_dirs")) == (layout == "mor")
    if layout == "mor":
        # a MOR commit appends its rows as ONE file (a delete: none)
        assert m["n_files"] == n_parent + (op != "delete")
    assert _feed(V.read_changes(spark, t, "k", 1, 2)) == _feed(
        V.read_changes(spark, t, "k", 1, 2, use_stored=False))
    V.verify_versioned(t, strict=True)
    assert jobs <= JOB_PINS[(op, layout)], jobs
