"""The benchmark's workloads.

Each workload is one closed-loop client: it sends the next call only
after the previous one returned.  It times *passes* (its unit of
repeated work) and *operations* (the calls inside a pass), runs its
correctness checks outside the timed region, and returns a
:class:`Result`.  With tracing on, every call into a layer of the
engine is wrapped in a span (see ``spans.py``); the per-layer metrics
are derived from those spans in ``layers.py``.

* ``query-mix`` — registry queries in a seeded shuffled order per
  pass: pass 1 cold, one warm-up pass discarded, steady passes after.
* ``table-lifecycle`` — a seeded write/read script against a
  versioned copy of ``orders``, replayed in pandas to check every
  answer and the final state.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# The query set: registry queries from each family of the engine's read
# surface (validation, relational, data-science, text), few enough that
# a cold pass and several steady passes fit one run.  MinHash and
# TF-IDF reuse scoped_persist entries across passes.
QUERY_MIX = [
    "val_json_int_range", "rel_q1_pricing", "rel_sessionize",
    "ds_dedup_exact", "ds_minhash_lsh", "txt_quality", "txt_tfidf_topterms",
]
STEADY_PASSES = 5
# the tables each workload reads; set-up opens their handles
TABLES = {
    "query-mix": ("events", "lineitem", "documents"),
    "table-lifecycle": ("orders",),
}


@dataclass
class Result:
    passes: list = field(default_factory=list)   # (phase, wall, cpu)
    ops: list = field(default_factory=list)      # (phase, kind, wall)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    primary: tuple = ()      # op kinds the end-to-end op metrics count
    detail: dict = field(default_factory=dict)   # workload-named metrics
    samples: dict = field(default_factory=dict)  # cache/jvm per pass

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


@dataclass
class Ctx:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    seconds: float
    tracer: object


def cpu_s() -> tuple[float, float, float]:
    """Busy, stolen and total CPU seconds of the machine since boot
    (from ``/proc/stat``; busy is user + nice + system + irq +
    softirq).  The benchmark is the only load it puts on the machine,
    so the busy delta over a pass is the CPU the pass consumed, in
    every process (driver, JVM, Python workers), and does not grow when
    a hypervisor steals time from the machine, as wall time does."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, v[7] / hz, sum(v) / hz


def cpu_since(c0) -> tuple[float, float]:
    """(busy CPU seconds, stolen share of all CPU time) since ``c0``."""
    b, st, tot = (x - y for x, y in zip(cpu_s(), c0))
    return b, st / tot if tot else 0.0


def median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def gmean(xs) -> float:
    """Geometric mean: the typical wall of a mix of calls that take
    different times.  A pooled median of such a mix jumps between the
    groups the different calls form; this does not."""
    return float(np.exp(np.mean(np.log(xs)))) if len(xs) else 0.0


TAIL_PCT = 90


def tail(xs) -> tuple[float, int]:
    """The 90th percentile and the number of samples beyond it.  A run
    holds 10-35 steady calls, too few for a percentile with ten
    samples beyond it above the median, so the tail is a fixed p90
    estimate and the report states how many samples it rests on."""
    if not len(xs):
        return 0.0, 0
    p = float(np.percentile(xs, TAIL_PCT))
    return p, int(sum(x > p for x in xs))


def sample_jvm(ctx: Ctx, res: Result) -> None:
    """Cache and JVM counters after a pass (traced runs only)."""
    if not ctx.tracer.enabled:
        return
    p = ctx.tracer.probe
    with ctx.tracer.cost():
        for k, v in (("cache.persisted_rdds", p.persisted_rdds()),
                     ("cache.storage_mb", p.storage_mb()),
                     ("jvm.gc_s", p.gc_s()),
                     ("jvm.heap_used_mb", p.heap_used_mb())):
            res.samples.setdefault(k, []).append(v)


def _result_hash(spdf):
    # reuse the repo's oracle canonicalizer: rows as exact-repr cells,
    # columns and lines sorted
    from tools.oracle_check import canon_lines, table_hash
    return table_hash(canon_lines(spdf))


# --------------------------------------------------------------------
# query-mix
# --------------------------------------------------------------------

def query_mix(ctx: Ctx) -> Result:
    from filters_spark.plans.queries import REGISTRY

    res, tr = Result(), ctx.tracer
    rng = np.random.default_rng(ctx.seed)
    last_out: dict[str, object] = {}
    deadline = None
    p = 0
    # cold pass, one discarded warm-up pass, then STEADY_PASSES steady
    # passes (more if ``seconds`` has not run out).  The JVM keeps
    # getting faster for the whole run, so a fixed count, not a time
    # budget, keeps the steady window at the same session age.
    while p < 2 + STEADY_PASSES or time.perf_counter() < deadline:
        phase = "cold" if p == 0 else "warmup" if p == 1 else "steady"
        order = list(rng.permutation(QUERY_MIX))
        t_pass, c_pass = time.perf_counter(), cpu_s()
        with tr.span("pass", phase=phase, idx=p):
            for name in order:
                fam = name.split("_", 1)[0]
                res.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tr.span("plans.build", jobs=True, query=name,
                                 family=fam, phase=phase):
                        df = REGISTRY[name].fn(ctx.spark, ctx.data_dir)
                    if tr.enabled:
                        # planning is lazy: forcing it here moves it out
                        # of the collect span, it is not extra work
                        with tr.span("catalyst.plan", query=name,
                                     phase=phase) as sp:
                            qe = df._jdf.queryExecution()
                            qe.executedPlan()
                            phases = qe.tracker().phases()
                            for ph in ("analysis", "optimization",
                                       "planning"):
                                o = phases.get(ph)
                                sp[ph] = (o.get().durationMs() / 1e3
                                          if o.isDefined() else 0.0)
                    with tr.span("exec.collect", jobs=True, query=name,
                                 phase=phase) as sp:
                        out = df.toPandas()
                        sp["rows"] = len(out)
                        if name == "val_json_int_range":
                            sp["rejected_rows"] = int(
                                out["n_total"][0] - out["n_valid"][0])
                except Exception as e:          # noqa: BLE001
                    res.fail(f"{name}: {type(e).__name__}: {e}"[:300])
                    continue
                res.ops.append((phase, name, time.perf_counter() - t0))
                last_out[name] = out
        res.passes.append((phase, time.perf_counter() - t_pass,
                           cpu_since(c_pass)[0]))
        sample_jvm(ctx, res)
        if p == 1:
            deadline = time.perf_counter() + ctx.seconds
        p += 1
    _check_query_mix(ctx, res, last_out)
    steady = [w for ph, _, w in res.ops if ph == "steady"]
    res.detail = {
        "cold_pass_s": res.passes[0][1],
        "steady_pass_s": median([w for ph, w, _ in res.passes
                                 if ph == "steady"]),
        "query_p50_s": median(steady),
        "query_tail_s": tail(steady)[0],
        "query_tail_beyond": tail(steady)[1],
        "query_samples": len(steady),
    }
    return res


def _check_query_mix(ctx: Ctx, res: Result, outputs: dict) -> None:
    """Each query's last steady result must hash-match its DuckDB
    oracle on the same generated tables."""
    import duckdb

    from filters_spark.plans.queries import REGISTRY

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{ctx.data_dir}/{t}.parquet'")
    for name in QUERY_MIX:
        res.attempted += 1
        if name not in outputs:
            res.fail(f"{name}: no result to check")
            continue
        try:
            want = _result_hash(con.sql(REGISTRY[name].oracle).df())
            got = _result_hash(outputs[name])
        except Exception as e:                  # noqa: BLE001
            res.fail(f"{name}: check: {type(e).__name__}: {e}"[:300])
            continue
        if want != got:
            res.fail(f"{name}: result differs from the DuckDB oracle")
    con.close()


# --------------------------------------------------------------------
# table-lifecycle
# --------------------------------------------------------------------

KEY = "o_orderkey"
WRITES = ("merge", "merge_mor", "delete_cow", "delete_mor", "update")
READS = ("read_latest", "read_as_of", "lookup_hit", "lookup_miss",
         "read_changes", "stats_aggregate", "history")


class _Shadow:
    """Pandas replay of the seeded script: the expected table state
    after every commit, computed without the engine."""

    def __init__(self, base: pd.DataFrame):
        self.base = base.set_index(KEY, drop=False).sort_index()
        self.states: list[pd.DataFrame] = []
        self.versions: list[int] = []

    @property
    def cur(self) -> pd.DataFrame:
        return self.states[-1] if self.states else self.base

    @property
    def latest(self) -> int:
        return self.versions[-1]

    def commit(self, version: int, df: pd.DataFrame) -> None:
        self.versions.append(version)
        self.states.append(df.sort_index())


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


def _parquet_files(root: str) -> set:
    return {os.path.join(d, f) for d, _, fs in os.walk(root)
            for f in fs if f.endswith(".parquet")}


def _data_files(root: str, version: int) -> list[str]:
    """Data files the manifest of ``version`` references."""
    import json
    with open(_manifest_path(root, version)) as f:
        m = json.load(f)
    if m.get("data_files") is not None:
        return [os.path.join(root, f) for f in m["data_files"]]
    snap = os.path.join(root, "snap", f"v={version}")
    return [os.path.join(d, f) for d, _, fs in os.walk(snap)
            for f in fs if f.endswith(".parquet")]


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, "_manifests", f"{version}.json")


def _write_call(ctx, root, kind, rng, shadow, schema):
    """Build the seeded inputs of one write call (untimed); return the
    call and the expected state after it."""
    from pyspark.sql import functions as F

    from filters_spark.sources import versioned as V

    cur = shadow.cur
    sp = ctx.spark
    if kind in ("merge", "merge_mor"):
        keys = cur.index.to_numpy()
        upd = cur.loc[rng.choice(keys, 300, replace=False)].copy()
        upd["o_totalprice"] = rng.integers(100_000, 50_000_000, len(upd)) / 100
        upd["o_orderpriority"] = "0-BENCH"
        new_keys = int(keys.max()) + 1 + np.arange(100)
        ins = upd.iloc[:100].copy()
        ins[KEY] = new_keys
        ins.index = new_keys
        batch = pd.concat([upd, ins])
        expect = pd.concat([cur.drop(index=upd.index), batch])
        df = sp.createDataFrame(batch.reset_index(drop=True), schema)
        mor = kind == "merge_mor"
        return (lambda: V.merge_versioned(sp, root, df, KEY, mor=mor,
                                          store_changes=True)), expect
    if kind in ("delete_cow", "delete_mor"):
        if kind == "delete_cow":
            m, r = int(rng.integers(40, 60)), int(rng.integers(0, 40))
            cond = f"{KEY} % {m} = {r}"
            mask = cur[KEY] % m == r
        else:
            lo = int(rng.integers(0, int(cur[KEY].max())))
            cond = f"{KEY} BETWEEN {lo} AND {lo + 150}"
            mask = cur[KEY].between(lo, lo + 150)
        mode = "cow" if kind == "delete_cow" else "mor"
        return (lambda: V.delete_where(sp, root, cond, mode=mode, key=KEY,
                                       store_changes_key=KEY)), cur[~mask]
    m, r = int(rng.integers(30, 50)), int(rng.integers(0, 30))
    mask = cur[KEY] % m == r
    expect = cur.copy()
    expect.loc[mask, "o_totalprice"] = expect.loc[mask, "o_totalprice"] + 1.0
    expect.loc[mask, "o_orderstatus"] = "U"
    return (lambda: V.update_where(
        sp, root, F.col(KEY) % m == r,
        {"o_totalprice": "o_totalprice + 1.0", "o_orderstatus": "'U'"},
        store_changes_key=KEY)), expect


def _read_call(ctx, root, kind, rng, shadow, tr):
    """One read call (seeded keys) and the check of its answer."""
    from pyspark.sql import functions as F

    from filters_spark.sources import versioned as V

    sp, cur = ctx.spark, shadow.cur
    latest = shadow.latest
    if kind == "read_latest":
        call = lambda: V.read_version(sp, root).agg(  # noqa: E731
            F.count("*").alias("n"), F.sum(KEY).alias("s")).collect()[0]
        return call, lambda r: (r["n"], r["s"]) == (len(cur),
                                                     int(cur[KEY].sum()))
    if kind == "read_as_of":
        i = max(0, len(shadow.versions) - 4)    # three commits back
        v = shadow.versions[i]
        call = lambda: V.read_version(sp, root, version=v).count()  # noqa: E731
        return call, lambda n: n == len(shadow.states[i])
    if kind in ("lookup_hit", "lookup_miss"):
        if kind == "lookup_hit":
            k = int(rng.choice(cur.index.to_numpy()))
        else:
            k = int(cur[KEY].max()) + 1_000 + int(rng.integers(0, 10**6))

        def call():
            df = V.read_version(sp, root, where=(KEY, k, k))
            if tr.enabled:
                with tr.cost():
                    snap = {os.path.realpath(f)
                            for f in _data_files(root, latest)}
                    read = {os.path.realpath(f.split(":", 1)[-1])
                            for f in df.inputFiles()}
                    tr.spans[-1]["input_files"] = len(snap & read)
                    tr.spans[-1]["snapshot_files"] = len(snap)
            return df.where(F.col(KEY) == k).collect()
        return call, lambda rows: len(rows) == int(k in cur.index)
    if kind == "read_changes":
        i = max(0, len(shadow.versions) - 3)    # the last two commits
        v = shadow.versions[i]
        call = lambda: V.read_changes(  # noqa: E731
            sp, root, KEY, v, latest).count()
        return call, lambda n: (n > 0) == (not shadow.states[i].equals(cur))
    if kind == "stats_aggregate":
        call = lambda: V.stats_aggregate(  # noqa: E731
            sp, root, [("count", None, "n"), ("min", KEY, "lo"),
                       ("max", KEY, "hi")], strict=False).collect()[0]
        return call, lambda r: (r["n"], r["lo"], r["hi"]) == (
            len(cur), int(cur[KEY].min()), int(cur[KEY].max()))
    call = lambda: V.table_history(sp, root).count()  # noqa: E731
    return call, lambda n: n == len(shadow.versions)


STEADY_CYCLES = 2
# One steady cycle: each write kind once, the merge-on-read ones last,
# with every read kind between them.  The order is fixed so that every
# cycle does the same work; the seed picks the rows, keys and
# predicates.
CYCLE = (
    ("write", "merge"), ("read", "lookup_hit"), ("read", "read_latest"),
    ("write", "delete_cow"), ("read", "read_changes"),
    ("write", "update"), ("read", "read_as_of"),
    ("write", "merge_mor"), ("read", "lookup_miss"),
    ("write", "delete_mor"), ("read", "stats_aggregate"), ("read", "history"),
)


def table_lifecycle(ctx: Ctx) -> Result:
    from filters_spark.sources import load_table
    from filters_spark.sources import versioned as V

    res, tr = Result(), ctx.tracer
    rng = np.random.default_rng(ctx.seed)
    base_df = load_table(ctx.spark, "orders", ctx.data_dir)
    schema = base_df.schema
    shadow = _Shadow(base_df.toPandas())
    root = os.path.join(ctx.work_dir, "tables", "orders")
    deadline = None
    c = 0
    # the cold pass is the first commit and one cycle, which runs every
    # code path once; one warm-up cycle is discarded (the JVM is still
    # compiling the write paths); then STEADY_CYCLES steady cycles (more
    # if ``seconds`` has not run out)
    while c < 2 + STEADY_CYCLES or time.perf_counter() < deadline:
        phase = "cold" if c == 0 else "warmup" if c == 1 else "steady"
        t_cycle, c_cycle = time.perf_counter(), cpu_s()
        with tr.span("pass", phase=phase, idx=c):
            for cls, kind in ((("write", "write"),) if c == 0 else ()) + CYCLE:
                res.attempted += 1
                if kind == "write":
                    call = lambda: V.write_versioned(  # noqa: E731
                        base_df, root, stats_cols=[KEY, "o_totalprice"],
                        bloom_cols=[KEY])
                    expect = shadow.cur
                elif cls == "write":
                    call, expect = _write_call(ctx, root, kind, rng,
                                               shadow, schema)
                else:
                    call, ok = _read_call(ctx, root, kind, rng, shadow, tr)
                if tr.enabled and cls == "write":
                    with tr.cost():
                        before = _parquet_files(root)
                t0 = time.perf_counter()
                try:
                    with tr.span(f"versioned.{kind}", jobs=True, cls=cls,
                                 phase=phase) as sp:
                        out = call()
                except Exception as e:          # noqa: BLE001
                    res.fail(f"{kind}: {type(e).__name__}: {e}"[:300])
                    continue
                res.ops.append((phase, kind, time.perf_counter() - t0))
                if cls == "write":
                    shadow.commit(V.latest_version(root), expect)
                    if tr.enabled:
                        with tr.cost():
                            added = _parquet_files(root) - before
                            sp["files_added"] = len(added)
                            sp["mb_written"] = sum(
                                os.path.getsize(f) for f in added) / 2**20
                            sp["manifest_kb"] = os.path.getsize(
                                _manifest_path(root, shadow.latest)) / 1024
                elif not ok(out):
                    res.fail(f"{kind}: wrong answer {out!r}"[:300])
        res.passes.append((phase, time.perf_counter() - t_cycle,
                           cpu_since(c_cycle)[0]))
        sample_jvm(ctx, res)
        if c == 1:
            deadline = time.perf_counter() + ctx.seconds
        c += 1
    _check_table(ctx, res, root, shadow)
    on_disk = _tree_bytes(root)
    live = sum(os.path.getsize(f) for f in _data_files(root, shadow.latest))
    res.primary = WRITES
    steady = [(k, w) for ph, k, w in res.ops if ph == "steady"]
    commits = [w for k, w in steady if k in WRITES]
    reads = [w for k, w in steady if k in READS]
    res.detail = {
        "lifecycle_s": median([w for ph, w, _ in res.passes
                               if ph == "steady"]),
        "commit_p50_s": median(commits),
        "commit_tail_s": tail(commits)[0],
        "commit_tail_beyond": tail(commits)[1],
        "commit_samples": len(commits),
        "table_read_p50_s": median(reads),
        "table_read_tail_s": tail(reads)[0],
        "table_read_tail_beyond": tail(reads)[1],
        "table_read_samples": len(reads),
        "table_bytes_written_mb": on_disk / 2**20,
        "space_amp": on_disk / live if live else 0.0,
        **{f"{k}_p50_s": median([w for kk, w in steady if kk == k])
           for k in WRITES + READS},
    }
    return res


def _check_table(ctx, res, root, shadow) -> None:
    """verify_versioned must be clean and the final snapshot must equal
    the pandas replay of the script."""
    from filters_spark.sources import versioned as V

    res.attempted += 2
    try:
        V.verify_versioned(root, strict=True)
    except Exception as e:                      # noqa: BLE001
        res.fail(f"verify_versioned: {e}"[:300])
    try:
        got = V.read_version(ctx.spark, root).toPandas()
        want = shadow.cur.reset_index(drop=True)[got.columns]
        if _result_hash(got) != _result_hash(want):
            res.fail("final table state differs from the replayed script")
    except Exception as e:                      # noqa: BLE001
        res.fail(f"final state: {type(e).__name__}: {e}"[:300])


WORKLOADS = {
    "query-mix": query_mix,
    "table-lifecycle": table_lifecycle,
}
