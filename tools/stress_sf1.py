"""sf1 stress axis (VERDICT r7 #8): run the heaviest registered
queries at 10× the bench scale (sf0.1 × 10 ≈ sf1 — 50k documents /
20k embeddings) and check per-query invariants, plus a
residual-vs-raw PQ recall measurement on a REALISTIC (clustered)
corpus at that scale.  Results land in SCALE.md.

The stress tables are built from sf0.1 by deterministic 10×
replication: doc/vec ids offset by 10M per replica, text perturbed
with a replica token (so dedup ops see near- but not pure
duplicates), embeddings rotated by a per-replica deterministic
nudge.  Non-scaled tables are symlinked from sf0.1 so every query's
loader works unchanged.

This is the repo's one stress tool.  Scale checks are rows, not
scripts:

* A ``HEAVY`` row maps a REGISTERED query name to an invariant on
  that query's output rows; each row runs cold, then steady.  An
  operator is stressed through its oracle-gated query, never a
  private generator.  ``tests/test_stress_table.py`` fails when a
  row names an unregistered query.
* Only queries that read documents, embeddings or orders qualify —
  every other table is the unscaled sf0.1 file.
* Ids a query plants must sit clear of the replica offsets: 10M per
  document or vector replica, 100M per orders replica (an orders
  gate's +10M inserts and ``rel_bloom_skipping``'s 1.7B absent keys
  are clear; an id inside a replica's range collides with a
  replicated row instead of being new).  The v7/v8 pipelines predate
  the rule: their +10M document ids land in replica 1, and only
  their content dedup, which drops the planted copies first, keeps
  them deterministic.

Usage: python tools/stress_sf1.py [outdir]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from filters_spark.sources import get_spark

SRC = "/root/testdata/sf0.1"


def build(spark, out: str) -> None:
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for name in os.listdir(SRC):
        if name not in ("documents.parquet", "embeddings.parquet",
                        "orders.parquet"):
            os.symlink(os.path.join(SRC, name), os.path.join(out, name))
    # orders ×10 for the write-path gates (validated commit, change
    # feed, optimize): key offset 100M per replica — clear of both the
    # replica key ranges and the gates' own +10M planted-insert ids.
    o = spark.read.parquet(f"{SRC}/orders.parquet")
    reps10 = spark.range(10).select(F.col("id").alias("_rep"))
    (o.crossJoin(reps10)
     .select((F.col("o_orderkey") + F.col("_rep") * 100_000_000)
             .alias("o_orderkey"),
             *[c for c in o.columns if c != "o_orderkey"])
     .repartition(32)
     .write.mode("overwrite").parquet(f"{out}/orders.parquet"))
    d = spark.read.parquet(f"{SRC}/documents.parquet")
    reps = spark.range(10).select(F.col("id").alias("_rep"))
    (d.crossJoin(reps)
     .select((F.col("doc_id") + F.col("_rep") * 10_000_000)
             .alias("doc_id"),
             F.concat(F.col("text"), F.lit(" rep"),
                      F.col("_rep").cast("string")).alias("text"),
             *[c for c in d.columns if c not in ("doc_id", "text")])
     .repartition(32)
     .write.mode("overwrite").parquet(f"{out}/documents.parquet"))
    e = spark.read.parquet(f"{SRC}/embeddings.parquet")
    (e.crossJoin(reps)
     .select((F.col("vec_id") + F.col("_rep") * 10_000_000)
             .alias("vec_id"),
             F.transform(
                 "embedding",
                 lambda x, i: (x + (F.col("_rep").cast("float")
                                    * F.lit(0.001)
                                    * ((i % 7).cast("float")
                                       - F.lit(3.0))))
                 .cast("float")).alias("embedding"),
             *[c for c in e.columns
               if c not in ("vec_id", "embedding")])
     .repartition(32)
     .write.mode("overwrite").parquet(f"{out}/embeddings.parquet"))


HEAVY = {
    # name -> invariant(df_rows) -> None (raises on violation)
    "ds_hybrid_rrf_indexed": lambda rows: _inv(
        len(rows) > 0 and all(r["rank"] <= 10 for r in rows),
        "hybrid: nonempty, ranks <= 10"),
    "ds_pq_topk": lambda rows: _inv(
        len(rows) > 0 and all(r["rank"] <= 10 for r in rows),
        "pq_topk: nonempty top-10"),
    "ds_ivfpq_topk": lambda rows: _inv(
        len(rows) > 0 and all(r["rank"] <= 10 for r in rows),
        "ivfpq: nonempty top-10"),
    "ds_pq_index_topk": lambda rows: _inv(
        len(rows) > 0 and all(r["rank"] <= 10 for r in rows),
        "pq_index: nonempty top-10"),
    "ds_pq_residual_recall": lambda rows: _inv(
        len(rows) == 1
        and 0.0 <= rows[0]["recall_raw"] <= 1.0
        and 0.0 <= rows[0]["recall_res"] <= 1.0,
        "residual recall: bounded"),
    "ds_line_dedup": lambda rows: _inv(
        len(rows) > 0 and all(r["n_kept"] >= 0 and r["n_removed"] >= 0
                              for r in rows),
        "line dedup: per-doc counts sane"),
    "ds_corpus_pipeline_v6": lambda rows: _inv(
        len(rows) > 0, "v6: nonempty"),
    "ds_ridge_fit": lambda rows: _inv(
        len(rows) == 45, "ridge: 45 moment rows (d=9 pairs)"),
    "ds_logistic_fit": lambda rows: _inv(
        len(rows) == 110, "logistic: 2 iters x 55 moment rows"),
    "ds_jpeg_progressive_gate": lambda rows: _inv(
        len(rows) > 0 and all(r["n_chars"] > 0 for r in rows),
        "progressive jpeg: nonempty histogram"),
    "ds_corpus_pipeline_v7": lambda rows: _inv(
        len(rows) == 8 and all(r["n_docs"] > 0 for r in rows),
        "v7: 8 nonempty shards"),
    "ds_fasttext_quality": lambda rows: _inv(
        len(rows) > 0 and all(r["n_docs"] > 0 for r in rows),
        "fasttext: nonempty per-source rollup"),
    "ds_corpus_pipeline_v8": lambda rows: _inv(
        len(rows) > 0
        and all(r["n_changes"] == 0 for r in rows)
        and all(r["n_quarantined"] > 0 for r in rows),
        "v8: CDC-silent optimize + nonempty quarantine"),
    "rel_validated_commit": lambda rows: _inv(
        len(rows) == 1 and rows[0]["n_rejected"] > 0
        and rows[0]["n_committed"] > 0 and rows[0]["version"] == 1,
        "validated commit: split committed/quarantined"),
    "rel_change_feed": lambda rows: _inv(
        len(rows) == 4 and all(r["n"] > 0 for r in rows),
        "change feed: all four change classes present"),
    "rel_change_feed_stored": lambda rows: _inv(
        len(rows) == 8 and all(r["n"] > 0 for r in rows),
        "stored change feed: all 8 span/class groups present"),
    "rel_delete_where": lambda rows: _inv(
        len(rows) == 1 and rows[0]["n_deleted"] > 0
        and rows[0]["n_kept"] > 0
        and rows[0]["deleted_key_sum"] > 0,
        "cow delete: nonempty delete + survivors"),
    "ds_lang_id": lambda rows: _inv(
        len(rows) > 0 and all(r["n"] > 0 for r in rows),
        "lang id: nonempty confusion rollup"),
    "txt_unigram_tokenize": lambda rows: _inv(
        len(rows) > 0 and all(r["n"] > 0 for r in rows),
        "unigram: nonempty piece table"),
    "ds_corpus_pipeline_v9": lambda rows: _inv(
        len(rows) > 0 and all(r["n_kept"] >= 0 for r in rows)
        and any(r["n_deleted"] > 0 for r in rows)
        and all(r["piece_sum"] >= 0 for r in rows),
        "v9: rollup with deletions present"),
    "rel_optimize_zorder": lambda rows: _inv(
        len(rows) == 1 and rows[0]["n"] > 0
        and rows[0]["n_changes"] == 0,
        "optimize: pruned read nonempty, CDC silent"),
    "ds_token_budget_mix": lambda rows: _inv(
        len(rows) == 4 and all(r["token_sum"] > 0 for r in rows),
        "token budget: all four budgeted domains cut"),
    "rel_restore_version": lambda rows: _inv(
        len(rows) == 3 and all(r["n_net_span"] == 0 for r in rows)
        and {r["change_type"] for r in rows} ==
        {"delete", "update_preimage", "update_postimage"},
        "restore: inverse feed classes + netted span empty"),
    "rel_avro_roundtrip": lambda rows: _inv(
        len(rows) == 1 and rows[0]["n_rows"] > 0
        and rows[0]["n_extra_nonnull"] == 0,
        "avro: roundtrip nonempty, evolved column null"),
    "rel_update_where": lambda rows: _inv(
        len(rows) == 1 and rows[0]["n_updated"] > 0
        and 0 < rows[0]["n_changed"] <= rows[0]["n_updated"]
        and rows[0]["post_cents_sum"] < rows[0]["pre_cents_sum"],
        "cow update: report + feed sums sane"),
    "ds_semantic_contaminated": lambda rows: _inv(
        len(rows) > 0 and all(r["match_sum"] >= r["n_flagged"] > 0
                              for r in rows),
        "semantic decon: flagged rollup sane"),
    "ds_hard_negatives": lambda rows: _inv(
        len(rows) > 0 and all(1 <= r["rank"] <= 5 for r in rows),
        "hard negatives: nonempty top-5"),
    "ds_corpus_pipeline_v10": lambda rows: _inv(
        len(rows) == 4
        and all(r["n_net_span"] == 0 for r in rows)
        and all(r["n_restore_deletes"] == 15 for r in rows)
        and all(r["token_sum"] > 0 for r in rows),
        "v10: rollup nonempty, restore netted silent"),
    # r11 optimization round: the versioned-op machinery changed
    # (single-scan MOR ops, broadcast-semi feeds, _no_data commits) —
    # stress the gates that exercise it at 10x orders.
    "rel_delete_mor": lambda rows: _inv(
        len(rows) == 1 and rows[0]["n_deleted_1"] > 0
        and rows[0]["files_rewritten"] == 0
        and rows[0]["cow_minus_mor_n"] == 0
        and rows[0]["cow_minus_mor_cents"] == 0,
        "mor delete: zero rewrite, mor == cow at 10x"),
    "rel_scd2_maintain": lambda rows: _inv(
        len(rows) > 0 and all(r["n_diff_vs_rebuild"] == 0
                              for r in rows),
        "scd2 maintain: incremental == rebuild at 10x"),
    "rel_cdc_scd2": lambda rows: _inv(
        len(rows) > 0 and all(r["n"] > 0 for r in rows),
        "cdc scd2: nonempty interval groups"),
    "rel_continuous_rollup": lambda rows: _inv(
        len(rows) > 0 and all(r["n_mismatch"] == 0 for r in rows),
        "continuous rollup: incremental == full at 10x"),
    # the operators the retired per-round synthetic stress scripts
    # covered, each through its registered gate (SCALE.md §35)
    "ds_minhash_lsh": lambda rows: _inv(len(rows) > 0 and all(
        r["a_id"] != r["b_id"] and r["jaccard"] >= 0.8 for r in rows),
        "minhash lsh: verified pairs at or above 0.8"),
    "ds_dedup_components_star": lambda rows: _inv(len(rows) > 0 and all(
        r["component_id"] <= r["doc_id"] and r["comp_size"] >= 2
        for r in rows), "star components: min-id labels, size >= 2"),
    "ds_dedup_components": lambda rows: _inv(len(rows) > 0 and all(
        r["component_id"] <= r["doc_id"] and r["comp_size"] >= 2
        for r in rows), "components: min-id labels, size >= 2"),
    "ds_global_shuffle": lambda rows: _inv(
        len(rows) == 8 and sum(r["n_docs"] for r in rows) == 50_000,
        "global shuffle: 8 shards hold every doc"),
    "rel_scd2": lambda rows: _inv(len(rows) > 0 and sum(
        r["is_current"] for r in rows) == len({r["o_custkey"] for r in rows}),
        "scd2: one current interval per key"),
    "ds_semdedup": lambda rows: _inv(len(rows) > 0 and all(
        r["kept_id_sum"] < 10_000_000 for r in rows),
        "semdedup: every replica dropped as its original's twin"),
    "ds_bm25_topk": lambda rows: _inv(all(r["rank"] <= 10 for r in rows)
        and any(r["rank"] == 1 and r["doc_id"] == r["query_id"]
                for r in rows), "bm25: top-10, query docs find themselves"),
    "ds_kmeans": lambda rows: _inv(
        0 < len(rows) <= 8 and sum(r["n"] for r in rows) == 20_000,
        "kmeans: every vector in one of <= 8 clusters"),
    "ds_knn_graph": lambda rows: _inv(len(rows) == 60_000 and all(
        r["src_id"] != r["neighbor_id"] for r in rows),
        "knn graph: 3 neighbours per vector"),
    "ds_corpus_pipeline_v3": lambda rows: _inv(
        len(rows) == 8 and 0 < sum(r["n_docs"] for r in rows) <= 2_000,
        "v3: semantic dedup drops every replica"),
    "ds_duplicate_spans": lambda rows: _inv(len(rows) == 20 and all(
        r["n_docs"] == 2_500 and r["docs_with_dup_span"] > 0 for r in rows),
        "duplicate spans: replicas repeat spans in every source"),
    "ds_stratified_fixed_n": lambda rows: _inv(
        len(rows) == 20 and all(r["n_kept"] == 10 for r in rows),
        "stratified: exactly 10 per source"),
    "ds_span_removal": lambda rows: _inv(len(rows) == 20 and all(
        r["n_docs"] == 2_500 and r["tokens_removed"] > 0 for r in rows),
        "span removal: replica spans excised in every source"),
    "ds_postings_append": lambda rows: _inv(
        len(rows) > 0 and all(r["rank"] <= 10 for r in rows),
        "postings append: nonempty top-10"),
    "ds_incremental_dedup": lambda rows: _inv(len(rows) > 0 and all(
        r["jaccard"] >= 0.8 for r in rows),
        "incremental dedup: batch pairs against the store"),
    "txt_bpe_merges": lambda rows: _inv(
        len(rows) == 3 and all(r["pair_count"] > 0 for r in rows),
        "bpe: 3 merges"),
    "ds_incremental_clusters": lambda rows: _inv(
        len(rows) == 1 and rows[0]["n_docs"] == 50_000
        and rows[0]["max_cluster_size"] >= 10,
        "incremental clusters: every doc, replicas clustered"),
    "txt_gopher_rules": lambda rows: _inv(len(rows) == 20 and all(
        r["n_docs"] == 2_500 and r["n_pass"] <= 2_500 for r in rows),
        "gopher: every doc screened"),
    "txt_lm_perplexity": lambda rows: _inv(
        sum(r["n_docs"] for r in rows) == 50_000, "lm: every doc scored"),
    "prof_hdr_by_group": lambda rows: _inv(
        len(rows) == 40 and all(r["within_bound"] == 1 for r in rows),
        "hdr by group: 12.5% bound holds per source"),
    "ds_corpus_pipeline_v5": lambda rows: _inv(len(rows) > 0 and all(
        r["n_docs"] > 0 and r["bin_tokens"] > 0 for r in rows),
        "v5: nonempty packed bins"),
    "ds_pps_sample": lambda rows: _inv(
        len(rows) == 100 and all(r["n_hits"] == 1 for r in rows),
        "pps: exactly n distinct points"),
    "ds_centroid_outliers": lambda rows: _inv(
        sum(r["n"] for r in rows) == 20_000
        and all(0 <= r["n_outliers"] < r["n"] for r in rows),
        "centroid outliers: a minority flagged per cluster"),
    "ds_random_projection": lambda rows: _inv(
        len(rows) == 120_000, "random projection: 6 coords per vector"),
    "prof_covariance": lambda rows: _inv(
        len(rows) == 36 and all(r["n"] == 20_000 for r in rows),
        "covariance: d(d+1)/2 pairs over every vector"),
    "txt_hashing_features": lambda rows: _inv(0 < len(rows) <= 64 and all(
        r["l1"] >= abs(r["total_weight"]) for r in rows),
        "hashing features: <= 64 buckets, l1 bounds mass"),
    "ds_text_clusters": lambda rows: _inv(
        0 < len(rows) <= 8 and sum(r["n"] for r in rows) == 50_000,
        "text clusters: every doc in one of <= 8 clusters"),
    "rel_merge_snapshot": lambda rows: _inv(
        len(rows) == 1 and rows[0]["v1_rows"] == 1_500_000
        and rows[0]["v2_rows"] > rows[0]["v1_rows"],
        "merge snapshot: v1 intact, planted keys inserted"),
    "rel_hilbert_layout": lambda rows: _inv(
        sum(r["n"] for r in rows) == 1_500_000, "hilbert: every order keyed"),
    "rel_bloom_skipping": lambda rows: _inv(sorted(
        (r["probe_key"], r["n_rows"]) for r in rows) == [
        (0, 1), (1, 1), (2, 1), (1_700_000_001, 0), (1_700_000_002, 0)],
        "bloom: present keys found once, absent keys pruned"),
    "ds_percentile_select": lambda rows: _inv(len(rows) == 20 and all(
        r["n_total"] == 2_500 and 0 < r["n_kept"] <= 625 for r in rows),
        "percentile select: top 25% per source"),
    "ds_opq_adc": lambda rows: _inv(
        len(rows) > 0 and all(1 <= r["rank"] <= 10 for r in rows),
        "opq adc: nonempty top-10"),
    "txt_wordpiece_tokens": lambda rows: _inv(
        len(rows) > 0 and all(r["n"] > 0 for r in rows),
        "wordpiece: nonempty piece table"),
    "ds_warc_ingest": lambda rows: _inv(len(rows) == 50_000 and all(
        r["http_status"] == 200 for r in rows), "warc: every doc back"),
    "rel_window_funnel": lambda rows: _inv(len(rows) > 0 and all(
        0 <= r["funnel_level"] <= 3 and r["n_users"] > 0 for r in rows),
        "window funnel: levels 0..3 populated"),
    "rel_stats_ndv": lambda rows: _inv(
        len(rows) == 1 and rows[0]["exact_k"] == 1_500_000
        and abs(rows[0]["ndv_k"] / 1_500_000 - 1) < 0.2,
        "stats ndv: sidecar HLL within 3 sigma"),
    "ds_chunk_documents": lambda rows: _inv(len(rows) == 20 and all(
        r["n_chunks"] >= 2_500 for r in rows),
        "chunking: every doc chunked"),
}


def _inv(ok: bool, what: str) -> None:
    if not ok:
        raise AssertionError(f"invariant violated: {what}")


def recall_clustered(spark, n=20_000, dim=16, k_clusters=64):
    """Residual-vs-raw recall@10 on a REALISTIC clustered corpus at
    the 10x scale: k Gaussian clusters (numpy, seeded), recall
    measured against exact cosine ground truth for 20 queries."""
    import numpy as np

    from filters_spark.functions import similarity

    rng = np.random.RandomState(0)
    centers = rng.randn(k_clusters, dim) * 5.0
    labels = rng.randint(0, k_clusters, n)
    pts = centers[labels] + rng.randn(n, dim) * 0.8
    rows = [(int(i), [float(x) for x in pts[i]], int(labels[i]))
            for i in range(n)]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int")
    emb = emb.repartition(32).cache()
    emb.count()
    q = emb.where(F.col("vec_id") % 1000 == 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    # ground truth: brute numpy euclidean (the gate's metric)
    qi = [r["query_id"] for r in q.select("query_id").collect()]
    qv = pts[qi]
    d2 = ((qv[:, None, :] - pts[None, :, :]) ** 2).sum(axis=2)
    truth = {}
    for a, qid in enumerate(qi):
        row = d2[a].copy()
        row[qid] = np.inf
        truth[qid] = set(np.argsort(row)[:10].tolist())

    def recall(got):
        hits = tot = 0
        byq = {}
        for r in got.collect():
            byq.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        for qid, want in truth.items():
            hits += len(want & byq.get(qid, set()))
            tot += len(want)
        return hits / tot if tot else 0.0

    m, k_codes = 4, 64
    books = similarity.pq_train(emb, m=m, k=k_codes, iters=2, dim=dim,
                                engine="arrow")
    raw = similarity.pq_topk_ivf(q, emb, books, k=10, nprobe=8,
                                 cell_col="label", engine="arrow")
    cent = similarity.cell_centroids(emb, "embedding", "label")
    rv = similarity.residualize(emb, cent, "embedding", "label")
    rbooks = similarity.pq_train(rv, m=m, k=k_codes, iters=2, dim=dim,
                                 engine="arrow")
    res = similarity.pq_topk_ivf(q, emb, rbooks, k=10, nprobe=8,
                                 cell_col="label", residual=True,
                                 engine="arrow")
    return {"raw": recall(raw), "residual": recall(res)}


def hybrid_fixed_probe(spark, out: str, budget: int = 64):
    """Hybrid-retrieval probe with a FIXED query budget (VERDICT r8
    wrong #3): the gate's own ``% 97`` predicate scales the query
    batch with the corpus, so its sf1 number conflates ~10× queries ×
    ~10× postings — this probe pins the SAME ``budget`` smallest
    eligible ids regardless of corpus size, isolating corpus-side
    pruning so the number is comparable round over round (and to the
    sf0.1 steady bench, whose batch is ~51 queries).  Reuses the
    gate's materialized app+sf-tagged indexes (building them if the
    gate didn't run first)."""
    from filters_spark.functions import retrieval, similarity

    app = spark.sparkContext.applicationId
    tag = os.path.basename(out.rstrip("/"))
    ppath = f"/tmp/fs_hybridx_post_{app}_{tag}"
    vpath = f"/tmp/fs_hybridx_ivf_{app}_{tag}"
    d = spark.read.parquet(f"{out}/documents.parquet")
    emb = spark.read.parquet(f"{out}/embeddings.parquet")
    if not os.path.isdir(f"{ppath}/stats"):
        retrieval.materialize_postings(d, ppath)
    if not os.path.isdir(f"{vpath}/centroids"):
        similarity.materialize_ivf_index(emb, vpath, cell_col="label")
    qids = [r["doc_id"] for r in
            d.where(F.col("doc_id") % 97 == 0).select("doc_id")
            .orderBy("doc_id").limit(budget).collect()]

    def probe():
        q = (d.where(F.col("doc_id").isin(qids))
             .select(F.col("doc_id").alias("query_id"),
                     F.explode(F.split("text", " ")).alias("term"))
             .where(F.col("term") != "").distinct())
        sparse = retrieval.bm25_topk_from_postings(spark, ppath, q,
                                                   k=10) \
            .select("query_id", "doc_id", "rank")
        dq = emb.where(F.col("vec_id").isin(qids))
        dense = (similarity.ivf_topk_from_index(spark, vpath, dq,
                                                k=10, nprobe=2)
                 .select("query_id",
                         F.col("neighbor_id").alias("doc_id"), "rank"))
        return retrieval.rrf_fuse([sparse, dense], k=60, topk=10)

    t0 = time.time()
    rows = probe().collect()
    cold = time.time() - t0
    t0 = time.time()
    probe().collect()
    steady = time.time() - t0
    _inv(len(rows) > 0 and all(r["rank"] <= 10 for r in rows),
         f"hybrid fixed-{budget}: nonempty, ranks <= 10")
    return cold, steady, len(rows)


def commit_stats_scaling(spark):
    """Stats-collection cost vs file count (VERDICT r8 next #2): the
    executor-side footer job must keep commit metadata time near-flat
    as file counts grow, where the old sequential driver loop scaled
    linearly.  Measures the stats sidecar build both ways (forced
    driver loop, default placement) on the same written snapshots at
    3 file counts."""
    import tempfile

    from filters_spark.sources import versioned as V

    df = (spark.range(2_000_000)
          .select(F.col("id").alias("k"), (F.col("id") * 2).alias("n"),
                  F.lit("x").alias("val")))
    rows = []
    for nf in (16, 128, 1024):
        p = tempfile.mkdtemp(prefix="fs_commit_") + "/t"
        V.write_versioned(df.repartitionByRange(nf, "k"), p)
        snap = V._snap_dir(p, 1)
        files = V._data_files(snap)
        armed = {"stats": {"stats_cols": ["k", "n"]}}
        t0 = time.time()
        V._new_file_sidecars(snap, files, armed, (), df.schema, None)
        driver = time.time() - t0
        t0 = time.time()
        V._new_file_sidecars(snap, files, armed, (), df.schema, spark)
        execu = time.time() - t0
        rows.append((nf, driver, execu))
        shutil.rmtree(os.path.dirname(p))
    return rows


def token_budget_skew(spark, n=2_000_000):
    """VERDICT r9 next #8: the salted two-phase token_budget_sample
    under a heavy-tailed mixture at stress scale — one domain holds
    90% of the rows.  buckets=1 is the old single-window plan (the
    whole heavy domain's prefix sum in ONE task); buckets=64 is the
    r10 two-phase plan.  Asserts the selected set is IDENTICAL
    (count + key/token checksums) and reports both wall times."""
    from filters_spark.functions import sampling

    df = (spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, F.lit("web"))
        .otherwise(F.element_at(
            F.array(F.lit("code"), F.lit("books"), F.lit("wiki")),
            (F.col("id") % 3 + 1).cast("int"))).alias("dom"),
        ((F.col("id") * 7919) % 997 + 1).alias("_tok"))
        .repartition(32, "doc_id"))
    budgets = {"web": 500_000_000, "code": 20_000_000,
               "books": 20_000_000, "wiki": 20_000_000}
    out = {}
    for b in (1, 64):
        t0 = time.time()
        agg = (sampling.token_budget_sample(df, "doc_id", "dom",
                                            budgets, buckets=b)
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("doc_id").alias("key_sum"),
                    F.sum("_tok").alias("tok_sum")).collect()[0])
        out[b] = (time.time() - t0, tuple(agg))
    _inv(out[1][1] == out[64][1],
         "token budget: bucketed != single-window at stress scale")
    _inv(out[1][1][0] > 0, "token budget: degenerate empty cut")
    return out


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/fs_sf1"
    spark = get_spark("stress_sf1", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    build(spark, out)
    print(f"build 10x tables: {time.time() - t0:.1f}s")
    nd = spark.read.parquet(f"{out}/documents.parquet").count()
    ne = spark.read.parquet(f"{out}/embeddings.parquet").count()
    print(f"documents={nd} embeddings={ne}")

    from filters_spark.plans import queries as Q

    results = []
    for name, inv in HEAVY.items():
        fn = Q.REGISTRY[name].fn
        # cold
        t0 = time.time()
        rows = fn(spark, out).collect()
        cold = time.time() - t0
        inv(rows)
        # steady
        t0 = time.time()
        rows = fn(spark, out).collect()
        steady = time.time() - t0
        inv(rows)
        results.append((name, cold, steady, len(rows)))
        print(f"{name}: cold {cold:.1f}s steady {steady:.1f}s "
              f"({len(rows)} rows) INVARIANT OK")

    fcold, fsteady, fn = hybrid_fixed_probe(spark, out)
    print(f"hybrid_fixed64_probe: cold {fcold:.1f}s steady "
          f"{fsteady:.1f}s ({fn} rows) INVARIANT OK")
    results.append(("hybrid_fixed64_probe", fcold, fsteady, fn))

    for nf, driver, execu in commit_stats_scaling(spark):
        print(f"file_stats @ {nf} files: driver-loop {driver:.2f}s, "
              f"commit path {execu:.2f}s")

    skew = token_budget_skew(spark)
    print(f"token_budget 2M rows, 90% one domain: single-window "
          f"{skew[1][0]:.1f}s vs bucketed(64) {skew[64][0]:.1f}s — "
          f"identical cut {skew[1][1]} INVARIANT OK")

    rec = recall_clustered(spark)
    print(f"clustered 20k recall@10: raw {rec['raw']:.3f} "
          f"residual {rec['residual']:.3f}")
    print("\n| query | cold s | steady s | rows |")
    print("| --- | --- | --- | --- |")
    for name, cold, steady, n in results:
        print(f"| {name} | {cold:.1f} | {steady:.1f} | {n} |")


if __name__ == "__main__":
    main()
