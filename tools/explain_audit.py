"""Plan-shape audit: for each headline query, extract the properties
that matter at 100 TB from `.explain` output and check them against
declared expectations (SCALE.md).  The bench measures speed at sf0.1;
this checks the PLAN is the one that survives a 1000× scale-up.

Usage: python tools/explain_audit.py [query ...]
Prints one line per query: OK/VIOLATION + plan facts
(exchanges, broadcasts, scans, pushed filters, codegen coverage).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from filters_spark.plans import queries as Q
from filters_spark.sources import get_spark

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")

# expectations: max shuffles (Exchange), min broadcast joins,
# whether a pushed scan filter is required.
EXPECTATIONS: dict[str, dict] = {
    # validation = scan + projections; the final agg adds exactly one
    # exchange (partial → final) — nothing else may shuffle.
    "val_lineitem_clean_agg": dict(max_exchanges=1),
    "val_error_rollup": dict(max_exchanges=1),
    "val_choice_rollup": dict(max_exchanges=1),
    "val_strip_fold": dict(max_exchanges=1),
    # q1: single agg exchange; filter must reach the scan.
    "rel_q1_pricing": dict(max_exchanges=1, scan_filter=True),
    # q3: dims broadcast; orderkey join + agg + top-k sort.
    "rel_q3_shipping": dict(min_broadcasts=1, scan_filter=True),
    "rel_q5_nation_revenue": dict(min_broadcasts=2),
    "rel_topk_parts_per_brand": dict(min_broadcasts=1),
    # window/dedup: one shuffle for the window partition + agg lineage.
    "rel_latest_order_per_customer": dict(max_exchanges=1),
    "rel_sessionize": dict(max_exchanges=2),
    # cosine: queries broadcast; only the rank cut shuffles.
    "ds_cosine_topk": dict(min_broadcasts=1, max_exchanges=2),
    # window partitioning (user_id) must be reused by the groupBy —
    # exactly one shuffle for window + agg combined.
    "rel_lag_lead": dict(max_exchanges=1),
    # grouping sets / rollup / cube / percentiles: one agg exchange.
    "rel_grouping_sets": dict(max_exchanges=1),
    "rel_rollup": dict(max_exchanges=1),
    "rel_cube": dict(max_exchanges=1),
    "prof_quantiles": dict(max_exchanges=1),
    # range join: equi-key carries the join; band is a filter.
    "rel_range_join": dict(max_exchanges=2),
    # blocked near-dup: candidate join within blocks only.
    "ds_embedding_dup": dict(max_exchanges=2),
    "rel_asof_join": dict(max_exchanges=2),
    # q4 semi-join: filtered orders broadcast (AQE), lineitem never
    # materialized past the probe; date filter must reach the scan.
    "rel_q4_priority_semijoin": dict(max_exchanges=2, scan_filter=True),
    # q17: the per-part agg is explicitly broadcast back to lineitem.
    "rel_q17_small_qty": dict(min_broadcasts=1, max_exchanges=2, scan_filter=True),
    # moving average: one window shuffle, custkey filter pushed.
    "rel_moving_avg": dict(max_exchanges=1, scan_filter=True),
    # global ntile: one SinglePartition window + decile agg.
    "rel_ntile_deciles": dict(max_exchanges=2),
    "txt_bpe_tokens": dict(max_exchanges=1),
    # round 2: TPC-H-adapted suite.  max_exchanges is set for the
    # 100 TB shape (fact-fact joins shuffle; AQE may broadcast more at
    # small sf, never less structure).
    "rel_q6_forecast_revenue": dict(max_exchanges=1, scan_filter=True),
    "rel_q7_volume_shipping": dict(max_exchanges=2, min_broadcasts=4, scan_filter=True),
    "rel_q8_market_share": dict(max_exchanges=2, min_broadcasts=6, scan_filter=True),
    "rel_q9_profit_by_nation_year": dict(max_exchanges=2, min_broadcasts=3, scan_filter=True),
    "rel_q10_returned_items": dict(max_exchanges=2, min_broadcasts=2, scan_filter=True),
    # no selective predicate exists in q13 (full outer-join distribution)
    "rel_q13_order_distribution": dict(max_exchanges=2),
    "rel_q14_promo_revenue": dict(max_exchanges=1, min_broadcasts=1, scan_filter=True),
    # q15: rollup agg exchange (persisted barrier, scanned once) +
    # the broadcast-max filter + final supplier broadcast join
    "rel_q15_top_supplier": dict(max_exchanges=2, min_broadcasts=2, scan_filter=True),
    "rel_q18_large_orders": dict(max_exchanges=3, min_broadcasts=1, scan_filter=True),
    "rel_q19_disjunctive_preds": dict(max_exchanges=1, min_broadcasts=1, scan_filter=True),
    "rel_q22_inactive_customers": dict(max_exchanges=2, min_broadcasts=2, scan_filter=True),
    # variant path: groupBy + countDistinct expand = two exchanges
    "val_variant_path": dict(max_exchanges=2),
    # IVF: centroid explode-agg + distributed probe rank + final
    # rank; all joins broadcast (no driver-side collect anywhere)
    "ds_ivf_topk": dict(max_exchanges=4, min_broadcasts=3),
    # pivot compiles to TWO aggregates (by (group, pivot-key), then
    # the pivot itself) — both shuffles keyed on low-cardinality cols
    "rel_pivot_returnflag": dict(max_exchanges=2),
    "rel_unpivot_metrics": dict(max_exchanges=1),
    # fingerprint: explode → window on doc id → agg reuses the same
    # partitioning (one shuffle total)
    "txt_fingerprint": dict(max_exchanges=1),
    # SQL-text entry: same plan as the DataFrame twin (dims hinted
    # broadcast; distinct-agg adds its expand exchange)
    "rel_sql_interface": dict(max_exchanges=2, min_broadcasts=2, scan_filter=True),
    "rel_tumbling_window": dict(max_exchanges=1),
    # upsert: full-outer join shuffles both sides + final agg; salted:
    # salt-spread join + agg (AQE may broadcast at tiny sf)
    "rel_upsert_merge": dict(max_exchanges=3),
    "rel_salted_join_agg": dict(max_exchanges=3),
    # q21: semi + anti probes on reduced (orderkey) projections + agg
    "rel_q21_exclusive_supplier": dict(max_exchanges=3, scan_filter=True),
    # decimal: two aggs + a tiny join on the 3-value group key
    "val_decimal_exact_agg": dict(max_exchanges=3),
    # profiling: per-column agg + rank over |distinct values|
    "prof_top_values": dict(max_exchanges=3),
    # winnow sketch: one shuffle on doc id reused by lead + frame +
    # distinct adds its own exchange
    "txt_winnow_sketch": dict(max_exchanges=2),
    # sliding window duplicates rows into 2 windows then one agg
    "rel_sliding_window": dict(max_exchanges=1),
    "prof_histogram": dict(max_exchanges=1),
    # q2: (part,supp) rollup shuffle reused by the argmin window
    "rel_q2_cheapest_supplier": dict(max_exchanges=2, min_broadcasts=2,
                                     scan_filter=True),
    # q12: orderkey join shuffle + flag agg; year predicate pushed
    "rel_q12_priority_shipping": dict(max_exchanges=3, scan_filter=True),
    # q11: partkey rollup + 1-row total (its own Single exchange)
    # broadcast back over the rollup
    "rel_q11_important_parts": dict(max_exchanges=3, min_broadcasts=3),
    # q16: distinct (part,supp) shuffle + group agg; anti/dim broadcast
    "rel_q16_supplier_cnt": dict(max_exchanges=3, min_broadcasts=2,
                                 scan_filter=True),
    # q20: one (supp,part) rollup shuffle reused by the per-part
    # window total; supplier semi-join
    "rel_q20_part_promotion": dict(max_exchanges=3, min_broadcasts=2,
                                   scan_filter=True),
    # stratified sample: pure scan predicate — NOTHING may shuffle
    "ds_stratified_sample": dict(max_exchanges=0),
    # tfidf: single corpus scan — (doc,term) rollup shuffle behind a
    # persisted barrier, the grouped dfreq agg + its join back (skew-
    # splittable, unlike the old count-over-window by term), the
    # rank-by-doc window, + 1-row n_docs broadcast
    "txt_tfidf_topterms": dict(max_exchanges=5, min_broadcasts=1),
    # gopher rules: one scan, fused flag projection, one source rollup
    "txt_gopher_rules": dict(max_exchanges=1),
    # bigram LM: doc window shuffle + (doc,w1,w2) rollup feed a
    # scoped_persist'd InMemoryRelation read by ALL THREE branches
    # (bigram counts, context counts, vocab — grouped aggregates
    # joined back, NOT bigram-partitioned windows: window partitions
    # cannot skew-split, joins can); counted exchanges/scans include
    # the cached subtree's lineage printed once per reference —
    # runtime is one corpus scan
    "txt_lm_perplexity": dict(max_exchanges=11, min_broadcasts=1),
    # funnel: one user_id shuffle for all three window steps + user
    # collapse, then the 1-row global count
    "rel_funnel_steps": dict(max_exchanges=2),
    # gapfill: user_id shuffle for bucket rollup, reused by the spine
    # bounds agg + join + fill window (all user_id-clustered)
    "rel_gapfill_ffill": dict(max_exchanges=3, scan_filter=True),
    # same shape on the epoch-aligned 2-day grid
    "rel_gapfill_2day": dict(max_exchanges=3, scan_filter=True),
    # tz-aware Date: still scan + projection + one agg exchange
    "val_date_tz": dict(max_exchanges=1),
    # int-array pack is pure projection + the no-op validation scan
    "val_bytearray_ints": dict(max_exchanges=0),
    # retention: user_id window shuffle + (cohort, week) distinct agg
    "rel_retention_cohorts": dict(max_exchanges=3),
    # approx-distinct: per-leg two-phase distinct + HLL partials,
    # 1-row legs unioned (3 columns × 2 exchanges each)
    "prof_approx_distinct": dict(max_exchanges=6),
    # bigram LM: pre-explode doc_id spread (rollup reuses it), window
    # by bigram on the compact rollup, per-doc agg
    "txt_bigram_freq_score": dict(max_exchanges=3, scan_filter=True),
    # fuzzy match: blocked self-join (broadcast at gate sf; blk-key
    # shuffle at scale)
    "ds_fuzzy_match": dict(max_exchanges=2),
    # exact percentiles: one sort-agg exchange
    "prof_exact_median": dict(max_exchanges=1),
    # composed pipeline: quality gate pushed to scan; the ONLY
    # shuffle is the content-hash dedup window; sample is a predicate
    "ds_corpus_pipeline": dict(max_exchanges=1, scan_filter=True),
    # forward asof: event (user, ts) pre-dedup + the union's
    # (key) window shuffle — the log-merge, no range blowup
    "rel_asof_forward": dict(max_exchanges=3),
    # transitions: one user_id window shuffle + the tiny |types|² agg
    "rel_event_transitions": dict(max_exchanges=2),
    # struct projections compile away — only the rollup shuffles
    "val_struct_projection": dict(max_exchanges=1),
    # MoM: month rollup + the |months|-row single-partition lag
    "rel_mom_revenue": dict(max_exchanges=2),
    # incremental exact dedup: anti-join (broadcast at gate sf;
    # bucketed corpus at scale) + the batch-internal grouped
    # min(id) agg and its join back (broadcast at gate sf)
    "ds_exact_dedup_against": dict(max_exchanges=3, scan_filter=True),
    # quantize: pure per-row map — only AQE's final coalesce may show
    "ds_embedding_quantize": dict(max_exchanges=0),
    # boilerplate: shingle spread + (shingle, doc)-collapsed distinct agg
    "txt_boilerplate_ngrams": dict(max_exchanges=3),
    # pareto: customer rollup + |customers|-row ntile + 1-row total
    "rel_pareto_deciles": dict(max_exchanges=4, min_broadcasts=1),
    # keep-canonical: pair-gen + CC iterations happen upstream of a
    # localCheckpoint; the final keeper filter is one broadcast join
    "ds_dedup_keep_canonical": dict(min_broadcasts=1),
    # split assignment: pure scan projection — NOTHING may shuffle
    "ds_split_assign": dict(max_exchanges=0),
    # basket: orderkey self-join shuffle + pair rollup + top-20 single
    "rel_basket_pairs": dict(max_exchanges=4),
    # fingerprint: scan + 1-row commutative agg
    "prof_table_fingerprint": dict(max_exchanges=1),
    # corr: one combinable agg pass
    "prof_corr": dict(max_exchanges=1),
    # zipf: token rollup + vocab-sized global rank
    "txt_zipf_vocab": dict(max_exchanges=2),
    # referential integrity: 4 anti-join legs, dims broadcast,
    # 1-row aggregates unioned
    "prof_referential_integrity": dict(max_exchanges=4, min_broadcasts=4),
    # freshness: three 1-row max legs + the global-max branch
    # re-derives them (6 SinglePartition exchanges over 1-row data —
    # footer-stat scans, nothing data-sized moves)
    "prof_freshness": dict(max_exchanges=6, min_broadcasts=1),
    # running total: month rollup + |months|-row frame window
    "rel_running_total": dict(max_exchanges=2),
    # gaps: distinct collapse + the |keys| sequence window
    "rel_sequence_gaps": dict(max_exchanges=2, scan_filter=True),
    # inter-arrival: one custkey window shuffle + 1-row stats agg
    "rel_order_interarrival": dict(max_exchanges=2),
    # session conversion: ONE user_id shuffle for lag + counter +
    # collapse, then the 1-row rate
    "rel_session_conversion": dict(max_exchanges=2),
    # MAD outliers: two 1-row medians broadcast over the lengths
    "txt_length_outliers": dict(max_exchanges=4, min_broadcasts=2),
    # weighted sample: pure scan predicate
    "ds_weighted_sample": dict(max_exchanges=0),
    # containment: source-blocked self-join (broadcast at gate sf)
    "ds_containment_pairs": dict(max_exchanges=2),
    # -- round 3 additions -------------------------------------------
    # PII detect+redact+Luhn all fuse into the scan projection; only
    # the source rollup shuffles
    "ds_pii_rollup": dict(max_exchanges=1),
    # packing window (source) partitioning reused by the (source,bin)
    # agg — one shuffle total
    "ds_sequence_pack": dict(max_exchanges=1),
    # tokenizer-aware packing: one source-key shuffle serves the pack
    # window AND the (source,bin) rollup; bpe merges applied as
    # codegen replace passes in the scan projection
    "ds_tokenize_pack": dict(max_exchanges=2),
    # URL ops are projections; countDistinct = two-phase agg
    "ds_url_extract": dict(max_exchanges=2),
    # repetition: seg agg + doc-key chain + broadcast joins back
    "txt_repetition_rollup": dict(max_exchanges=4, min_broadcasts=2),
    # decontamination: bench gram set BROADCAST (the scale contract)
    "ds_decontaminate": dict(max_exchanges=4, min_broadcasts=2),
    # mixture: counts + 1-row S broadcast as rates onto the scan
    "ds_domain_mixture": dict(max_exchanges=4, min_broadcasts=2),
    # temperature mixture: same shape, rates derived in-plan
    "ds_temperature_mixture": dict(max_exchanges=4, min_broadcasts=2),
    # composed pipeline: a lazy localCheckpoint barrier after the
    # decontamination stage (the in-query analog of the production
    # between-stage sink) truncates the audited plan to the tail —
    # mixture rates broadcast + packing window + final agg; the five
    # stage shapes upstream of the barrier are each audited by their
    # standalone gate queries
    "ds_corpus_pipeline_v2": dict(max_exchanges=6, min_broadcasts=2),
    # global shuffle: ONE shard-keyed exchange, reused by the window
    # AND the per-shard rollup
    "ds_global_shuffle": dict(max_exchanges=1),
    # BM25 (filter-first shape): matched-token rollup feeding the
    # persisted postings + df rollup + score rollup + rank window;
    # query terms, idf, and corpus stats all broadcast.  10 exchanges
    # but only ONE is corpus-shaped (the matched-token rollup) — the
    # rest move |postings-for-query-terms| rows
    "ds_bm25_topk": dict(max_exchanges=10, min_broadcasts=4),
    # semdedup: cell-blocked pair join + dropped-id distinct; the
    # anti-join back is broadcast at gate sf
    "ds_semdedup": dict(max_exchanges=3, min_broadcasts=1),
    # SCD2: change-detect + stitch share ONE key-partitioned sort
    "rel_scd2": dict(max_exchanges=1),
    # pagerank: iterations run upstream of localCheckpoints (lineage
    # deliberately truncated); audited tail is the ppm top-20 cut
    "ds_pagerank": dict(max_exchanges=2),
    # kmeans: centroids broadcast both iterations; exchanges = per-id
    # assignment windows + the two exploded centroid rollups + final
    "ds_kmeans": dict(min_broadcasts=2, max_exchanges=8),
    # outliers: kmeans' plan behind a persisted barrier + the k-row
    # cluster-stats agg broadcast back + the gate rollup
    "ds_centroid_outliers": dict(min_broadcasts=3, max_exchanges=6),
    # knn graph: one cell-blocked join + the per-src rank window
    "ds_knn_graph": dict(max_exchanges=3),
    # drift: two grouped counts + broadcast totals + the null-safe
    # category stitch (<=> keys still hash-partition; the full-outer
    # adds its two sides).  All exchanges are |categories|-sized
    "prof_drift": dict(max_exchanges=8, min_broadcasts=2, scan_filter=True),
    # estimator calibration: persisted signature frame feeds bands /
    # estimate / verify branches; joins keyed by candidate ids
    "ds_minhash_estimate": dict(max_exchanges=12),
    # z-score: daily rollup + the |days|-row trailing-frame window
    "rel_rolling_zscore": dict(max_exchanges=2),
    # KS: union scan + the single global-order ECDF window + totals
    "prof_ks_drift": dict(max_exchanges=4, min_broadcasts=1,
                          scan_filter=True),
    # v3 capstone: lazy checkpoint after the dedup stages truncates
    # the audited plan to the shuffle/shard tail (same contract as
    # v2); upstream stage shapes audited by their standalone gates
    "ds_corpus_pipeline_v3": dict(max_exchanges=4),
    # semantic decontamination: cell-blocked corpus⋈bench + the
    # contaminated-id distinct; anti-join broadcast at gate sf
    "ds_semantic_decontaminate": dict(max_exchanges=4, scan_filter=True),
    # real-codec gate: scan → PGM build → two mapInPandas crossings
    # (decode + featurize) → posexplode + one bucket rollup
    "ds_real_codec_gate": dict(max_exchanges=1, scan_filter=True),
    # WAV twin: same shape through the audio resampler
    "ds_wav_codec_gate": dict(max_exchanges=1, scan_filter=True),
    # knn→CC composition: earlier star rounds run upstream of
    # localCheckpoints (scans=0 in the audited plan); the tail is the
    # FINAL star round's join/agg chain + the component rollup — all
    # |nodes|-sized exchanges
    "ds_semantic_clusters": dict(max_exchanges=8),
    # duplicate spans: pre-explode repartition + ONE corpus-shaped
    # hash-count shuffle + the doc-keyed islands/stats chain (island
    # rollup adds a |dup-rows|-sized key) + broadcast joins back +
    # source rollup
    "ds_duplicate_spans": dict(max_exchanges=8, min_broadcasts=1),
    # expectations report: six 1-row aggregates unioned; fk's
    # broadcast anti-join is the only join
    "prof_expectations": dict(min_broadcasts=1),
    # materialized-IVF probe: centroids broadcast; probed-cell scan is
    # partition-pruned; only the probe-rank and final-rank windows and
    # candidate rollup shuffle — all |q|-proportional
    "ds_ivf_index_topk": dict(min_broadcasts=2, max_exchanges=6),
    # zorder key: one broadcast 1-row min/max aggregate riding the
    # scan + the key-range rollup — nothing else may shuffle
    "rel_zorder_key": dict(min_broadcasts=1, max_exchanges=2),
    "rel_hilbert_layout": dict(min_broadcasts=1, max_exchanges=2),
    "rel_shallow_clone": dict(min_broadcasts=3, max_exchanges=3),
    "rel_bloom_skipping": dict(max_exchanges=5, pushed=True),
    "prof_mad_outliers": dict(max_exchanges=4, min_broadcasts=2),
    "ds_percentile_select": dict(max_exchanges=4, min_broadcasts=1),
    "ds_lsh_multiprobe": dict(max_exchanges=1, min_broadcasts=1),
    "rel_cdc_scd2": dict(max_exchanges=8),
    "ds_opq_adc": dict(max_exchanges=4, min_broadcasts=1),
    "prof_winsorize": dict(max_exchanges=4, min_broadcasts=2),
    "ds_lang_segments": dict(max_exchanges=4),
    "ds_corpus_release_v10": dict(max_exchanges=3, min_broadcasts=2),
    "txt_kn_perplexity": dict(max_exchanges=7, min_broadcasts=1),
    # count-min calibration: the d×w table rollup (map-side-bounded),
    # the distinct-items rollup, the probe join + min rollup, and the
    # exact rollup join — every exchange ≤ d·w or |distinct| rows
    "prof_cms_calibration": dict(max_exchanges=7),
    # hdr calibration: bucket rollup + bounded cum window + 1-row
    # total + q-set broadcast + (q_num,q_den) rollup, TWICE (sketch
    # side + the exact side reusing the same machinery), + final join
    "prof_hdr_quantiles": dict(max_exchanges=10, min_broadcasts=4),
    # grouped twin: same machinery with source-partitioned windows
    "prof_hdr_by_group": dict(max_exchanges=10, min_broadcasts=4),
    # grouped HLL: per-source bucket rollup + estimate/checksum/exact
    # branches joined on the low-cardinality group key
    "prof_hll_by_group": dict(max_exchanges=7),
    # Y4M codec gate: scan → payload build → two mapInPandas
    # crossings (frame-sample + featurize) → posexplode + one rollup
    "ds_y4m_codec_gate": dict(max_exchanges=1, scan_filter=True),
    # fixed-n sampling: ONE stratum-keyed window shuffle + the rollup
    "ds_stratified_fixed_n": dict(max_exchanges=2),
    # PPS sampling: per-bucket window + stats agg (persisted barrier,
    # corpus scanned twice total: data + stats) + the two bounded
    # ≤256-row single-partition stages (offsets window, total agg)
    "ds_pps_sample": dict(max_exchanges=4, min_broadcasts=2),
    # split leakage: the audited tail after the persisted minhash
    # frame — band join, verify joins, pair-kind rollup
    "ds_split_leakage": dict(max_exchanges=5),
    # round 5: ExactSubstr excision — hash-count groupBy+join (2) +
    # island window + range rollup + rebuild join, all narrow keys
    "ds_span_removal": dict(max_exchanges=5, min_broadcasts=1),
    "ds_line_dedup": dict(max_exchanges=3, min_broadcasts=1),
    # repartition (CPU-spread for the repair UDF) + final 1-row agg
    "ds_mojibake_repair": dict(max_exchanges=2),
    # v6 capstone: repartition + line-freq agg + rebuild groupBy +
    # passthrough join + pack window (source) + final agg; the
    # boilerplate probe joins broadcast
    "ds_corpus_pipeline_v6": dict(max_exchanges=7, min_broadcasts=1),
    # round 5: appended-index probes (same plan family as the
    # materialized originals) + the incremental composites
    "ds_postings_append": dict(max_exchanges=5, min_broadcasts=3),
    "ds_ivf_append": dict(min_broadcasts=2, max_exchanges=6),
    # probe plan over the compacted artifact == the append gate's
    "ds_ivf_compact": dict(min_broadcasts=2, max_exchanges=6),
    # composed quality screen: TWO cached barriers (the LM rollup,
    # and the scored frame feeding histogram + keep-join branches);
    # counts are PHYSICAL since the auditor collapses cached-subtree
    # reprints — 2 corpus scans + the bounded rollups
    "ds_quality_pipeline": dict(max_exchanges=12, min_broadcasts=2),
    # v5 capstone: THREE nested cache barriers (LM rollup, scored,
    # kept), each materializing once — physically 2 corpus scans +
    # the quality/mixture/pack aggregates
    "ds_corpus_pipeline_v5": dict(max_exchanges=23, min_broadcasts=3),
    # store-scan bands join + delta LSH + verify joins: the same
    # budget class as the full LSH pipeline it restricts
    "ds_incremental_dedup": dict(max_exchanges=5, min_broadcasts=1),
    "ds_hybrid_rrf": dict(max_exchanges=10, min_broadcasts=4),
    # JL random projection: a PURE MAP — literal ±1 weights in the
    # plan, zero shuffles, zero broadcasts, the posexplode included
    "ds_random_projection": dict(max_exchanges=0),
    # exact covariance: the single O(d²) grouped-agg exchange
    # (map-side combine collapses each task to ≤ d(d+1)/2+d rows);
    # the (i,j) stitch is 3 broadcast joins over the persisted rollup
    "prof_covariance": dict(max_exchanges=1, min_broadcasts=3),
    # hashing-trick featurizer: the (doc, bucket) sparse agg + the
    # 64-row bucket rollup — two map-side-combined exchanges
    "txt_hashing_features": dict(max_exchanges=2),
    # reduce-then-cluster: the zero-shuffle projection rides the scan
    # into ds_kmeans's plan — the physical counts are IDENTICAL to
    # bare ds_kmeans (5/3/2), i.e. the projection costs no exchange,
    # no extra scan, no broadcast; pinned tighter than ds_kmeans's 8
    "ds_projected_kmeans": dict(max_exchanges=5, min_broadcasts=2),
    # model-free text clustering: densify ONCE behind a scoped-persist
    # barrier (2 featurizer exchanges) + kmeans's 5 — one corpus scan
    "ds_text_clusters": dict(max_exchanges=7, min_broadcasts=2),
    # correlated dims: covariance's 1 agg exchange; the diag/pair
    # stitch is all broadcast joins over the persisted 152-row rollup
    "prof_correlated_dims": dict(max_exchanges=1, min_broadcasts=5),
    # grouped covariance: same single agg exchange, group key carried
    # through the aggregate and every broadcast stitch
    "prof_covariance_by_group": dict(max_exchanges=1, min_broadcasts=3),
    # schema-on-read reconciliation: the read is a pure scan; the
    # gate's rollup adds its one aggregate exchange (the two writes
    # happen before the returned plan)
    "rel_schema_evolution": dict(max_exchanges=1),
    # write-side exchange is off-plan (the sink ran already); the
    # read-back agg + distinct = 2
    "rel_orc_roundtrip": dict(max_exchanges=2),
    "rel_xml_roundtrip": dict(max_exchanges=2),
    # change feed: two snapshot-diff full-outer joins (one per span)
    # + the final rollup; join-back sides broadcast at audit scale.
    "rel_change_feed": dict(max_exchanges=7),
    # stored change feed: the two single-commit spans are pure
    # change-file scans (zero joins); the netted span pays its two
    # per-key aggregates; + the final rollup = 3.
    "rel_change_feed_stored": dict(max_exchanges=3),
    # validated commit: two read-back aggregates broadcast-stitched.
    "rel_validated_commit": dict(max_exchanges=2),
    # optimize zorder: pruned-read agg + empty change-feed diff join.
    "rel_optimize_zorder": dict(max_exchanges=6),
    # hashed classifier: token shuffle keyed by doc + source join +
    # per-source rollup (join broadcasts at audit scale).
    "ds_fasttext_quality": dict(max_exchanges=4),
    # LID: one n-gram shuffle keyed by doc + the confusion rollup;
    # the join-back side broadcasts.
    "ds_lang_id": dict(max_exchanges=2, pushed=True),
    # unigram apply: word fold + piece rollup (training's one fold
    # collect ran eagerly; the returned plan is fold -> segment ->
    # rollup, vocabulary-sized after the fold).
    "txt_unigram_tokenize": dict(max_exchanges=3),
    "txt_wordpiece_tokens": dict(max_exchanges=3),
    # copy-on-write delete: two broadcast-stitched read-back
    # aggregates (the commit itself ran eagerly).
    "rel_delete_where": dict(max_exchanges=2),
    # r11 merge-on-read delete: the returned plan is three read-back
    # aggregates (mor head incl. its DV anti-join, cow head,
    # reinserted-key probe) broadcast-stitched onto the 1-row report;
    # the mor/cow lifecycles committed eagerly.
    "rel_delete_mor": dict(max_exchanges=6, min_broadcasts=3),
    # r11 incremental SCD2: maintenance calls ran eagerly; the
    # returned plan is the stored-dimension rollup + the symmetric-
    # difference check against the full rebuild (whose per-commit
    # feed branches union) + the broadcast diff stitch.
    "rel_scd2_maintain": dict(max_exchanges=14, min_broadcasts=1),
    # r11 WARC ingest: file-list repartition feeding the per-file
    # mapInArrow record walk (writes are eager side effects); the
    # strip chain is a pure projection on top.
    "ds_warc_ingest": dict(max_exchanges=1),
    # r11 crawl capstone: the ingest exchange + the exact-dedup
    # md5 aggregate + the per-source rollup.
    "ds_crawl_curation_v11": dict(max_exchanges=3),
    # r11 metadata-only aggregates: driver-built literal rows — the
    # whole point is ZERO file scans and zero shuffles in the
    # returned plan (the commit ran eagerly).
    "rel_stats_aggregate": dict(max_exchanges=0, max_scans=0),
    # r11 merge-on-read update: four read-back aggregates (stored
    # feed, mor head incl. DV anti-join, cow head, report literals)
    # broadcast-stitched; lifecycles committed eagerly.
    "rel_update_mor": dict(max_exchanges=8, min_broadcasts=3),
    # r11 shot-boundary detection: the frame-transition flatMap never
    # shuffles; one doc-keyed rollup exchange on top.
    "ds_video_scenes": dict(max_exchanges=1, scan_filter=True),
    # r11 NDV sidecars: the metadata estimates + register checksums
    # are literals; one countDistinct calibration agg (its expand
    # adds an exchange) broadcast-stitched.
    "rel_stats_ndv": dict(max_exchanges=2, min_broadcasts=1),
    # r11 windowFunnel: ONE user-keyed fold (events filter+collect)
    # + the level rollup — the DP runs inside the aggregate HOF; the
    # step filter is a derived-bitmask predicate (not scan-pushable,
    # and every order matches some band in this gate anyway).
    "rel_window_funnel": dict(max_exchanges=2),
    # r11 HDR quantile sidecars: the returned frame is a driver-built
    # literal row set — zero scans, zero exchanges.
    "rel_stats_quantiles": dict(max_exchanges=0, max_scans=0),
    # v9 capstone: LID + commit + COW delete ran eagerly; the
    # returned plan is the kept+feed union rollup.  r12: per-sid
    # predictions/logits/piece counts are evaluated ONCE on a 15-row
    # frame (a bounded driver boundary) and ride the rollup as
    # literal arrays indexed by doc_id%15 — the per-row longest-match
    # aggregate and the corpus-sized scored join are gone, so the
    # audited plan TIGHTENED from 2 exchanges to 1 (the rollup's own).
    "ds_corpus_pipeline_v9": dict(max_exchanges=1),
    # token-budget mix: ONE window shuffle (the per-domain running
    # sum) reused by the rollup; domain IN-filter pushed to the scan.
    # r10 hard negatives: anchors broadcast into the bucket join,
    # one window shuffle on the anchor key
    "ds_hard_negatives": dict(max_exchanges=1, min_broadcasts=1,
                              scan_filter=True),
    # r10 broadcast decontamination: eval broadcasts twice (the pair
    # screen + the label join), corpus never shuffles before the
    # id-keyed aggregate + label rollup
    "ds_semantic_contaminated": dict(max_exchanges=2, min_broadcasts=2,
                                     scan_filter=True),
    # r10 COW update gate: stored-feed agg + final agg, both
    # broadcast back onto the 1-row report frame
    "rel_update_where": dict(max_exchanges=2, min_broadcasts=2),
    # r10 history gate: a driver-built manifest frame — nothing may
    # shuffle (commits are eager side effects)
    "rel_table_history": dict(max_exchanges=0),
    # r10 capstone: restored-table scan through the two-phase
    # token-budget (bucket window + stats agg + broadcast offsets) +
    # rollup agg + the feed/net broadcast stat joins
    "ds_corpus_pipeline_v10": dict(max_exchanges=8, min_broadcasts=3),
    # r10 avro gate: file-list repartition (one task per file) feeds
    # the mapInArrow decode; one agg exchange on top — writes are
    # eager side effects
    # +1 exchange r11: explicit keyed repartition before the Python
    # encode parallelizes the codec boundary (was a single-task
    # encode/decode off the one-row-group testdata scan).
    "rel_avro_roundtrip": dict(max_exchanges=3),
    # r10 restore gate: the RETURNED frame reads the restore's stored
    # feed (grouped agg), the restored head (1-row agg), and the
    # netted 1->3 span (agg) — aggregation exchanges + 2 broadcast
    # stat joins; the restore itself committed eagerly (manifest-only)
    "rel_restore_version": dict(max_exchanges=5, min_broadcasts=2),
    # r10 two-phase: bucket-stats agg on (domain, bucket) + the
    # per-(domain, bucket) window shuffle + the ≤domains×buckets
    # offset window (tiny) + broadcast offsets back + final agg.
    "ds_token_budget_mix": dict(max_exchanges=4, min_broadcasts=1,
                                scan_filter=True),
    # v8 governed ingest: validated-commit agg inside the gate runs
    # eagerly; the returned plan is the scored rollup + two broadcast
    # stitches + the change-feed diff join.
    "ds_corpus_pipeline_v8": dict(max_exchanges=8),
    # continuous rollup: the returned plan is the final rollup scan
    # (maintenance ran eagerly) PLUS the in-plan hash-sum equivalence
    # check vs the from-scratch recompute (r11: replaced two eager
    # exceptAll().count() actions — 2 jobs with 2 wide shuffles each
    # — with one aggregate per side broadcast into the output row).
    "rel_continuous_rollup": dict(max_exchanges=3, min_broadcasts=1),
    # quarantine replay: one final-table aggregate (recovery ran
    # eagerly) + the recovered/still-bad counts as broadcast 1-row
    # aggregates (r11: were two extra eager .count() jobs).
    "rel_quarantine_replay": dict(max_exchanges=3, min_broadcasts=1),
    # partitioned prune: one doubly-pruned read-back aggregate
    # (countDistinct adds its expand exchange).
    "rel_partitioned_prune": dict(max_exchanges=2),
    # augmented Gram: ONE grouped-agg exchange + broadcast stitches
    "ds_ridge_fit": dict(max_exchanges=1, min_broadcasts=3),
    # ADC probe: encoded-corpus scan + broadcast query tables + rank
    "ds_pq_topk": dict(max_exchanges=1, min_broadcasts=1),
    # IVF-PQ: centroid agg + probe rank + ADC rank + broadcasts
    "ds_ivfpq_topk": dict(max_exchanges=4, min_broadcasts=3),
    # materialized PQ index probe: pruned codes scan + probe/ADC ranks
    "ds_pq_index_topk": dict(max_exchanges=3, min_broadcasts=3),
    # bloom prefilter is a pure map; confirm semi-join + final agg
    "rel_bloom_prejoin": dict(max_exchanges=2, min_broadcasts=1,
                              scan_filter=True),
    # recall certification: brute baseline is deliberate (gate-only)
    "ds_pq_recall": dict(max_exchanges=7, min_broadcasts=3),
    # residual-vs-raw certification: TWO quantization arms + brute
    # baseline + centroid aggs — gate-only by design (the production
    # probes stay pruned); exchanges dominated by small-side aggs
    "ds_pq_residual_recall": dict(max_exchanges=20, min_broadcasts=4),
    # BMP codec gate: scan -> in-plan payload build -> two mapInPandas
    # crossings (decode + featurize) -> posexplode + one rollup
    "ds_bmp_codec_gate": dict(max_exchanges=1, scan_filter=True),
    # mu-law codec gate: same shape (resample + featurize crossings)
    "ds_mulaw_codec_gate": dict(max_exchanges=1, scan_filter=True),
    "ds_alaw_codec_gate": dict(max_exchanges=1, scan_filter=True),
    # PNG codec gate: BMP shape + one extra pandas-UDF crossing (the
    # zlib encoder twin builds the payload row-side)
    "ds_png_codec_gate": dict(max_exchanges=2, scan_filter=True),
    "ds_jpeg_codec_gate": dict(max_exchanges=2, scan_filter=True),
    "ds_tiff_codec_gate": dict(max_exchanges=2, scan_filter=True),
    # tar roundtrip: unpack map + 1-row agg (write is off-plan)
    "ds_tar_shards": dict(max_exchanges=1),
    # shard->decode->histogram: unpack+decode maps + one agg
    "ds_tar_media_pipeline": dict(max_exchanges=1),
    # production hybrid: both arms probe materialized indexes — the
    # postings IN-pushdown + explicit-path IVF cells; everything
    # small-side is broadcast (qterms, idf, stats, probes, queries)
    "ds_hybrid_rrf_indexed": dict(min_broadcasts=6, max_exchanges=8),
    # GIF codec gate: the PNG-gate shape (encoder-UDF crossing +
    # decode + featurize crossings + one rollup)
    "ds_gif_codec_gate": dict(max_exchanges=2, scan_filter=True),
    # ADPCM codec gate: mulaw shape + the hex/unhex payload build
    "ds_adpcm_codec_gate": dict(max_exchanges=1, scan_filter=True),
    # snapshot skipping: the returned plan is one agg over the pruned
    # explicit-path read (the clustered write happens pre-plan)
    "rel_snapshot_skipping": dict(max_exchanges=1),
    # round 8: ISO extension gates — literal-map validation is a pure
    # projection; only the canon-count agg shuffles.
    "val_iso_country": dict(max_exchanges=1),
    "val_iso_currency": dict(max_exchanges=1),
    "val_iso_locale": dict(max_exchanges=1),
    "val_mac_address": dict(max_exchanges=1),
    # round 8: UDF-leaf gates — an ArrowEvalPython stage feeds the
    # same single canon-count agg exchange.
    "val_nfc_exact": dict(max_exchanges=1),
    "val_casefold_exact": dict(max_exchanges=1),
    "val_ipv6_normalize": dict(max_exchanges=1),
    "val_maxbytes_truncate": dict(max_exchanges=1),
    "val_datetime_fuzzy": dict(max_exchanges=1),
    # logistic gate: two IRLS passes, each the covariance_pairs shape
    # (one O(d^2) rollup exchange + broadcast stitches), unioned.
    "ds_logistic_fit": dict(max_exchanges=2),
    # MapMapper gate: per-row key checks are pure expressions; only
    # the code-count agg shuffles.
    "val_map_mapper": dict(max_exchanges=1),
    # HTML strip: a pure regexp_replace projection over the scan.
    "txt_html_strip": dict(max_exchanges=0),
    # progressive JPEG gate: same shape as ds_jpeg_codec_gate
    # (encoder-UDF crossing + decode + featurize + one rollup)
    "ds_jpeg_progressive_gate": dict(max_exchanges=2, scan_filter=True),
    # trained quality classifier: inference is a pure projection;
    # only the per-source rollup shuffles.
    "ds_quality_classifier": dict(max_exchanges=1),
    # capstone v7: dedup fp-agg + shard window (the final shard
    # rollup reuses the window's partitioning); the dedup join-back
    # broadcasts at audit scale — allow 2 more for the sort-merge
    # form it takes when the fingerprint set outgrows broadcast.
    "ds_corpus_pipeline_v7": dict(max_exchanges=4),
}


# Output types the official pandas-bridge harness cannot hash
# symmetrically: DuckDB DECIMAL collapses to float64 while Spark
# keeps Decimal objects, and raw BinaryType crashes the harness's
# sort_values (CORRECTNESS_r03).  Every gate query's FINAL schema
# must avoid them (emit decimal STRINGS / hex instead).
_GATE_UNSAFE_TYPES = ("decimal", "binary")


def gate_type_problems(df) -> list[str]:
    out = []
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        for bad in _GATE_UNSAFE_TYPES:
            if bad in t:
                out.append(f"gate-unsafe output type {f.name}:{t}")
    return out


def _tree_depth(line: str) -> int:
    return re.match(r"[\s:+\-]*", line).end()


def physical_counts(plan: str, _seen: set | None = None) -> tuple[int, int, int]:
    """(shuffle exchanges, broadcast exchanges, file scans) counted
    the way the RUNTIME pays them, not the way toString prints them.

    ``executedPlan().toString()`` re-prints a cached frame's ENTIRE
    child lineage at every reference (and nested caches multiply —
    measured: 106 printed exchanges for a plan that physically runs
    ~10), while runtime materializes each InMemoryRelation exactly
    once.  Strategy: strip every InMemoryRelation's child subtree
    from the text, count the remainder, then recurse ONCE into each
    globally-distinct cached subtree (its true materialization cost).
    Distinctness is judged on tree-art-stripped text so the same
    subtree printed at two tree positions compares equal.
    """
    if _seen is None:
        _seen = set()
    lines = plan.split("\n")
    out: list[str] = []
    subtrees: list[tuple[str, str]] = []  # (normalized key, raw text)
    i = 0
    while i < len(lines):
        line = lines[i]
        out.append(line)
        if "InMemoryRelation" in line:
            base = _tree_depth(line)
            j = i + 1
            raw, norm = [], []
            while j < len(lines) and lines[j].strip() \
                    and _tree_depth(lines[j]) > base:
                raw.append(lines[j])
                # normalization must drop ALL tree art (':' branch
                # rails included, which .strip() would keep), so the
                # same subtree printed under different join branches
                # compares equal
                norm.append(lines[j][_tree_depth(lines[j]):])
                j += 1
            subtrees.append(("\n".join(norm), "\n".join(raw)))
            i = j
        else:
            i += 1
    text = "\n".join(out)
    n_ex = len(re.findall(r"Exchange (?:hash|range|Single)", text))
    n_bc = text.count("BroadcastExchange")
    n_sc = text.count("FileScan")
    for key, raw in subtrees:
        if key in _seen:
            continue
        _seen.add(key)
        e2, b2, s2 = physical_counts(raw, _seen)
        n_ex, n_bc, n_sc = n_ex + e2, n_bc + b2, n_sc + s2
    return n_ex, n_bc, n_sc


def audit(name: str, q, spark) -> tuple[bool, str]:
    df = q.fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchange, n_broadcast, n_scans = physical_counts(plan)
    pushed = "PushedFilters: [" in plan and not re.search(r"PushedFilters: \[\]", plan)
    # Spark 4 renders whole-stage-codegen spans as `*(n)` operator
    # prefixes in this string form (the literal "WholeStageCodegen"
    # node name appears only in explain("formatted")) — count
    # distinct span ids, not the node name
    wsc = len(set(re.findall(r"\*\((\d+)\)", plan)))
    exp = EXPECTATIONS.get(name, {})
    problems = gate_type_problems(df)
    if "max_exchanges" in exp and n_exchange > exp["max_exchanges"]:
        problems.append(f"exchanges {n_exchange} > {exp['max_exchanges']}")
    if "min_broadcasts" in exp and n_broadcast < exp["min_broadcasts"]:
        problems.append(f"broadcasts {n_broadcast} < {exp['min_broadcasts']}")
    if "max_scans" in exp and n_scans > exp["max_scans"]:
        problems.append(f"scans {n_scans} > {exp['max_scans']}")
    if exp.get("scan_filter") and not pushed:
        problems.append("no filters pushed to scan")
    facts = (f"exchanges={n_exchange} broadcasts={n_broadcast} scans={n_scans} "
             f"pushed={pushed} codegen_spans={wsc}")
    return (not problems, facts + ("" if not problems else " | " + "; ".join(problems)))


def main(only: list[str]) -> int:
    spark = get_spark("explain_audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    for name, q in Q.REGISTRY.items():
        if only and name not in only:
            continue
        # queries without plan expectations still get the gate-safe
        # output-type audit (the window rotates: ANY registered query
        # can become an official row next round)
        try:
            ok, facts = audit(name, q, spark)
        except Exception as e:  # plan-time failure is a violation
            ok, facts = False, f"error: {e}"
        print(f"{'OK       ' if ok else 'VIOLATION'} {name}: {facts}")
        bad += 0 if ok else 1
    print(f"\n{'ALL PLANS OK' if bad == 0 else f'{bad} VIOLATIONS'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
