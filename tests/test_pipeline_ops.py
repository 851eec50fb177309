"""Round-3 pipeline-layer operators: repetition filters, PII,
decontamination, URL ops, domain mixtures, sequence packing."""

import pytest
from pyspark.sql import functions as F

from filters_spark.functions import dedup, packing, pii, sampling, text, url


class TestRepetition:
    def test_line_stats_counts_repeats(self, spark):
        df = spark.createDataFrame(
            [(1, "a\nb\na\na"), (2, "x\ny\nz")], "doc_id bigint, text string")
        got = {r["doc_id"]: r for r in
               text.line_repetition_stats(df).collect()}
        # doc 1: 4 lines, 2 distinct -> dup frac 2/4; dup chars 2*1 of 4
        assert got[1]["dup_line_frac"] == pytest.approx(0.5)
        assert got[1]["dup_line_char_frac"] == pytest.approx(0.5)
        assert got[2]["dup_line_frac"] == 0.0

    def test_ngram_stats(self, spark):
        df = spark.createDataFrame(
            [(1, "a b a b a b"), (2, "p q r s")], "doc_id bigint, text string")
        got = {r["doc_id"]: r for r in
               text.ngram_repetition_stats(df, n=2).collect()}
        # doc 1: bigrams: 'a b'x3, 'b a'x2 -> top = 3*3/11, dup = (9+6)/11 capped 1
        assert got[1]["top_ngram_char_frac"] == pytest.approx(9 / 11)
        assert got[1]["dup_ngram_char_frac"] == 1.0
        assert got[2]["top_ngram_char_frac"] == 0.0

    def test_filter_keeps_clean(self, spark):
        df = spark.createDataFrame(
            [(1, "a b a b a b a b"), (2, "fresh words only here today")],
            "doc_id bigint, text string")
        out = {r["doc_id"]: r["keep"] for r in
               text.repetition_filter(df, line_sep=" ").collect()}
        assert out[1] is False and out[2] is True


class TestPii:
    def test_detect_and_redact(self, spark):
        df = spark.createDataFrame(
            [(1, "mail a@b.com ip 10.0.0.1 ssn 123-45-6789 "
                 "tel 555-123-4567 card 4242 4242 4242 4242")],
            "id bigint, text string")
        prof = pii.pii_profile(df).collect()[0]
        assert (prof["n_email"], prof["n_ipv4"], prof["n_ssn"],
                prof["n_phone"], prof["n_credit_card"]) == (1, 1, 1, 1, 1)
        assert prof["has_pii"]
        red = df.select(pii.redact(F.col("text")).alias("r")).collect()[0]["r"]
        for kind, _ in pii.pii_counts(F.lit(red)):
            assert f"[{kind.upper()}]" in red or kind not in red
        residual = df.select(sum(
            (c for _, c in pii.pii_counts(pii.redact(F.col("text")))),
            F.lit(0)).alias("n")).collect()[0]["n"]
        assert residual == 0

    def test_luhn(self, spark):
        df = spark.createDataFrame(
            [("4242 4242 4242 4242",), ("4242-4242-4242-4241",), ("123",)],
            "c string")
        got = [r["ok"] for r in
               df.select(pii.luhn_valid_16(F.col("c")).alias("ok")).collect()]
        assert got == [True, False, None]


class TestDecontaminate:
    def test_flags_overlapping_docs(self, spark):
        corpus = spark.createDataFrame(
            [(1, "the quick brown fox jumps high"),
             (2, "totally unrelated words in here"),
             (3, "see the quick brown fox jumps again")],
            "doc_id bigint, text string")
        bench = spark.createDataFrame(
            [("benchmark says the quick brown fox jumps over",)], "text string")
        out = {r["doc_id"]: r["contaminated"] for r in dedup.decontaminate(
            corpus, bench, n=5, keep_flag=True).collect()}
        assert out[1] is True and out[3] is True and out[2] is False
        clean = dedup.decontaminate(corpus, bench, n=5)
        assert [r["doc_id"] for r in clean.collect()] == [2]


class TestUrl:
    def test_host_domain_normalize(self, spark):
        df = spark.createDataFrame(
            [("x http://Sub.Example.COM/Path#frag y https://a.b.org/q/",)],
            "t string")
        row = df.select(
            url.url_count(F.col("t")).alias("n"),
            url.url_host(F.regexp_extract("t", url.URL_PATTERN, 0)).alias("h"),
            url.registrable_domain(
                F.regexp_extract("t", url.URL_PATTERN, 0)).alias("d"),
            url.normalize_url(
                F.regexp_extract("t", url.URL_PATTERN, 0)).alias("u"),
        ).collect()[0]
        assert row["n"] == 2
        assert row["h"] == "sub.example.com"
        assert row["d"] == "example.com"
        assert row["u"] == "http://sub.example.com/Path"


class TestDomainMixture:
    def test_output_matches_targets(self, spark):
        rows = [(i, "a" if i % 10 < 8 else "b") for i in range(5000)]
        df = spark.createDataFrame(rows, "doc_id bigint, dom string")
        out = sampling.domain_mixture_sample(
            df, "doc_id", "dom", {"a": 0.5, "b": 0.5})
        counts = {r["dom"]: r["n"] for r in
                  out.groupBy("dom").agg(F.count("*").alias("n")).collect()}
        # b is the limiting domain (1000 docs, target 0.5 -> S=2000):
        # keep all of b, ~1000 of a
        assert counts["b"] == 1000
        assert abs(counts["a"] - 1000) < 100
        # deterministic: rerun keeps the same rows
        again = sampling.domain_mixture_sample(
            df, "doc_id", "dom", {"a": 0.5, "b": 0.5})
        assert sorted(r["doc_id"] for r in out.collect()) == \
               sorted(r["doc_id"] for r in again.collect())

    def test_untargeted_domain_dropped(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (2, "zzz")], "doc_id bigint, dom string")
        out = sampling.domain_mixture_sample(df, "doc_id", "dom", {"a": 1.0})
        assert [r["dom"] for r in out.collect()] == ["a"]


class TestPacking:
    def test_streaming_bins(self, spark):
        df = spark.createDataFrame(
            [(i, 100) for i in range(10)], "doc_id bigint, n int")
        out = packing.pack_streaming(df, "doc_id", "n", 512)
        bins = {r["doc_id"]: (r["bin"], r["bin_offset"]) for r in out.collect()}
        assert bins[0] == (0, 0)
        assert bins[4] == (0, 400)   # straddles 512 but starts in bin 0
        assert bins[5] == (0, 500)
        assert bins[6] == (1, 88)    # 600 - 512
        assert bins[9] == (1, 388)

    def test_greedy_respects_budget(self, spark):
        rows = [(i, "g", (i * 37) % 200 + 1) for i in range(50)]
        rows += [(100, "g", 999)]  # oversize
        df = spark.createDataFrame(rows, "doc_id bigint, grp string, n int")
        out = packing.pack_greedy(df, "doc_id", "n", 512,
                                  partition_cols=["grp"]).collect()
        per_bin: dict = {}
        for r in out:
            if r["oversize"]:
                assert r["n"] > 512
                continue
            per_bin.setdefault(r["bin"], 0)
            per_bin[r["bin"]] += r["n"]
        assert per_bin and all(v <= 512 for v in per_bin.values())

    def test_greedy_no_partition(self, spark):
        df = spark.createDataFrame(
            [(1, 300), (2, 300), (3, 200)], "doc_id bigint, n int")
        out = packing.pack_greedy(df, "doc_id", "n", 512).collect()
        assert len(out) == 3
        sums: dict = {}
        for r in out:
            sums[r["bin"]] = sums.get(r["bin"], 0) + r["n"]
        assert all(v <= 512 for v in sums.values())


class TestSegmentDedup:
    def test_cross_corpus_first_occurrence_wins(self, spark):
        df = spark.createDataFrame(
            [(1, "common line\nunique one"),
             (2, "common line\nunique two"),
             (3, "common line")],
            "doc_id bigint, text string")
        out = {r["doc_id"]: r["text"] for r in
               dedup.dedup_segments(df).collect()}
        assert out[1] == "common line\nunique one"
        assert out[2] == "unique two"
        assert out[3] == ""  # emptied, not dropped


class TestPackingEdges:
    def test_greedy_zero_len_and_null_handling(self, spark):
        # zero-length docs must not join an oversize singleton bin
        df = spark.createDataFrame(
            [(1, 999), (2, 0), (3, 0)], "doc_id bigint, n int")
        out = {r["doc_id"]: r for r in
               packing.pack_greedy(df, "doc_id", "n", 512).collect()}
        assert out[1]["oversize"]
        assert out[2]["bin"] != out[1]["bin"]
        assert out[3]["bin"] == out[2]["bin"]  # zero-len docs share a real bin
        # NULL lengths fail loudly, not with a cryptic pandas error
        import pytest as _pytest
        nulls = spark.createDataFrame(
            [(1, None)], "doc_id bigint, n int")
        with _pytest.raises(Exception, match="NULL"):
            packing.pack_greedy(nulls, "doc_id", "n", 512).collect()


class TestChunking:
    def test_overlapping_windows(self, spark):
        df = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(60)))],
            "doc_id bigint, text string")
        out = sorted(
            (r["chunk_id"], r["n_tokens"], r["chunk_text"].split(" ")[0])
            for r in text.chunk_documents(df, chunk_tokens=32, overlap=8).collect())
        # starts 1, 25, 49 -> sizes 32, 32, 12
        assert out == [(0, 32, "w0"), (1, 32, "w24"), (2, 12, "w48")]

    def test_short_doc_single_chunk(self, spark):
        df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
        [r] = text.chunk_documents(df, chunk_tokens=32, overlap=8).collect()
        assert (r["chunk_id"], r["n_tokens"], r["chunk_text"]) == (0, 3, "a b c")

    def test_overlap_validation(self, spark):
        df = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
        import pytest as _pytest
        with _pytest.raises(ValueError, match="overlap"):
            text.chunk_documents(df, chunk_tokens=8, overlap=8)


class TestLinearScore:
    def test_matches_numpy(self, spark):
        import numpy as np
        from filters_spark.functions import similarity
        vecs = [[0.5, -1.0, 2.0], [1.0, 1.0, 1.0]]
        w, b = [0.1, 0.2, -0.3], 0.05
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)], "id bigint, v array<float>")
        got = {r["id"]: r["s"] for r in df.select(
            "id", similarity.linear_score(F.col("v"), w, b).alias("s")).collect()}
        for i, v in enumerate(vecs):
            exp = float(np.dot(np.array(v, dtype=np.float32).astype(np.float64), w) + b)
            assert abs(got[i] - exp) < 1e-9

    def test_logistic_bounds(self, spark):
        from filters_spark.functions import similarity
        df = spark.createDataFrame([(1, [100.0]), (2, [-100.0])],
                                   "id bigint, v array<float>")
        got = {r["id"]: r["p"] for r in df.select(
            "id", similarity.logistic_score(F.col("v"), [1.0]).alias("p")).collect()}
        assert got[1] > 0.999 and got[2] < 0.001


class TestPackStreamingNullGuard:
    def test_null_length_raises_loudly(self, spark):
        import pytest as _pytest
        from filters_spark.functions import packing
        df = spark.createDataFrame([(1, 5), (2, None)],
                                   "doc_id bigint, n_tok int")
        packed = packing.pack_streaming(df, "doc_id", "n_tok", 32)
        with _pytest.raises(Exception, match="NULL n_tok"):
            packed.collect()


class TestDuplicateSpans:
    def test_basic_and_short_docs(self, spark):
        from filters_spark.functions import dedup
        rows = [(1, "a b c d e f g h"),
                (2, "x y z w a b c d e q"),
                (3, "x y z w r s t u v q"),
                (4, "short")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"],
                             r["max_dup_run"], r["max_dup_span_tokens"])
               for r in dedup.duplicate_spans(df, window=3).collect()}
        assert got == {1: (6, 3, 3, 5), 2: (8, 5, 3, 5),
                       3: (8, 2, 2, 4), 4: (0, 0, 0, 0)}

    def test_scope_col_confines_duplication(self, spark):
        """With scope_col, identical windows in DIFFERENT scopes are
        not duplicates (the per-shard / incremental variant)."""
        from filters_spark.functions import dedup
        rows = [(1, "p q r s", "A"), (2, "p q r s", "B"),  # cross-scope only
                (3, "m n o t", "A"), (4, "m n o t", "A")]  # same-scope dup
        df = spark.createDataFrame(rows,
                                   "doc_id bigint, text string, shard string")
        got = {r["doc_id"]: r["n_dup_windows"]
               for r in dedup.duplicate_spans(df, window=3,
                                              scope_col="shard").collect()}
        assert got == {1: 0, 2: 0, 3: 2, 4: 2}
        unscoped = {r["doc_id"]: r["n_dup_windows"]
                    for r in dedup.duplicate_spans(df, window=3).collect()}
        assert unscoped == {1: 2, 2: 2, 3: 2, 4: 2}


class TestRemoveDuplicateSpans:
    def test_planted_span_survives_exactly_once(self, spark):
        """The ExactSubstr removal invariant: after excision the
        corpus contains each planted duplicated span exactly once
        (in the canonical smallest-(id,pos) holder)."""
        from filters_spark.functions import dedup
        span = "alpha bravo charlie delta echo"
        rows = [(1, f"one two three {span} four five six seven"),
                (2, f"nine ten {span} eleven twelve thirteen fourteen"),
                (3, "unique text with no duplication at all here ok"),
                (4, span + " " + span)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in
               dedup.remove_duplicate_spans(df, window=5).collect()}
        assert out[1]["text"].count(span) == 1          # canonical holder
        assert out[1]["n_tokens_removed"] == 0
        assert span not in out[2]["text"]
        assert out[2]["n_tokens_removed"] == 5
        assert out[3]["n_tokens_removed"] == 0          # untouched
        # both of doc 4's copies are non-canonical; contiguous cut
        # ranges merge and the doc empties
        assert (out[4]["text"], out[4]["n_tokens_kept"]) == ("", 0)
        corpus = " ".join(r["text"] for r in out.values())
        assert corpus.count(span) == 1

    def test_keep_last_flips_canonical(self, spark):
        from filters_spark.functions import dedup
        span = "k l m n o"
        rows = [(1, f"{span} a b c d e"), (2, f"f g h i j {span}")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        first = {r["doc_id"]: r["text"] for r in
                 dedup.remove_duplicate_spans(df, window=5).collect()}
        last = {r["doc_id"]: r["text"] for r in
                dedup.remove_duplicate_spans(df, window=5,
                                             keep="last").collect()}
        assert span in first[1] and span not in first[2]
        assert span not in last[1] and span in last[2]

    def test_passthrough_columns_and_short_docs(self, spark):
        from filters_spark.functions import dedup
        rows = [(1, "tiny", "web"), (2, "also small", "book")]
        df = spark.createDataFrame(rows,
                                   "doc_id bigint, text string, src string")
        out = {r["doc_id"]: r for r in
               dedup.remove_duplicate_spans(df, window=5).collect()}
        assert out[1]["src"] == "web" and out[1]["text"] == "tiny"
        assert out[2]["n_tokens_removed"] == 0

    def test_overlapping_spans_merge_into_one_cut(self, spark):
        """Two duplicated windows overlapping in a doc must excise as
        ONE merged range — no double-removal, no stitch artifacts."""
        from filters_spark.functions import dedup
        # 6-token repeated passage -> two overlapping 5-windows
        passage = "p1 p2 p3 p4 p5 p6"
        rows = [(1, f"a b {passage} c d"), (2, f"e f {passage} g h")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in
               dedup.remove_duplicate_spans(df, window=5).collect()}
        assert out[1]["text"] == f"a b {passage} c d"
        assert out[2]["text"] == "e f g h"
        assert out[2]["n_tokens_removed"] == 6


class TestBpeTrain:
    def test_matches_hand_derived_merges(self, spark):
        """'low low lower' + 'aaaa newest widest': tie-breaks and
        greedy odd-run semantics verified by hand (Sennrich et al.
        worked example style)."""
        from filters_spark.functions import text as T
        df = spark.createDataFrame(
            [("low low lower",), ("aaaa newest widest",)], "text string")
        got = T.bpe_train(df, n_merges=4)
        assert got == [(1, "a", "a", 3), (2, "l", "o", 3),
                       (3, "lo", "w", 3), (4, "e", "s", 2)]

    def test_greedy_odd_run_merges_floor_half(self, spark):
        """'aaaaa' (5 a's, twice): greedy left-to-right pairs the
        first four symbols; counts reflect non-overlapping pairs."""
        from filters_spark.functions import text as T
        df = spark.createDataFrame([("aaaaa aaaaa",)], "text string")
        got = T.bpe_train(df, n_merges=2)
        # step 1: (a,a) appears 4 adjacent times per word = 8 total
        assert got[0] == (1, "a", "a", 8)
        # after merging: aa aa a per word -> (aa,aa) x1 + (aa,a) x1
        assert got[1][0] == 2 and got[1][3] == 2

    def test_stops_when_no_pair_repeats(self, spark):
        from filters_spark.functions import text as T
        df = spark.createDataFrame([("ab cd",)], "text string")
        # every pair occurs once -> zero merges
        assert T.bpe_train(df, n_merges=5) == []

    def test_driver_engine_exactly_equals_spark(self, spark):
        """The incremental trainer pinned merge-for-merge on a corpus
        crafted to hit count ties, (left, right) tie-breaks and greedy
        odd runs.  The table is the one a per-merge Spark-job loop
        (since removed) produced identically."""
        from filters_spark.functions import text as T
        df = spark.createDataFrame(
            [("low low lower",), ("aaaa newest widest",),
             ("aaaaa aaaaa banana bandana",), ("ab ab ba ba ba",),
             ("the cat sat on the mat",), ("",)],
            "text string")
        assert T.bpe_train(df, n_merges=12) == [
            (1, "a", "a", 11), (2, "b", "a", 5), (3, "a", "t", 3),
            (4, "aa", "aa", 3), (5, "l", "o", 3), (6, "lo", "w", 3),
            (7, "n", "a", 3), (8, "a", "b", 2), (9, "aaaa", "a", 2),
            (10, "e", "s", 2), (11, "es", "t", 2), (12, "h", "e", 2)]

    def test_driver_engine_on_documents_table(self, spark):
        """Real corpus text (sf0.001 documents), pinned to the table
        the removed Spark-job loop produced identically."""
        from filters_spark.functions import text as T
        df = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet").select("text")
        assert T.bpe_train(df, n_merges=16) == [
            (1, "e", "r", 4650), (2, "o", "r", 2880), (3, "i", "n", 2858),
            (4, "o", "w", 2763), (5, "s", "t", 2721), (6, "l", "u", 1928),
            (7, "a", "r", 1873), (8, "p", "ar", 1873),
            (9, "m", "er", 1824), (10, "a", "t", 1806),
            (11, "a", "n", 984), (12, "c", "an", 984),
            (13, "s", "can", 984), (14, "c", "o", 978),
            (15, "co", "lu", 978), (16, "colu", "m", 978)]

    def test_max_vocab_caps_deterministically(self, spark):
        from filters_spark.functions import text as T
        df = spark.createDataFrame(
            [("low low lower",), ("aaaa newest widest",)], "text string")
        # top-2 word forms by (freq desc, word) = 'low' (2), 'aaaa'
        assert T.bpe_train(df, n_merges=4, max_vocab=2) == [
            (1, "a", "a", 3), (2, "l", "o", 2), (3, "lo", "w", 2)]

    def test_suffix_collision_corpus(self, spark):
        """r10 ADVICE regression: an unanchored trailing-separator
        replace lets the merge pattern 'a␟b␟' match inside any
        symbol ENDING with 'a' (e.g. after x+a merges to 'xa', the
        packed '...xa␟b␟' contains 'a␟b␟'), corrupting the spark
        engine's state.  The wrapped ␟a␟␟b␟ form is anchored at both
        symbol boundaries; this corpus is crafted so the buggy form
        diverges from the exact in-process trainer, whose table is
        pinned here (bpe_apply and the oracle replay it packed)."""
        from filters_spark.functions import text as T
        rows = ([("aba",)] * 1 + [("abba",)] * 4
                + [("babaa",)] * 2 + [("babb",)] * 1)
        df = spark.createDataFrame(rows, "text string")
        assert T.bpe_train(df, n_merges=6) == [
            (1, "b", "a", 10), (2, "a", "b", 4), (3, "ab", "ba", 4),
            (4, "ba", "a", 2), (5, "ba", "baa", 2)]

    def test_token_counts_engines_equal_corpus_direct(self, spark):
        """bpe_token_counts: the folded-vocabulary apply (expr
        replace chain AND the arrow in-order rank-floor engine) must
        equal the document-level bpe_apply counts exactly — including
        on the suffix-collision corpus."""
        import pyspark.sql.functions as F

        from filters_spark.functions import text as T
        rows = ([("aba abba",)] * 3 + [("babaa babb low lower",)] * 2
                + [("the cat sat low",)] * 2)
        df = spark.createDataFrame(rows, "text string")
        merges = T.bpe_train(df, n_merges=8)
        assert len(merges) >= 6
        direct = {r["s"]: r["n"] for r in
                  df.select(F.explode(T.bpe_apply(F.col("text"),
                                                  merges)).alias("s"))
                  .groupBy("s").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
        for engine in ("expr", "arrow"):
            got = {r["subword"]: r["n"] for r in
                   T.bpe_token_counts(df, merges,
                                      engine=engine).collect()}
            assert got == direct, engine

    def test_token_counts_big_table_arrow_only_plan(self, spark):
        """The arrow engine's plan size is independent of the merge
        table: a padded 300-entry table must tokenize without 300
        chained replace expressions."""
        import pyspark.sql.functions as F

        from filters_spark.functions import text as T
        df = spark.createDataFrame([("low lower lowest",)] * 4,
                                   "text string")
        merges = T.bpe_train(df, n_merges=6)
        # pad with merges that can never apply (symbols absent)
        pad = [(100 + i, f"Q{i}", f"R{i}", 2) for i in range(300)]
        got = {r["subword"]: r["n"] for r in
               T.bpe_token_counts(df, merges + pad,
                                  engine="arrow").collect()}
        want = {r["subword"]: r["n"] for r in
                T.bpe_token_counts(df, merges,
                                   engine="arrow").collect()}
        assert got == want

    def test_adjacent_pairs_both_merge(self, spark):
        """'abab' must merge to [ab, ab] — a shared-single-separator
        packing (the naive anchoring fix) consumes the separator
        between adjacent matches and merges only the first."""
        from filters_spark.functions import text as T
        import pyspark.sql.functions as F
        df = spark.createDataFrame([("ab ab",)], "text string")
        merges = T.bpe_train(df, n_merges=1)
        assert merges == [(1, "a", "b", 2)]
        [r] = (spark.range(1)
               .select(T.bpe_apply(F.lit("abab ababa"), merges)
                       .alias("t")).collect())
        assert r["t"] == ["ab", "ab", "ab", "ab", "a"]


class TestBpeApply:
    def test_tokenizes_with_learned_merges(self, spark):
        from filters_spark.functions import text as T
        df = spark.createDataFrame(
            [("low low lower",), ("aaaa newest widest",)], "text string")
        merges = T.bpe_train(df, n_merges=3)  # aa, lo, low
        got = df.select(T.bpe_apply(F.col("text"), merges).alias("t")) \
            .collect()
        toks = {r["t"][0]: list(r["t"]) for r in got}
        assert toks["low"] == ["low", "low", "low", "e", "r"]
        assert toks["aa"][:2] == ["aa", "aa"]          # greedy odd run

    def test_empty_merge_table_yields_characters(self, spark):
        from filters_spark.functions import text as T
        df = spark.createDataFrame([("ab cd",)], "text string")
        [r] = df.select(T.bpe_apply(F.col("text"), []).alias("t")).collect()
        assert list(r["t"]) == ["a", "b", "c", "d"]   # spaces dropped


class TestSpanRemovalThenExactDedup:
    def test_excision_creates_duplicates_pipeline_keeps_one(self, spark):
        """The v4 capstone's emergent behavior: two docs that differ
        ONLY in shared boilerplate placement become byte-identical
        after excision (their common core is SHORTER than the window,
        so it is never itself a duplicated window); the downstream
        exact dedup must keep exactly one (smallest id)."""
        from filters_spark.functions import dedup
        bp = "b1 b2 b3 b4 b5"
        rows = [
            (1, f"{bp} alpha beta gamma delta echo"),   # canonical bp
            (4, f"niche quad core four {bp}"),          # 4-token core + bp
            (5, f"{bp} niche quad core four"),          # bp + same core
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        cleaned = dedup.remove_duplicate_spans(df, window=5)
        texts = {r["doc_id"]: r["text"] for r in cleaned.collect()}
        assert bp in texts[1]                       # canonical holder
        assert texts[4] == "niche quad core four"   # bp excised
        assert texts[5] == "niche quad core four"   # now IDENTICAL to 4
        kept = cleaned.where(F.col("n_tokens_kept") > 0)
        unique = dedup.exact_text_dedup(kept, "doc_id", "text")
        ids = sorted(r["doc_id"] for r in unique.collect())
        assert ids == [1, 4]                        # dedup kept smallest id


class TestClusterStore:
    def test_append_merges_equal_full_run(self, spark, tmp_path):
        """Incremental cluster maintenance == from-scratch CC over
        the full pair graph, including the hard case: a new doc
        UNITING two existing clusters (merge event -> remap)."""
        from filters_spark.functions import dedup
        path = str(tmp_path / "clusters")
        base_ids = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 10, 11, 20)], "doc_id bigint")
        base_pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "a_id bigint, b_id bigint")
        dedup.materialize_clusters(spark, path, base_ids, base_pairs)
        got0 = {r["doc_id"]: r["canon_id"] for r in
                dedup.read_canonical(spark, path).collect()}
        assert got0 == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}
        # batch: 30 links cluster{1} and cluster{10} (MERGE), 31 is
        # a singleton, 32 pairs with the old singleton 20
        new_ids = spark.createDataFrame(
            [(30,), (31,), (32,)], "doc_id bigint")
        new_pairs = spark.createDataFrame(
            [(3, 30), (11, 30), (20, 32)], "a_id bigint, b_id bigint")
        dedup.append_clusters(spark, path, new_ids, new_pairs)
        got = {r["doc_id"]: r["canon_id"] for r in
               dedup.read_canonical(spark, path).collect()}
        # full-run ground truth: {1,2,3,10,11,30} -> 1; {20,32} -> 20;
        # {31} -> 31
        assert got == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 30: 1,
                       20: 20, 32: 20, 31: 31}

    def test_chained_merges_resolve(self, spark, tmp_path):
        """Two successive appends each merging clusters: remap CHAINS
        (c -> b -> a) must resolve to the final canonical."""
        from filters_spark.functions import dedup
        path = str(tmp_path / "clusters")
        ids = spark.createDataFrame([(5,), (6,), (8,), (9,)],
                                    "doc_id bigint")
        pairs = spark.createDataFrame([(5, 6), (8, 9)],
                                      "a_id bigint, b_id bigint")
        dedup.materialize_clusters(spark, path, ids, pairs)
        # append 1: unite {5,6} and {8,9} via 40  (8 -> 5)
        dedup.append_clusters(
            spark, path,
            spark.createDataFrame([(40,)], "doc_id bigint"),
            spark.createDataFrame([(6, 40), (9, 40)],
                                  "a_id bigint, b_id bigint"))
        # append 2: doc 2 (SMALLER than every canonical) joins -> the
        # merged cluster's canonical remaps again (5 -> 2)
        dedup.append_clusters(
            spark, path,
            spark.createDataFrame([(2,)], "doc_id bigint"),
            spark.createDataFrame([(5, 2)], "a_id bigint, b_id bigint"))
        got = {r["doc_id"]: r["canon_id"] for r in
               dedup.read_canonical(spark, path).collect()}
        assert got == {5: 2, 6: 2, 8: 2, 9: 2, 40: 2, 2: 2}


class TestRemoveFrequentLines:
    def _corpus(self, spark):
        bp = "cookie banner"
        rows = [(1, f"{bp}\nreal content one\nmore text"),
                (2, f"intro line\n{bp}\nbody two"),
                (3, f"{bp}\nunique stuff"),
                (4, "rare line\nanother rare"),
                # inner whitespace differs -> normalization (trim +
                # lower) does NOT merge this with 'cookie banner'
                (5, "COOKIE   banner\nfresh text")]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_first_occurrence_survives(self, spark):
        from filters_spark.functions import dedup
        out = {r["doc_id"]: r for r in
               dedup.remove_frequent_lines(self._corpus(spark),
                                           min_count=3).collect()}
        # 'cookie banner' occurs 3x (docs 1,2,3) -> only doc 1's copy
        # (globally first) survives
        assert "cookie banner" in out[1]["text"]
        assert "cookie banner" not in out[2]["text"]
        assert "cookie banner" not in out[3]["text"]
        assert out[2]["n_removed"] == 1 and out[3]["n_removed"] == 1
        assert out[1]["n_removed"] == 0
        # untouched docs keep text verbatim, and every doc appears
        assert out[4]["text"] == "rare line\nanother rare"
        assert len(out) == 5

    def test_keep_none_removes_all(self, spark):
        from filters_spark.functions import dedup
        out = {r["doc_id"]: r for r in
               dedup.remove_frequent_lines(self._corpus(spark),
                                           min_count=3,
                                           keep="none").collect()}
        for d in (1, 2, 3):
            assert "cookie banner" not in out[d]["text"], d
        assert out[1]["text"] == "real content one\nmore text"

    def test_normalization_case_and_trim(self, spark):
        from filters_spark.functions import dedup
        rows = [(1, "The Same\nx"), (2, "  the same \ny"),
                (3, "THE SAME\nz"), (4, "the same\nw")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in
               dedup.remove_frequent_lines(df, min_count=3).collect()}
        # case/whitespace variants count as ONE normalized line (4
        # occurrences); the kept first occurrence keeps its ORIGINAL
        # spelling
        assert out[1]["text"] == "The Same\nx"
        for d in (2, 3, 4):
            assert out[d]["n_removed"] == 1, d
        off = {r["doc_id"]: r for r in
               dedup.remove_frequent_lines(df, min_count=3,
                                           normalize=False).collect()}
        assert all(off[d]["n_removed"] == 0 for d in (1, 2, 3, 4))

    def test_doc_emptied_and_order_preserved(self, spark):
        from filters_spark.functions import dedup
        rows = ([(i, "boiler plate") for i in range(1, 4)]
                + [(4, "z end\nboiler plate\na start")])
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in
               dedup.remove_frequent_lines(df, min_count=3,
                                           keep="none").collect()}
        assert out[1]["text"] == "" and out[1]["n_kept"] == 0
        # surviving lines keep original order (z before a)
        assert out[4]["text"] == "z end\na start"

    def test_bad_keep_raises(self, spark):
        import pytest as _pt

        from filters_spark.functions import dedup
        df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
        with _pt.raises(ValueError, match="keep"):
            dedup.remove_frequent_lines(df, keep="banana")


class TestRemapGuard:
    def test_read_canonical_guard_raises(self, spark, tmp_path, monkeypatch):
        from filters_spark.functions import dedup
        ids = spark.createDataFrame([(1,), (2,), (3,)], "doc_id bigint")
        base_pairs = spark.createDataFrame(
            [(1, 2)], "a_id bigint, b_id bigint")
        path = str(tmp_path / "cstore")
        dedup.materialize_clusters(spark, path, ids, base_pairs)
        batch = spark.createDataFrame([(4,)], "doc_id bigint")
        # the new doc unites cluster {1,2} with singleton {3} -> one
        # remap EVENT lands in remap/
        pairs = spark.createDataFrame(
            [(4, 2), (4, 3)], "a_id bigint, b_id bigint")
        dedup.append_clusters(spark, path, batch, pairs)
        # normal read works
        assert dedup.read_canonical(spark, path).count() == 4
        # a tiny guard trips on the single merge event
        monkeypatch.setattr(dedup, "REMAP_GUARD_ROWS", 0)
        import pytest as _pt
        with _pt.raises(ValueError, match="rebuild the cluster"):
            dedup.read_canonical(spark, path)


class TestFrequentLinesMinChars:
    def test_min_chars_exempts_short_lines(self, spark):
        from filters_spark.functions import dedup
        rows = [(i, "-\nsome cookie banner boilerplate\nunique %d" % i)
                for i in range(1, 5)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in dedup.remove_frequent_lines(
            df, min_count=3, keep="none", min_chars=5).collect()}
        for d in range(1, 5):
            # the 1-char structural line survives everywhere; the
            # long boilerplate is removed everywhere
            assert out[d]["text"].startswith("-\n"), d
            assert "cookie banner" not in out[d]["text"], d
            assert out[d]["n_removed"] == 1, d


class TestUnigram:
    """unigram_train / unigram_segment / unigram_token_counts: greedy
    longest-match semantics, prune behavior, char-fallback coverage,
    and crafted-input vocabularies (the corpus-scale arithmetic is
    hash-gated by txt_unigram_tokenize)."""

    def _df(self, spark, texts):
        from pyspark.sql import Row
        return spark.createDataFrame([Row(text=t) for t in texts])

    def test_longest_match_and_fallback(self, spark):
        from filters_spark.functions import text as T

        df = spark.createDataFrame([("hello",), ("held",), ("luxq",)],
                                   "w string")
        vocab = ["h", "e", "l", "o", "d", "u", "he", "ll", "lo", "hell"]
        out = {r["w"]: r["ps"] for r in df.select(
            "w", T.unigram_segment(F.col("w"), vocab).alias("ps"))
            .collect()}
        assert out["hello"] == ["hell", "o"]     # longest wins
        assert out["held"] == ["he", "l", "d"]
        # 'x'/'q' not in vocab: char fallback keeps total coverage
        assert out["luxq"] == ["lu", "x", "q"] or \
            out["luxq"] == ["l", "u", "x", "q"]

    def test_engines_exactly_equal(self, spark):
        """Pinned to the vocabulary the removed Spark-job loop
        produced identically: usage ties resolve by piece."""
        from filters_spark.functions import text as T

        df = self._df(spark, [
            "spark spark sparkle park parking",
            "ark bark barking spar sparse",
            "mark market marking spark park"])
        assert T.unigram_train(df, seed_size=20, vocab_size=8,
                               prune_iters=3) == [
            "a", "ark", "arki", "b", "e", "g", "i", "ing", "k", "l", "m",
            "mark", "n", "ng", "p", "park", "r", "s", "spar", "t"]

    def test_usage_tie_at_the_cut_keeps_smaller_pieces(self, spark):
        """Three pieces tie on usage and the cut keeps two: the
        (usage desc, piece) order keeps 'ab' and 'cd', not 'ef'."""
        from filters_spark.functions import text as T

        df = self._df(spark, ["ab cd ef"])
        assert T.unigram_train(df, seed_size=10, vocab_size=2,
                               max_piece_len=2, prune_iters=1) == [
            "a", "ab", "b", "c", "cd", "d", "e", "f"]

    def test_apply_after_train_runs_no_fold_job(self, spark):
        """The trainer's (word, freq) fold stays cached, so counting
        pieces right after training runs fewer jobs than the same
        count with the fold evicted."""
        from conftest import spark_jobs
        from filters_spark.functions import text as T
        from filters_spark.functions._cache import release_caches

        df = self._df(spark, ["spark sparkle park", "bark spar park"])

        def apply():
            return sorted(map(tuple, T.unigram_token_counts(
                df, vocab).collect()))

        release_caches()
        vocab = T.unigram_train(df, seed_size=10, vocab_size=4)
        after_train, jobs = spark_jobs(spark, apply)
        release_caches()
        cold, cold_jobs = spark_jobs(spark, apply)
        assert after_train == cold
        assert jobs < cold_jobs, (jobs, cold_jobs)

    def test_prune_keeps_used_pieces_only(self, spark):
        from filters_spark.functions import text as T

        # 'abab' dominates: seed contains 'ab','ba','aba','bab','abab'
        # etc., but after pruning to 2 multi-char pieces the greedy
        # segmentation's own usage decides the survivors
        df = self._df(spark, ["abab abab abab ab cd"])
        vocab = T.unigram_train(df, seed_size=10, vocab_size=2,
                                prune_iters=2)
        multi = [p for p in vocab if len(p) > 1]
        assert len(multi) <= 2 and "abab" in multi
        counts = {r["piece"]: r["n"] for r in
                  T.unigram_token_counts(df, vocab).collect()}
        assert counts["abab"] == 3
        assert all(n > 0 for n in counts.values())

    def test_counts_match_manual_segmentation(self, spark):
        from filters_spark.functions import text as T

        df = self._df(spark, ["aaa aa a", "aaa"])
        vocab = ["a", "aa"]                      # greedy: aa+a, aa
        counts = {r["piece"]: r["n"] for r in
                  T.unigram_token_counts(df, vocab).collect()}
        # 'aaa'x2 -> [aa, a] each; 'aa' -> [aa]; 'a' -> [a]
        assert counts == {"aa": 3, "a": 3}


class TestSemanticContaminated:
    def test_matches_and_guard(self, spark):
        from filters_spark.functions.dedup import semantic_contaminated
        rows = [(i, [float(i % 3 == 0), float(i % 3 == 1),
                     float(i % 3 == 2)]) for i in range(30)]
        df = spark.createDataFrame(rows, "vec_id bigint, v array<double>")
        ev = df.where("vec_id in (0, 1)")     # axes e0, e1
        out = {r["vec_id"]: r["n_matches"] for r in semantic_contaminated(
            df, ev, id_col="vec_id", vec_col="v", threshold=0.99,
            exclude_same_id=True).collect()}
        # every i%3==0 matches e0 (except 0 itself), i%3==1 matches e1
        assert set(out) == {i for i in range(30) if i % 3 != 2
                            and i not in (0, 1)}
        assert all(n == 1 for n in out.values())
        import pytest as _pt
        with _pt.raises(ValueError, match="benchmark"):
            semantic_contaminated(df, df, id_col="vec_id", vec_col="v",
                                  max_eval=10)

    def test_arrow_engine_matches_expr(self, spark):
        from filters_spark.functions.dedup import semantic_contaminated
        from filters_spark.sources import load_table
        emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
        ev = emb.where("vec_id % 37 = 0")
        kw = dict(id_col="vec_id", vec_col="embedding",
                  threshold=0.35, exclude_same_id=True)
        a = {(r["vec_id"], r["n_matches"]) for r in semantic_contaminated(
            emb, ev, engine="expr", **kw).collect()}
        b = {(r["vec_id"], r["n_matches"]) for r in semantic_contaminated(
            emb, ev, engine="arrow", **kw).collect()}
        assert a == b and a


class TestWordpiece:
    """WordPiece (Schuster & Nakajima 2012) — likelihood-gain merges,
    '##' continuation roles, whole-word [UNK]."""

    def _corpus(self, spark):
        rows = [("hug hug hug pug pun bun hugs",),
                ("hug pug pun hug",)]
        return spark.createDataFrame(rows, "text string")

    def test_train_score_semantics(self, spark):
        """Hand-computed: pair (##u,##g) c=8 score 8/(11*8) TIES
        (##u,##n) 3/(11*3) and wins on the (a,b) tie-break; then
        (##u,##n) 3/9 beats (h,##ug) 6/48 — raw-count BPE would pick
        (h,##ug) first, which is exactly the semantic difference
        this class pins."""
        from filters_spark.functions import text
        m = text.wordpiece_train(self._corpus(spark), n_merges=3)
        assert [(s, a, b, c) for s, a, b, c, _, _ in m] == [
            (1, "##u", "##g", 8),
            (2, "##u", "##n", 3),
            (3, "p", "##un", 2),
        ]
        # and symbol counts returned for the score denominator
        assert m[0][4] == 11 and m[0][5] == 8

    def test_engines_exactly_equal(self, spark):
        """Pinned to the table the removed Spark-job loop produced
        identically."""
        from filters_spark.functions import text
        d = self._corpus(spark)
        assert text.wordpiece_train(d, n_merges=5) == [
            (1, "##u", "##g", 8, 11, 8), (2, "##u", "##n", 3, 3, 3),
            (3, "p", "##un", 2, 4, 3), (4, "h", "##ug", 6, 6, 8),
            (5, "p", "##ug", 2, 2, 2)]

    def test_suffix_collision_corpus(self, spark):
        """r10 ADVICE regression: with '##'-marked continuations the
        trailing-separator replace collides constantly ('##a' ends
        with 'a', so the pattern for merge (a, ##b) matched inside
        '##a␟##b␟' states).  On this corpus the buggy form diverged
        at merge 2 (picking (##ba, ##a) instead of (a, ##b)); the
        in-process trainer's table is pinned merge-for-merge."""
        from filters_spark.functions import text
        rows = ([("aba",)] * 1 + [("abba",)] * 4
                + [("babaa",)] * 2 + [("babb",)] * 1)
        d = spark.createDataFrame(rows, "text string")
        assert text.wordpiece_train(d, n_merges=4) == [
            (1, "b", "##a", 3, 3, 12), (2, "a", "##b", 5, 5, 13),
            (3, "ba", "##b", 3, 3, 8), (4, "ab", "##b", 4, 5, 5)]

    def test_engines_equal_on_documents_sample(self, spark):
        from filters_spark.functions import text
        from filters_spark.sources import load_table
        d = (load_table(spark, "documents", "/root/testdata/sf0.001")
             .limit(40))
        from filters_spark.functions._cache import scoped_persist
        d = scoped_persist(d.select("text"), "wp_test")
        assert text.wordpiece_train(d, n_merges=4) == [
            (1, "q", "##u", 82, 82, 394), (2, "l", "##i", 93, 93, 410),
            (3, "w", "##i", 84, 84, 317), (4, "li", "##n", 93, 93, 411)]

    def test_apply_roles_and_unk(self, spark):
        from filters_spark.functions import text
        d = self._corpus(spark)
        merges = text.wordpiece_train(d, n_merges=3)
        vocab = text.wordpiece_vocab(d, merges)
        # 'g' never appears word-initial -> the word 'gun' is [UNK]
        # even though ##g and ##u exist; 'q' unseen anywhere -> [UNK];
        # 'hugs' segments h + ##ug + ##s via longest-match ('hug' as
        # one piece would be merge 4); 'pun' is the step-3 merge
        probe = spark.createDataFrame(
            [("hugs pun gun qat hug",)], "text string")
        got = {r["piece"]: r["n"] for r in
               text.wordpiece_token_counts(probe, vocab).collect()}
        assert got == {"h": 2, "##ug": 2, "##s": 1, "pun": 1, "[UNK]": 2}

    def test_unk_does_not_leak_partial_pieces(self, spark):
        """A word failing MID-segmentation contributes ONLY [UNK] —
        the already-matched prefix pieces must not count."""
        from filters_spark.functions import text
        d = self._corpus(spark)
        vocab = text.wordpiece_vocab(d, text.wordpiece_train(
            d, n_merges=3))
        # 'hugq': matches 'hug' then fails at 'q'
        probe = spark.createDataFrame([("hugq",)], "text string")
        got = {r["piece"]: r["n"] for r in
               text.wordpiece_token_counts(probe, vocab).collect()}
        assert got == {"[UNK]": 1}

    def test_hash_words_excluded(self, spark):
        """The '#' exclusion contract: words containing '#' never
        train nor tokenize (the HF display-format ambiguity made
        explicit)."""
        from filters_spark.functions import text
        d = spark.createDataFrame(
            [("aa aa ##aa #x aa",)], "text string")
        m = text.wordpiece_train(d, n_merges=2)
        assert [(a, b) for _, a, b, _, _, _ in m] == [("a", "##a")]
        vocab = text.wordpiece_vocab(d, m)
        got = {r["piece"]: r["n"] for r in
               text.wordpiece_token_counts(d, vocab).collect()}
        assert got == {"aa": 3}

    def test_score_tie_decided_by_left_symbol(self, spark):
        """(a, ##d) and (c, ##b) tie on score; the left symbol decides
        before the right one, so (a, ##d) merges first."""
        from filters_spark.functions import text
        d = spark.createDataFrame([("ad ad cb cb",)], "text string")
        assert text.wordpiece_train(d, n_merges=3) == [
            (1, "a", "##d", 2, 2, 2), (2, "c", "##b", 2, 2, 2)]

    def test_vocab_after_train_runs_no_fold_job(self, spark):
        """The trainer's (word, freq) fold survives its own merge
        steps in the cache, so the vocabulary built right after
        training runs only the jobs of a warm repeat."""
        from conftest import spark_jobs
        from filters_spark.functions import text
        from filters_spark.functions._cache import release_caches

        words = ("hug hugs pug pun bun hugging bunny punning pugs "
                 "hunger hung lung lunge plunge").split()
        d = spark.createDataFrame(
            [(" ".join(words[(i * 3 + j) % len(words)]
                       for j in range(7)),) for i in range(40)],
            "text string")
        release_caches()
        m = text.wordpiece_train(d, n_merges=10)
        assert len(m) == 10
        vocab, jobs = spark_jobs(spark,
                                 lambda: text.wordpiece_vocab(d, m))
        again, warm = spark_jobs(spark,
                                 lambda: text.wordpiece_vocab(d, m))
        assert vocab == again
        assert jobs == warm, (jobs, warm)

    def test_empty_corpus(self, spark):
        from filters_spark.functions import text
        d = spark.createDataFrame([], "text string")
        assert text.wordpiece_train(d, n_merges=3) == []
        vocab = text.wordpiece_vocab(d, [])
        assert vocab == []
        assert text.wordpiece_token_counts(d, vocab).count() == 0


def test_trainer_jobs_do_not_grow_with_iterations(spark):
    """Each tokenizer trainer reads the corpus in one fold and
    iterates in-process, so its Spark job count is the same for 3 and
    16 merges (1 and 3 prune rounds for unigram)."""
    from conftest import spark_jobs
    from filters_spark.functions import text
    from filters_spark.functions._cache import release_caches
    words = ("hug hugs pug pun bun hugging bunny punning pugs "
             "hunger hung lung lunge plunge").split()
    d = spark.createDataFrame(
        [(" ".join(words[(i * 3 + j) % len(words)] for j in range(7)),)
         for i in range(40)], "text string")

    def jobs(train, **kw):
        release_caches()
        return spark_jobs(spark, lambda: train(d, **kw))[1]

    for train, few, many in (
            (text.bpe_train, dict(n_merges=3), dict(n_merges=16)),
            (text.wordpiece_train, dict(n_merges=3), dict(n_merges=16)),
            (text.unigram_train, dict(prune_iters=1),
             dict(prune_iters=3))):
        assert jobs(train, **few) == jobs(train, **many), train.__name__


class TestKnBigram:
    def test_probabilities_form_and_continuation_effect(self, spark):
        """The defining KN behavior: a word frequent in ONE context
        only ('francisco' after 'san') gets a TINY continuation
        probability, so an unseen-context use scores worse than under
        add-one — while p stays a proper probability (0 < p <= 1 for
        every scored bigram, ce >= 0)."""
        from filters_spark.functions import text
        rows = [
            ("san francisco san francisco san francisco "
             "new york new delhi new orleans the city the town",)]
        df = spark.createDataFrame([(0, rows[0][0])],
                                   "doc_id bigint, text string")
        kn = text.kn_bigram_scores(df).collect()[0]
        assert kn["ce"] >= 0
        # hand-check one probability: c(san,francisco)=3, c(san,.)=3
        # (the trailing 'san' pairs with 'francisco' each time via
        # zip) ... structural sanity only: ce is finite
        import math
        assert math.isfinite(kn["ce"])

    def test_scores_every_multi_token_doc(self, spark):
        from filters_spark.functions import text
        from filters_spark.sources import load_table
        d = load_table(spark, "documents", "/root/testdata/sf0.001")
        n_docs = d.where(F.size(F.split("text", " ")) >= 2).count()
        assert text.kn_bigram_scores(d).count() == n_docs

    def test_kn_vs_addone_ordering_differs(self, spark):
        """KN and add-one are genuinely different models: on the
        corpus they produce different per-doc cross-entropies (if
        they coincided, the gate would be re-testing the old op)."""
        from filters_spark.functions import text
        from filters_spark.sources import load_table
        d = load_table(spark, "documents", "/root/testdata/sf0.001") \
            .limit(50)
        kn = {r["doc_id"]: r["ce"] for r in
              text.kn_bigram_scores(d).collect()}
        ao = {r["doc_id"]: r["ce"] for r in
              text.bigram_lm_scores(d).collect()}
        diffs = [abs(kn[k] - ao[k]) for k in kn]
        assert max(diffs) > 0.01

