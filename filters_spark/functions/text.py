"""Text-analysis operators for training-data pipelines (BASELINE.json
north star; SURVEY.md §2.9).  All pure Column expressions — these run
JVM-side at 100 TB with no Python in the hot path.

Design notes for scale:

* Everything here is a narrow projection (no shuffle); aggregations
  the callers add on top shuffle only on low-cardinality keys
  (lang, source).
* Tokenization uses a simple split — at scale prefer feeding the
  engine pre-normalized text; the regex variants are provided but
  cost ~2× the simple split.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "repetition_gate",
    "tokens",
    "token_count",
    "word_tokens_regex",
    "avg_word_len",
    "stopword_ratio",
    "punct_ratio",
    "quality_score",
    "classifier_features",
    "quality_logit",
    "train_quality_classifier",
    "train_hashed_quality_classifier",
    "hashed_quality_logit_micro",
    "QUALITY_FEATURE_DIM",
    "QUALITY_SEED",
    "gopher_flags",
    "GOPHER_STOPWORDS",
    "bigram_lm_scores",
    "fingerprint",
    "rolling_fingerprint",
    "winnow_sketch",
    "lang_scores",
    "lang_id",
    "line_repetition_stats",
    "ngram_repetition_stats",
    "repetition_filter",
    "chunk_documents",
    "bpe_train",
    "bpe_apply",
    "hashing_vectorize",
    "hashing_vectors_dense",
    "mojibake_marker_count",
    "fix_mojibake",
    "strip_html",
    "MOJIBAKE_MARKERS",
    "STOPWORDS",
]

# Tiny per-language stopword lists for the n-gram/stopword heuristic
# language-ID.  Deliberately small: the point is the Spark pattern
# (array_intersect against broadcast literal arrays), not lexicography.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "es", "por"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "nicht"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "就", "不", "人"],
}


def tokens(col: Column, sep: str = " ") -> Column:
    """Tokens split on the LITERAL separator string.  ``F.split``
    treats its pattern as a Java regex, so the separator is
    regex-escaped here — ``sep='.'`` or ``'|'`` split on those exact
    characters, not on the regex meaning."""
    return F.split(col, re.escape(sep))


def word_tokens_regex(col: Column) -> Column:
    """BPE-ish word tokenization: letter-runs, digit-runs, or single
    punctuation — the regex analog of a byte-pair pre-tokenizer."""
    return F.regexp_extract_all(
        F.lower(col), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
    )


def token_count(col: Column, sep: str = " ") -> Column:
    return F.size(tokens(col, sep))


def avg_word_len(col: Column, sep: str = " ") -> Column:
    """Mean token length.  Because ``tokens`` splits on the LITERAL
    separator, the sum of token lengths is exactly
    ``length(text) − (n_tokens − 1) · len(sep)`` for any separator —
    a pure codegen'd expression with no CodegenFallback
    higher-order-function pass (see dedup.py for the measured cliff)."""
    n = F.size(tokens(col, sep))
    total = F.length(col) - (n - F.lit(1)) * F.lit(len(sep))
    return total.cast("double") / n


def stopword_ratio(col: Column, lang: str = "en", sep: str = " ") -> Column:
    toks = tokens(col, sep)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits.cast("double") / F.size(toks)


def punct_ratio(col: Column) -> Column:
    """Punctuation fraction of the text.  ``try_divide``: ANSI mode
    (on by default in Spark 4) makes ``x / 0`` THROW, so an empty
    string in the corpus would kill the whole job — NULL for empty
    text instead (downstream ``when()`` bands treat it as
    not-in-band, and quality screens should reject empty text on
    length grounds anyway).  Value-identical to plain division for
    every non-empty input, so existing gate hashes are unaffected."""
    stripped = F.regexp_replace(col, r"[^\p{L}\p{N}\s]", "")
    return F.try_divide(
        (F.length(col) - F.length(stripped)).cast("double"),
        F.length(col))


def quality_score(col: Column, sep: str = " ") -> Column:
    """Composite [0,1] quality heuristic: length band + word-length
    band + low punctuation.  Mirrors the usual pretraining-corpus
    filters (C4-style) as one fused expression."""
    n = token_count(col, sep)
    awl = avg_word_len(col, sep)
    pr = punct_ratio(col)
    len_ok = F.when((n >= 10) & (n <= 100000), F.lit(1.0)).otherwise(0.0)
    word_ok = F.when((awl >= 2.0) & (awl <= 12.0), F.lit(1.0)).otherwise(0.0)
    punct_ok = F.when(pr <= 0.2, F.lit(1.0)).otherwise(0.0)
    return (len_ok + word_ok + punct_ok) / F.lit(3.0)


# --------------------------------------------------------------------------
# Trained quality classifier (the MODEL-BASED filtering step of
# CCNet / FineWeb-style curation — Wenzek et al. 2020 arXiv:1911.00359,
# Penedo et al. 2024 arXiv:2406.17557; public papers).  The rule-based
# ops above (quality_score, gopher_flags) are the heuristic pass; this
# is the learned pass: fit a tiny logistic head on labeled seed docs
# with the engine's own distributed IRLS (projection.logistic_fit),
# then score the corpus with the coefficients BAKED INTO THE PLAN as
# literals — inference rides the scan projection, no side data, and
# any engine with ln() can replay the exact scores.
# --------------------------------------------------------------------------

QUALITY_FEATURE_DIM = 4


def _classifier_feature_list(col: Column, sep: str) -> list[Column]:
    return [
        F.log(F.lit(1.0) + F.length(col).cast("double")),
        avg_word_len(col, sep),
        punct_ratio(col),
        stopword_ratio(col, "en", sep),
    ]


def classifier_features(col: Column, sep: str = " ") -> Column:
    """The 4-dim interpretable feature vector the trained quality
    classifier consumes: ``[ln(1+chars), avg_word_len, punct_ratio,
    stopword_ratio(en)]``.  Pure expressions (one narrow projection,
    JVM-side at 100 TB); every feature is replayable in ANSI SQL, so
    classifier inference can be hash-gated end to end
    (``ds_quality_classifier``)."""
    return F.array(*_classifier_feature_list(col, sep))


def quality_logit(col: Column, weights: list[float], bias: float,
                  sep: str = " ") -> Column:
    """w·x + b over :func:`classifier_features`, with the sum written
    as an EXPLICIT left-to-right multiply-add chain (not a vector
    fold) so the floating-point evaluation order is pinned and an
    ANSI-SQL oracle evaluating the same textual expression reproduces
    the score bit-for-bit (modulo libm ln, handled by gate-side
    rounding).  Keep-decision contract: keep when logit >= 0, i.e.
    sigmoid >= 0.5 — the sigmoid itself is never materialized, so no
    exp() enters the gated path."""
    if len(weights) != QUALITY_FEATURE_DIM:
        raise ValueError(
            f"quality_logit: expected {QUALITY_FEATURE_DIM} weights, "
            f"got {len(weights)}")
    feats = _classifier_feature_list(col, sep)
    out = F.lit(float(weights[0])) * feats[0]
    for w, f in zip(weights[1:], feats[1:]):
        out = out + F.lit(float(w)) * f
    return out + F.lit(float(bias))


# Planted, scale-independent training seed for the quality head:
# 12 positive docs (natural prose — stopword-rich, light punctuation,
# sentence-length words) and 12 negatives (boilerplate menus, symbol
# soup, SEO keyword stuffing, ALL-CAPS spam — the classic web-crawl
# rejects).  LITERALS ON PURPOSE: the fitted coefficients are a
# deterministic function of this list alone (no corpus dependence, no
# sf dependence), so they can be baked into query plans and SQL
# oracles as constants and re-derived by any auditor via
# :func:`train_quality_classifier`.
QUALITY_SEED: list[tuple[str, int]] = [
    ("the committee reviewed the proposal in detail and concluded that "
     "it would benefit the region for years to come", 1),
    ("a gentle rain fell over the valley in the early morning and the "
     "farmers welcomed it after a long dry season", 1),
    ("the study shows that regular exercise is associated with better "
     "sleep and a measurable improvement in mood for most adults", 1),
    ("she explained that the bridge was built in 1912 and that it "
     "remains the main crossing for traffic to the northern districts", 1),
    ("the recipe calls for two cups of flour and a pinch of salt and it "
     "is important to fold the batter gently", 1),
    ("in the final chapter the author returns to the question of memory "
     "and argues that forgetting is essential to a healthy mind", 1),
    ("the museum opened a new wing dedicated to the history of printing "
     "and it has already drawn record crowds this spring", 1),
    ("a fair tax system is one that balances the needs of the state "
     "with the burden it places on working families", 1),
    ("the engineers tested the turbine for a week and found that it "
     "performed well beyond the targets set for efficiency", 1),
    ("he walked to the harbor every evening to watch the boats return "
     "and to listen to the gulls argue over the catch", 1),
    ("the court ruled that the contract was valid and that the supplier "
     "is entitled to payment for the goods it delivered", 1),
    ("over the past decade the village has invested in schools and "
     "roads and it now attracts young families from the city", 1),
    ("HOME | ABOUT | CONTACT | LOGIN | REGISTER | FAQ | SITEMAP", 0),
    ("$$$ WIN NOW!!! CLICK >>> HERE <<< FREE!!! $$$", 0),
    ("buy cheap pills best price cheap pills discount pills cheap "
     "cheap cheap", 0),
    ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
     "eiusmod tempor", 0),
    ("404 ERROR :: PAGE NOT FOUND :: /var/www/html/index.php", 0),
    ("#!@*%&^ ~~ ++ == || >> << {} [] () ;; :: ..", 0),
    ("casino poker slots jackpot bonus casino poker slots jackpot "
     "bonus casino", 0),
    ("xK9fQ2 zzzzz qwertyuiop asdfghjkl 77777 aaaaaa bbbbbb", 0),
    ("SUBSCRIBE NOW!!! LIMITED OFFER!!! ACT FAST!!! DON'T WAIT!!!", 0),
    ("copyright 2019 all rights reserved privacy policy terms "
     "conditions cookies", 0),
    ("item1,item2,item3,item4,item5,item6,item7,item8,item9,item10", 0),
    ("best seo services top ranking google first page guaranteed "
     "backlinks seo seo", 0),
]


def train_quality_classifier(spark, reg: float = 0.1, iters: int = 8,
                             seed: list[tuple[str, int]] | None = None,
                             engine: str = "arrow") -> dict:
    """Fit the quality head on :data:`QUALITY_SEED` (or a caller
    seed) with the engine's own distributed IRLS — featurize with
    :func:`classifier_features`, train via
    :func:`~filters_spark.functions.projection.logistic_fit`.
    Returns logistic_fit's dict.  On the planted seed this is fully
    deterministic (literal inputs, exact DECIMAL Gram sums, fixed
    iteration count), which is what lets the gates bake the rounded
    coefficients as plan literals; the bake is pinned by
    tests/test_projection.py::TestQualityClassifier."""
    from . import projection

    rows = seed if seed is not None else QUALITY_SEED
    df = spark.createDataFrame(rows, "text string, label int")
    feats = df.select(classifier_features(F.col("text")).alias("x"),
                      "label")
    return projection.logistic_fit(feats, vec_col="x", label_col="label",
                                   dim=QUALITY_FEATURE_DIM, reg=reg,
                                   iters=iters, engine=engine)


def train_hashed_quality_classifier(spark, dim: int = 32,
                                    reg: float = 0.5, iters: int = 8,
                                    seed: list[tuple[str, int]] | None = None,
                                    engine: str = "arrow") -> dict:
    """The fastText-shape twin of :func:`train_quality_classifier`:
    fit the logistic head on HASHED token features
    (:func:`hashing_vectors_dense` — no vocabulary, no feature
    engineering) instead of the 4 interpretable ratios.  Same
    determinism contract (literal seed, exact Gram, fixed
    iterations), so the coefficients bake as micro-unit INTEGER plan
    literals (see :func:`hashed_quality_logit_micro`).  Returns
    logistic_fit's dict plus ``weights_micro``/``bias_micro``
    (round(x·1e6))."""
    from . import projection

    rows = seed if seed is not None else QUALITY_SEED
    df = spark.createDataFrame(
        [(i, t, y) for i, (t, y) in enumerate(rows)],
        "sid long, text string, label int")
    dense = hashing_vectors_dense(df, "sid", "text", dim=dim,
                                  out_col="x")
    feats = dense.join(df.select("sid", "label"), "sid")
    fit = projection.logistic_fit(feats, vec_col="x", label_col="label",
                                  dim=dim, reg=reg, iters=iters,
                                  engine=engine)
    fit["weights_micro"] = [round(w * 1e6) for w in fit["weights"]]
    fit["bias_micro"] = round(fit["intercept"] * 1e6)
    return fit


def hashed_quality_logit_micro(df: DataFrame, weights_micro: list[int],
                               bias_micro: int, id_col: str = "doc_id",
                               text_col: str = "text",
                               sep: str = " ") -> DataFrame:
    """Score documents with a trained hashed-feature head, INTEGER-
    EXACT: logit_micro = Σ_tokens sign(t)·w_micro[bucket(t)] +
    bias_micro — algebraically identical to the bucket-vector dot
    product (Σ_b w_b·Σ_{t∈b} s_t distributes over the integer sum)
    but computed token-level so the WHOLE gate path is BIGINT: no
    float accumulation order exists for engines to disagree on (the
    txt_hashing_features discipline extended through inference).
    Keep decision: logit_micro >= 0 ⇔ sigmoid >= 0.5.

    Returns (id_col, logit_micro long).  Docs with zero tokens are
    ABSENT (left-join against the corpus and coalesce to bias_micro
    if they matter).  Scale shape: ONE shuffle keyed by id with
    map-side combine; the weight table rides the plan as a
    ``dim``-element literal array."""
    dim = len(weights_micro)
    warr = F.lit([int(w) for w in weights_micro])   # true Literal,
    #                               not a per-row dim-child CreateArray
    t = (df.select(F.col(id_col),
                   F.explode(tokens(F.col(text_col), sep)).alias("_t"))
         .where(F.col("_t") != ""))
    h = F.md5(F.col("_t"))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
              % dim).cast("int")
    sign = F.when(F.conv(F.substring(h, 9, 1), 16, 10).cast("long") % 2
                  == 0, F.lit(1)).otherwise(F.lit(-1)).cast("long")
    contrib = sign * F.element_at(warr, bucket + 1)
    return (t.select(F.col(id_col), contrib.alias("_c"))
            .groupBy(id_col)
            .agg((F.sum("_c") + F.lit(int(bias_micro)))
                 .cast("long").alias("logit_micro")))


# Gopher's "has at least 2 of these" stopword requirement (Rae et
# al. 2021, appendix A1.1 — public paper).  Distinct from STOPWORDS
# (the language-ID lists): this is the fixed English quality list.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_flags(col: Column,
                 min_words: int = 50, max_words: int = 100_000,
                 min_word_len: int = 3, max_word_len: int = 10,
                 stopwords: tuple[str, ...] = GOPHER_STOPWORDS,
                 min_stopwords: int = 2,
                 ) -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1)
    as per-document FAIL flags (1 = rule violated), one fused codegen
    projection — the standard pretraining-corpus quality screen
    (reference analog: none; engine/pipeline category per SURVEY §2.9).

    Every threshold is evaluated in EXACT INTEGER arithmetic — a mean
    or ratio bound ``x/n ≥ t`` is rewritten as ``x·d ≥ t·d·n`` over
    integers (e.g. mean word length ≥ 3  ⇔  total_chars ≥ 3·n) — so
    no float division or rounding exists anywhere and the flags are
    bit-identical across engines (the hash-gate discipline: integer
    counts only).  Counting uses length-difference arithmetic
    (occurrences of s = (len(t) − len(replace(t, s, ''))) / len(s),
    an exact multiple) instead of regex extraction; the only
    higher-order function is the alphabetic-word filter (bounded by
    tokens per doc, not corpus size).

    Rules (canonical Gopher bounds as defaults):
      word_count    — n_words outside [min_words, max_words]
      word_len      — mean word length outside [min_word_len, max_word_len]
      symbol_ratio  — (#'#' + #'...') / n_words > 0.1
      bullet_lines  — lines starting '- ' > 90% of lines
      ellipsis_lines— lines ending '...' > 30% of lines
      alpha_words   — words containing a letter < 80% of words
      stopwords     — fewer than min_stopwords distinct ``stopwords``
                      present (defaults: the canonical Gopher list;
                      quality screens tune this per corpus — a corpus
                      whose vocabulary lacks the canonical words would
                      otherwise reject EVERY document, the degenerate
                      screen the composed pipeline gates guard against)
    """
    ln = F.length(col)
    nw = ln - F.length(F.translate(col, " ", "")) + F.lit(1)
    total_chars = ln - (nw - F.lit(1))          # sum of word lengths
    n_lines = ln - F.length(F.translate(col, "\n", "")) + F.lit(1)

    def occurrences(s: str) -> Column:
        # exact multiple of len(s); cast back to long after the
        # (exact) double division
        return ((ln - F.length(F.replace(col, F.lit(s), F.lit(""))))
                / F.lit(len(s))).cast("long")

    hashes = ln - F.length(F.translate(col, "#", ""))
    ellipses = occurrences("...")
    bullets = (F.when(col.startswith("- "), F.lit(1)).otherwise(0)
               + occurrences("\n- "))
    ell_lines = (F.when(col.endswith("..."), F.lit(1)).otherwise(0)
                 + occurrences("...\n"))
    alpha = F.size(F.filter(tokens(col),
                            lambda w: w.rlike("[a-zA-Z]")))
    sw = F.array(*[F.lit(w) for w in stopwords])
    sw_hits = F.size(F.array_intersect(
        F.array_distinct(tokens(F.lower(col))), sw))

    def flag(cond: Column) -> Column:
        return F.when(cond, F.lit(1)).otherwise(F.lit(0))

    return {
        "word_count": flag((nw < min_words) | (nw > max_words)),
        "word_len": flag((total_chars < F.lit(min_word_len) * nw)
                         | (total_chars > F.lit(max_word_len) * nw)),
        # (#symbols)/n_words > 0.1  ⇔  10·#symbols > n_words
        "symbol_ratio": flag(F.lit(10) * (hashes + ellipses) > nw),
        # bullets/lines > 0.9  ⇔  10·bullets > 9·lines
        "bullet_lines": flag(F.lit(10) * bullets > F.lit(9) * n_lines),
        # ellipsis-ending/lines > 0.3  ⇔  10·ell > 3·lines
        "ellipsis_lines": flag(F.lit(10) * ell_lines > F.lit(3) * n_lines),
        # alpha/words < 0.8  ⇔  5·alpha < 4·words
        "alpha_words": flag(F.lit(5) * alpha < F.lit(4) * nw),
        "stopwords": flag(sw_hits < F.lit(min_stopwords)),
    }


def bigram_lm_scores(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al.
    2020 train a KenLM and filter by perplexity; this is the
    engine-native analog): train an add-one-smoothed conditional
    bigram LM on the corpus itself and score every document's
    cross-entropy under it.  Returns (id, n_bigrams, ce) where
    ce = −(1/n)·Σ ln p(w2|w1), p(w2|w1) = (c(w1,w2)+1)/(c(w1,·)+V),
    V = the outcome vocabulary |{w2}| (distinct next-words — the
    mass add-one smoothing spreads over).

    Plan shape for scale: ONE corpus scan; bigrams are formed
    ARRAY-SIDE — explode(arrays_zip(slice(toks, 1, n−1),
    slice(toks, 2, n−1))) — which is pure codegen collection work in
    the scan projection (slice/arrays_zip are not lambda HOFs), so
    the token stream is never shuffled into a per-doc window sort
    just to pair neighbors (the first cut's lead() window cost a
    62M-row exchange+sort at 2M docs before any real work — cutting
    it measured 460 s → 156.6 s, SCALE.md); the pairs collapse
    straight into a (doc, w1, w2) rollup
    whose map-side combine bounds every later stage by distinct
    bigrams per doc, not tokens.  That rollup is scoped_persist'd
    because it feeds three branches (model counts, vocabulary size,
    scores) — without the barrier Catalyst re-executes the
    scan+explode subtree per branch (measured r3; the reason V is
    defined over the rollup's w2, not the raw token stream, is
    exactly so the second corpus scan disappears).

    The model counts c(w1,w2) and c(w1,·) are GROUPED AGGREGATES
    joined back onto the rollup — deliberately NOT window sums
    partitioned by the bigram: a corpus-common bigram ('of the' in
    every document) puts all its rollup rows into a single window
    partition task, and AQE splits skewed JOINS, not window
    partitions (the duplicate_spans lesson, ADVICE r4) — the join
    form is skew-splittable and measured 1.4× faster at 2M docs
    (626 s → 460 s; with array-side pairing on top, 156.6 s total —
    4× over the first cut, SCALE.md).  c(w1,·) aggregates the
    already-collapsed bigram-count table, so it is vocabulary-sized
    work, and the vocabulary size joins as a broadcast 1-row frame.
    Python never touches a row.

    The ce column is a double built from sums of ln() terms — per
    the gate discipline it must never be hash-compared or finely
    rounded; gates bucket it coarsely (see txt_lm_perplexity) or
    threshold it."""
    from ._cache import scoped_persist

    arr = tokens(F.col(text_col))
    n = F.size(arr)
    pairs = F.arrays_zip(
        F.slice(arr, F.lit(1), n - F.lit(1)).alias("_w"),
        F.slice(arr, F.lit(2), n - F.lit(1)).alias("_w2"))
    big = (df.where(n >= 2)
           .select(F.col(id_col).alias("_id"), F.explode(pairs).alias("_p"))
           .select("_id", F.col("_p._w").alias("_w"),
                   F.col("_p._w2").alias("_w2")))
    dt = big.groupBy("_id", "_w", "_w2").agg(F.count(F.lit(1)).alias("_tf"))
    dt = scoped_persist(dt, "bigram_lm")
    vocab = dt.groupBy().agg(F.count_distinct("_w2").alias("_v"))
    bc = dt.groupBy("_w", "_w2").agg(F.sum("_tf").alias("_cb"))
    cu = bc.groupBy("_w").agg(F.sum("_cb").alias("_cu"))
    scored = (dt
              .join(bc, ["_w", "_w2"])
              .join(cu, ["_w"])
              .join(F.broadcast(vocab.alias("r")))
              .groupBy("_id")
              .agg(F.sum("_tf").cast("bigint").alias("n_bigrams"),
                   F.sum(F.col("_tf")
                         * F.log((F.col("_cu") + F.col("r._v"))
                                 / (F.col("_cb") + F.lit(1.0))))
                   .alias("_ce_sum")))
    return scored.select(
        F.col("_id").alias(id_col),
        "n_bigrams",
        (F.col("_ce_sum") / F.col("n_bigrams")).alias("ce"),
    )


def fingerprint(col: Column, normalized: bool = True) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lowercased text.  md5 is used (not
    xxhash64) so the DuckDB oracle computes the identical value."""
    c = col
    if normalized:
        c = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return F.md5(c)


def lang_scores(col: Column, sep: str = " ") -> list[tuple[str, Column]]:
    toks = F.array_distinct(tokens(F.lower(col), sep))
    out = []
    for lang, words in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        out.append((lang, F.size(F.array_intersect(toks, sw))))
    return out


def lang_id(col: Column, sep: str = " ") -> Column:
    """Stopword-overlap language ID: argmax over per-language hit
    counts; 'und' when nothing matches.  greatest()-based so the whole
    classifier is one codegen'd expression."""
    scores = lang_scores(col, sep)
    best = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # iterate reversed so earlier languages win ties (stable order)
    for lang, s in reversed(scores):
        out = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(out)
    return out


def _gram_hashes(df: DataFrame, id_col: str, text_col: str, k: int,
                 base: int, mod: int) -> DataFrame:
    """Shared k-gram hashing stage for the fingerprint family:
    posexplode tokens → codegen'd md5-prefix hash per token (HOF-free,
    the measured fast path) → k−1 ``lead()`` window steps per doc →
    polynomial hash ``Σ h_i·B^(k−1−i) mod M``.  All arithmetic stays
    below 2^62 (h < 2^31 after mod, coefficients pre-reduced mod M) so
    int64 never overflows — the same literals replay in any SQL
    engine (see queries._gram_cte, the oracle twin).

    Returns (id_col, _p, _h, _hg) with ``_hg`` NULL on the trailing
    positions that lack a full k-gram.
    """
    from pyspark.sql import Window

    coef = [pow(base, k - 1 - i, mod) for i in range(k)]
    ex = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("_p", "_tok"),
    )
    hashed = ex.withColumn(
        "_h",
        F.conv(F.substring(F.md5("_tok"), 1, 8), 16, 10).cast("long") % mod,
    )
    w = Window.partitionBy(id_col).orderBy("_p")
    leads = [F.col("_h")] + [
        F.lead("_h", i).over(w).alias(f"_h{i}") for i in range(1, k)
    ]
    grams = hashed.select(F.col(id_col), F.col("_p"), *leads)
    terms = [(F.col("_h") if i == 0 else F.col(f"_h{i}")) * coef[i] % mod
             for i in range(k)]
    poly = terms[0]
    for t in terms[1:]:
        poly = poly + t
    complete = F.lit(True)
    for i in range(1, k):
        complete = complete & F.col(f"_h{i}").isNotNull()
    return grams.select(
        F.col(id_col), F.col("_p"), F.col("_h"),
        F.when(complete, poly % mod).alias("_hg"),
    )


def rolling_fingerprint(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        base: int = 1_000_003,
                        mod: int = (1 << 31) - 1) -> DataFrame:
    """Winnowing-style document fingerprint from ROLLING k-gram
    hashes: the document's fingerprint is the MINIMUM polynomial
    k-gram hash — the min-sampling step of the winnowing scheme
    (Schleimer/Wilkerson/Aiken, SIGMOD'03); order-sensitive, unlike
    token-set jaccard.  Docs shorter than k tokens fall back to the
    min token hash.  Hashing pipeline shared with
    :func:`winnow_sketch` via ``_gram_hashes``.

    Returns (id_col, fingerprint, n_grams).
    """
    grams = _gram_hashes(df, id_col, text_col, k, base, mod)
    return grams.groupBy(id_col).agg(
        F.coalesce(F.min("_hg"), F.min("_h")).alias("fingerprint"),
        F.count("_hg").alias("n_grams"),
    )


def winnow_sketch(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3, w: int = 4,
                  base: int = 1_000_003,
                  mod: int = (1 << 31) - 1) -> DataFrame:
    """Full winnowing sketch (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    the DISTINCT set of per-window minima over sliding windows of
    ``w`` consecutive k-gram hashes — guarantees any shared substring
    of length ≥ k + w − 1 tokens contributes a common fingerprint, so
    two documents' sketch overlap lower-bounds their shared passages
    (:func:`rolling_fingerprint` keeps only the global minimum — one
    value per doc; this keeps the whole sketch).

    Same ``_gram_hashes`` plan plus ONE more frame aggregation (min
    over ROWS [0, w−1]) — still a single shuffle on the doc id reused
    by every window step.  Trailing windows shorter than ``w`` are
    included (frame semantics at the partition edge), identically in
    any SQL engine replaying the same frame.  Docs shorter than k
    tokens have no grams and are absent from the sketch.

    Returns distinct (id_col, fp) rows.
    """
    from pyspark.sql import Window

    grams = _gram_hashes(df, id_col, text_col, k, base, mod).where(
        F.col("_hg").isNotNull()
    )
    frame = (
        Window.partitionBy(id_col).orderBy("_p").rowsBetween(0, w - 1)
    )
    return (
        grams.select(F.col(id_col), F.min("_hg").over(frame).alias("fp"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Repetition-based quality filters (Gopher-style; Rae et al. 2021 §A1.1)
# ---------------------------------------------------------------------------

def line_repetition_stats(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          sep: str = "\n") -> DataFrame:
    """Per-document duplicate-line statistics (Gopher repetition
    signals; with ``sep=' '`` the same machinery yields duplicate-WORD
    fractions for corpora without line structure).

    * ``dup_line_frac`` — (total − distinct) / total segments: the
      fraction of segments that are repeats of an earlier-seen one.
    * ``dup_line_char_frac`` — characters inside those repeated
      occurrences / total segment characters.

    Plan: explode segments → groupBy(id, segment) count → groupBy(id)
    — two aggregations sharing the id-prefixed key, no joins; at
    100 TB the shuffle carries (id, segment-hash-sized) rows only.
    Empty segments (from consecutive separators) count like any
    other; documents with no text yield fraction 0 via the guarded
    division.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    seg = df.repartition(par, id_col).select(
        F.col(id_col),
        # re.escape: F.split's pattern is a regex, the separator is a
        # literal (same contract as tokens()).  Segments are counted
        # by xxhash64 (8-byte shuffle keys; same contract as the
        # hashed-gram rewrite above) with lengths carried separately.
        F.explode(F.split(F.col(text_col), re.escape(sep))).alias("_seg"),
    ).select(
        F.col(id_col), F.xxhash64("_seg").alias("_sh"),
        F.length("_seg").alias("_sl"),
    )
    per_seg = seg.groupBy(id_col, "_sh").agg(
        F.count(F.lit(1)).alias("_cnt"), F.first("_sl").alias("_sl"))
    n_tot = F.sum("_cnt")
    n_dis = F.count(F.lit(1))
    chars_tot = F.sum(F.col("_cnt") * F.col("_sl"))
    chars_dup = F.sum((F.col("_cnt") - 1) * F.col("_sl"))
    return per_seg.groupBy(id_col).agg(
        F.when(n_tot > 0, (n_tot - n_dis) / n_tot).otherwise(F.lit(0.0))
        .alias("dup_line_frac"),
        F.when(chars_tot > 0, chars_dup / chars_tot).otherwise(F.lit(0.0))
        .alias("dup_line_char_frac"),
    )


def ngram_repetition_stats(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", n: int = 2,
                           sep: str = " ") -> DataFrame:
    """Per-document duplicated-n-gram character coverage (the Gopher
    top-/dup-n-gram filters).

    * ``top_ngram_char_frac`` — characters covered by the single
      most-covering DUPLICATED n-gram (count × gram length, count ≥ 2)
      over the document's character count.
    * ``dup_ngram_char_frac`` — the same summed over every duplicated
      n-gram.  Overlapping grams double-count, so the value is capped
      at 1.0 — the cap applies identically in the SQL oracle.

    Grams are counted by their xxhash64 (8-byte shuffle keys), never
    materialized as strings — gram equality is all the counts need,
    and the gram's character length is computed arithmetically from
    the token lengths (Σ|tok| + (n−1)·|sep|).  Measured at 2M docs:
    37.3 s (string grams) → 12.1 s — the string concat + wide shuffle
    keys were the dominant cost.  The pre-explode id repartition is
    the single-input-split fix shingle_rows documents.  The lead()
    window composition stays (HOF-free); the only shuffle keys are
    the doc id (window) and (id, gram-hash) (count), both id-prefixed
    so one partitioning serves all stages.
    """
    from pyspark.sql import Window

    par = df.sparkSession.sparkContext.defaultParallelism
    ex = df.repartition(par, id_col).select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("_nc"),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias("_p", "_tok"),
    ).select(
        F.col(id_col), F.col("_nc"), F.col("_p"),
        F.xxhash64("_tok").alias("_h"), F.length("_tok").alias("_l"),
    )
    w = Window.partitionBy(id_col).orderBy("_p")
    hs = [F.col("_h")] + [F.lead("_h", j).over(w) for j in range(1, n)]
    ls = [F.col("_l")] + [F.lead("_l", j).over(w) for j in range(1, n)]
    last = hs[-1]
    glen = ls[0]
    for l_ in ls[1:]:
        glen = glen + l_
    glen = glen + F.lit((n - 1) * len(sep))
    grams = ex.select(
        F.col(id_col), F.col("_nc"),
        F.xxhash64(*hs).alias("_gh"), glen.alias("_gl"),
        last.isNotNull().alias("_full"),
    ).where(F.col("_full"))
    per_gram = grams.groupBy(id_col, "_nc", "_gh").agg(
        F.count(F.lit(1)).alias("_cnt"), F.first("_gl").alias("_gl"))
    cover = F.when(F.col("_cnt") >= 2, F.col("_cnt") * F.col("_gl")) \
        .otherwise(F.lit(0))
    return per_gram.groupBy(id_col, "_nc").agg(
        F.max(cover).alias("_top"), F.sum(cover).alias("_dup"),
    ).select(
        F.col(id_col),
        F.when(F.col("_nc") > 0, F.least(F.col("_top") / F.col("_nc"), F.lit(1.0)))
        .otherwise(F.lit(0.0)).alias("top_ngram_char_frac"),
        F.when(F.col("_nc") > 0, F.least(F.col("_dup") / F.col("_nc"), F.lit(1.0)))
        .otherwise(F.lit(0.0)).alias("dup_ngram_char_frac"),
    )


def repetition_filter(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      max_dup_line_frac: float = 0.3,
                      max_top_ngram_frac: float = 0.2,
                      max_dup_ngram_frac: float = 0.6,
                      n: int = 2, line_sep: str = "\n") -> DataFrame:
    """Gopher-style repetition gate: joins the two stat frames back
    onto the input and flags documents exceeding any threshold.
    Returns the input columns plus the stats and a ``keep`` boolean —
    callers filter on it (keeping the flag lets a pipeline audit WHY
    documents dropped).
    """
    lines = line_repetition_stats(df, id_col, text_col, line_sep)
    grams = ngram_repetition_stats(df, id_col, text_col, n)
    return (
        df.join(lines, id_col, "left").join(grams, id_col, "left")
        .withColumn(
            "keep",
            (F.coalesce(F.col("dup_line_frac"), F.lit(0.0)) <= max_dup_line_frac)
            & (F.coalesce(F.col("top_ngram_char_frac"), F.lit(0.0))
               <= max_top_ngram_frac)
            & (F.coalesce(F.col("dup_ngram_char_frac"), F.lit(0.0))
               <= max_dup_ngram_frac),
        )
    )


def chunk_documents(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", chunk_tokens: int = 256,
                    overlap: int = 32, sep: str = " ") -> DataFrame:
    """Split documents into overlapping fixed-token chunks (the
    retrieval/embedding prep step: context-window-sized pieces with
    overlap so no span is cut without a covering chunk).

    Chunk starts are ``1, 1+step, …`` with ``step = chunk_tokens −
    overlap``, capped so the final chunk covers the tail; documents
    shorter than one chunk yield exactly one chunk.  Pure codegen:
    ``sequence`` for the starts, ``slice`` (an ordinary expression,
    not a HOF lambda) for the window, one posexplode — no Python, no
    shuffle; at 100 TB chunking fuses into the scan projection that
    feeds the embedding stage.

    Returns (id_col, chunk_id, chunk_text, n_tokens).
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})")
    step = chunk_tokens - overlap
    toks = tokens(F.col(text_col), sep)
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n - overlap, F.lit(1)), F.lit(step))
    ex = df.select(
        F.col(id_col), toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_id", "_start"),
    )
    piece = F.slice(F.col("_toks"), F.col("_start"), chunk_tokens)
    return ex.select(
        F.col(id_col), F.col("chunk_id"),
        F.concat_ws(sep, piece).alias("chunk_text"),
        F.size(piece).alias("n_tokens"),
    )


def repetition_gate(df, id_col: str = "doc_id", text_col: str = "text",
                    max_dup_line_frac: float = 0.85, sep: str = " "):
    """Quality gate keeping documents whose duplicate-segment
    fraction stays under the cap — THE shared stage-1 of the
    curation pipelines (ds_corpus_pipeline_v2/v3 and the scale
    stress all call this one definition, so a threshold or
    semantics change cannot silently diverge them).  Implemented as
    a left-semi join against :func:`line_repetition_stats`."""
    stats = line_repetition_stats(
        df.select(id_col, text_col), id_col, text_col, sep=sep)
    keep = stats.where(
        F.col("dup_line_frac") <= max_dup_line_frac).select(id_col)
    return df.join(keep, id_col, "left_semi")


# Unit separator: WRAPS every BPE symbol in the packed string form —
# each symbol is stored as ␟sym␟ with its own leading AND trailing
# separator (symbols do NOT share separators), so the merge pattern
# ␟a␟␟b␟ can only match at a true symbol boundary.  A trailing-only
# (or shared-separator) form is subtly wrong: 'a␟b␟' also matches
# inside '##xa␟b␟' wherever a symbol merely ENDS with 'a' (the r10
# ADVICE finding), and a shared single separator breaks adjacent
# occurrences ('abab' would merge only the first 'ab').  Symbols
# (substrings of corpus words) must not contain the separator —
# bpe_train filters such words out rather than corrupting merges.
_BPE_SEP = "\x1f"


def _bpe_merge_word(syms: list, a: str, b: str, ab: str) -> list:
    """Greedy left-to-right merge of pair (a, b) in one word — the
    exact semantics of ``replace(sym, '␟a␟␟b␟', '␟ab␟')`` on the
    wrapped packed form (:func:`bpe_apply`, the DuckDB oracles):
    scanning resumes AFTER each replacement, so an odd run 'a a a'
    merges the first pair only."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _collect_fold(wordfreq: DataFrame) -> list[tuple[str, int]]:
    """The (word, freq) fold as a driver list — the trainers' one
    bounded collect (distinct words, not documents)."""
    return [(r["w"], int(r["f"])) for r in wordfreq.collect()]


def _bpe_learn(wordfreq: list, n_merges: int) -> list:
    """Incremental BPE over the folded (word, freq) vocabulary.
    State: per-word symbol lists, a pair→count map, a pair→word-ids
    index, and a lazy-deletion max-heap of (−count, left, right).
    Per merge only the words CONTAINING the merged pair are rewritten
    and only pairs adjacent to the merge site change counts; every
    changed pair is re-pushed and stale heap entries are discarded at
    pop (entry valid iff its count matches the live map).  Tie-break
    (count desc, left, right) is the heap order itself."""
    import heapq
    from collections import defaultdict

    wsyms = [list(w) for w, _f in wordfreq]
    wfreq = [f for _w, f in wordfreq]
    counts: dict = defaultdict(int)
    index: dict = defaultdict(set)
    for wid, syms in enumerate(wsyms):
        f = wfreq[wid]
        for p in zip(syms, syms[1:]):
            counts[p] += f
            index[p].add(wid)
    heap = [(-c, a, b) for (a, b), c in counts.items() if c >= 2]
    heapq.heapify(heap)
    merges: list = []
    for step in range(1, n_merges + 1):
        best = None
        while heap:
            negc, a, b = heapq.heappop(heap)
            if counts.get((a, b), 0) == -negc and -negc >= 2:
                best = (a, b, -negc)
                break
        if best is None:
            break
        a, b, c = best
        merges.append((step, a, b, int(c)))
        ab = a + b
        changed: set = set()
        for wid in index.pop((a, b), ()):
            old = wsyms[wid]
            new = _bpe_merge_word(old, a, b, ab)
            if len(new) == len(old):
                continue                    # stale index entry
            f = wfreq[wid]
            for p in zip(old, old[1:]):
                counts[p] -= f
                changed.add(p)
            for p in zip(new, new[1:]):
                counts[p] += f
                index[p].add(wid)
                changed.add(p)
            wsyms[wid] = new
        counts.pop((a, b), None)
        changed.discard((a, b))
        for p in changed:
            cur = counts.get(p, 0)
            if cur >= 2:
                heapq.heappush(heap, (-cur, p[0], p[1]))
            elif cur <= 0:
                counts.pop(p, None)
    return merges


def bpe_train(df: DataFrame, text_col: str = "text",
              n_merges: int = 10, sep: str = " ",
              max_vocab: int | None = None) -> list[tuple]:
    """Byte-pair-encoding merge training (Sennrich, Haddow & Birch
    2016, ACL "Neural Machine Translation of Rare Words with Subword
    Units"): learn the ``n_merges`` most frequent adjacent-symbol
    merges over the whitespace-pretokenized corpus.  Returns
    ``[(step, left, right, pair_count), ...]`` — the merge table a
    tokenizer applies in order.

    Scale shape — the corpus is read once:

    1. one distributed pass folds the token stream to (word, freq) —
       the classic BPE trick: a pair inside a word occurring f times
       counts f, so training never touches the corpus again;
    2. the fold is collected (distinct words: heavy-tail bounded,
       ~10⁶–10⁷ entries even for web-scale corpora, hard-boundable
       with ``max_vocab`` — keep the top-N word forms by (freq desc,
       word), deterministic; the hapax tail contributes no merge
       above min count 2 in practice);
    3. merges train in-process with the incremental pair-count cache
       (Sennrich's learn_bpe trick, :func:`_bpe_learn`): per-merge
       cost is O(Δ) — only the words containing the merged pair are
       touched — so the Spark job count does not grow with
       ``n_merges`` (SCALE.md §25: 256 merges on 2M docs in 2.8 s).

    Greedy left-to-right merge application is exactly the semantics
    of ``replace(sym, '␟a␟␟b␟', '␟ab␟')`` on the wrapped packed form
    (see _BPE_SEP) — an odd run "a a a" merges the first pair only —
    so :func:`bpe_apply` and the DuckDB oracle replay the table
    byte for byte.  Training stops early if no pair occurs twice.
    The (count desc, left, right) tie-break is a total order (Python
    code-point string order == UTF-8 binary order), so the result is
    deterministic across partitionings and retries."""
    wordfreq = (
        df.select(F.explode(F.split(F.col(text_col), sep)).alias("w"))
        .where((F.col("w") != "") & (~F.col("w").contains(_BPE_SEP)))
        .groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    )
    if max_vocab is not None:
        wordfreq = wordfreq.orderBy(F.col("f").desc(), "w").limit(max_vocab)
    return _bpe_learn(_collect_fold(wordfreq), n_merges)


def bpe_apply(col: Column, merges: list[tuple]) -> Column:
    """Tokenize a text column with a :func:`bpe_train` merge table:
    array<string> of subword tokens.

    The whole text is packed (every char wrapped in its own ``\\x1f``
    pair — see _BPE_SEP) and each merge is ONE codegen'd
    ``replace`` pass in training order — merges can never cross word
    boundaries because the space character is itself a symbol no
    learned merge contains.  Space symbols (and the inter-symbol
    empties the wrapped form produces on split) are dropped from the
    output.  Per document this is n_merges + 2 linear string passes
    — no per-symbol explode, no Python.  Precondition: text contains
    no ``\\x1f`` (the same contract bpe_train enforces on its
    vocabulary)."""
    packed = F.regexp_replace(col, "(.)", _BPE_SEP + "$1" + _BPE_SEP)
    for _step, a, b, _c in merges:
        packed = F.replace(
            packed,
            F.lit(_BPE_SEP + a + _BPE_SEP + _BPE_SEP + b + _BPE_SEP),
            F.lit(_BPE_SEP + a + b + _BPE_SEP))
    toks = F.split(packed, _BPE_SEP)
    return F.filter(toks, lambda x: (x != "") & (x != " "))


def _bpe_apply_word(word: str, ranks: dict, pair_of: dict) -> list:
    """Apply a merge table to ONE word with EXACTLY the engine's
    in-order pass semantics (each merge gets one greedy
    left-to-right pass, in training order, never revisited): process
    applicable ranks ascending with a floor — equivalent to the
    n_merges replace() passes, without touching merges the word
    can't contain.  O(len) scans per APPLIED merge instead of one
    pass per TABLE ENTRY — the 32k-merge production path."""
    syms = list(word)
    floor = 0
    while True:
        best = None
        for p in zip(syms, syms[1:]):
            r = ranks.get(p)
            if r is not None and r >= floor and (best is None
                                                 or r < best):
                best = r
        if best is None:
            return syms
        a, b = pair_of[best]
        syms = _bpe_merge_word(syms, a, b, a + b)
        floor = best + 1


def bpe_token_counts(df: DataFrame, merges: list[tuple],
                     text_col: str = "text", sep: str = " ",
                     engine: str = "expr") -> DataFrame:
    """Corpus subword-frequency table under a :func:`bpe_train` merge
    table — the CORPUS-SCALE apply path: fold the token stream to
    (word, freq) once, tokenize each DISTINCT word, explode weighted
    — ``(subword, n bigint)``.  Word-level ≡ document-level because
    merges never cross the space symbol (the equivalence
    ``txt_bpe_tokenize`` pins); the fold is what makes big merge
    tables affordable: :func:`bpe_apply` chains ONE replace
    expression per merge, so a 32k-merge production tokenizer would
    build a 32k-deep plan over every document scan (the SCALE §25
    plan-growth class).

    ``engine='expr'``: the replace chain over the FOLDED vocabulary
    (vocab-sized input — fine to a few hundred merges, fully
    SQL-replayable).  ``engine='arrow'``: one Arrow-batched pass
    applying the table per word via an in-order rank floor
    (:func:`_bpe_apply_word` — byte-identical semantics to the
    replace chain, pytest-pinned), zero per-merge expressions:
    tokenizing under a production-sized table costs one fold + one
    bounded pandas pass + one rollup regardless of table size.
    Same-word exclusions as training (separator-containing words
    dropped)."""
    if engine not in ("expr", "arrow"):
        raise ValueError(
            f"engine must be 'expr' or 'arrow', got {engine!r}")
    wf = (df.select(F.explode(F.split(F.col(text_col), sep))
                    .alias("w"))
          .where((F.col("w") != "") & (~F.col("w").contains(_BPE_SEP)))
          .groupBy("w").agg(F.count(F.lit(1)).alias("f")))
    if engine == "expr":
        toks = bpe_apply(F.col("w"), merges)
        return (wf.select(F.explode(toks).alias("subword"), "f")
                .groupBy("subword")
                .agg(F.sum("f").cast("long").alias("n")))
    import pandas as pd

    ranks = {(a, b): step for step, a, b, *_ in merges}
    pair_of = {step: (a, b) for step, a, b, *_ in merges}

    def run(batches):
        from collections import Counter

        for pdf in batches:
            c: Counter = Counter()
            for w, f in zip(pdf["w"], pdf["f"]):
                for s in _bpe_apply_word(w, ranks, pair_of):
                    c[s] += int(f)
            yield pd.DataFrame(
                {"subword": list(c.keys()),
                 "n": [int(v) for v in c.values()]})

    return (wf.mapInPandas(run, "subword string, n long")
            .groupBy("subword").agg(F.sum("n").cast("long").alias("n")))


def hashing_vectorize(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", dim: int = 256,
                      sep: str = " ", signed: bool = True) -> DataFrame:
    """Feature-hashing (hashing-trick) document vectorizer
    (Weinberger et al. 2009, "Feature Hashing for Large Scale
    Multitask Learning"): each token lands in bucket
    ``md5_prefix(token) % dim`` with a ±1 sign from the next md5 hex
    digit's parity (the signed trick keeps hash collisions unbiased:
    E[⟨φ(a), φ(b)⟩] = ⟨a, b⟩), and per-(doc, bucket) signed counts
    are the sparse vector — the classical featurizer that puts text
    into the embedding stack (cosine/kmeans/kNN/SemDeDup) with NO
    model, NO vocabulary, and NO training pass.

    Returns sparse rows (id_col, bucket int, weight long), weight ≠ 0
    (exact ±1 cancellations are dropped — they are zeros of the
    vector).  INTEGER-exact: the same tokens produce the same rows on
    any engine or partitioning (md5 is engine-portable; the
    ``sampling.hash_bucket`` convention).

    Scale shape: ONE shuffle, keyed (id, bucket), with map-side
    partial aggregation collapsing repeated tokens before it moves;
    no vocabulary broadcast (the point of the trick — a real
    vocabulary on a 100 TB corpus is itself a big-data problem).
    ``signed=False`` gives plain bucket counts (bag-of-buckets).
    """
    t = (df.select(F.col(id_col), F.explode(tokens(F.col(text_col), sep))
                   .alias("_t"))
         .where(F.col("_t") != ""))
    h = F.md5(F.col("_t"))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
              % dim).cast("int")
    if signed:
        w = F.when(F.conv(F.substring(h, 9, 1), 16, 10).cast("long") % 2
                   == 0, F.lit(1)).otherwise(F.lit(-1)).cast("long")
    else:
        w = F.lit(1).cast("long")
    return (t.select(F.col(id_col), bucket.alias("bucket"), w.alias("_w"))
            .groupBy(id_col, "bucket")
            .agg(F.sum("_w").alias("weight"))
            .where(F.col("weight") != 0))


def hashing_vectors_dense(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", dim: int = 256,
                          sep: str = " ", signed: bool = True,
                          out_col: str = "embedding") -> DataFrame:
    """Dense form of :func:`hashing_vectorize`: one row per doc with
    ``out_col`` = array<double> of length ``dim`` — the drop-in input
    for the similarity stack (cosine_topk/kmeans/knn_graph all take
    array columns).  Use only when ``dim`` is small enough that
    n_docs × dim doubles is an acceptable frame (dim ≤ ~4k); at
    larger dim stay sparse.  Docs with NO tokens are absent (their
    vector is all-zero — join back against the corpus if the zero
    vector matters)."""
    sparse = hashing_vectorize(df, id_col, text_col, dim, sep, signed)
    m = (sparse.groupBy(id_col)
         .agg(F.map_from_arrays(F.collect_list("bucket"),
                                F.collect_list("weight")).alias("_m")))
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda b: F.coalesce(
            F.element_at("_m", b.cast("int")).cast("double"), F.lit(0.0)))
    return m.select(F.col(id_col), dense.alias(out_col))


# ---------------------------------------------------------------------------
# Unigram-LM-style tokenizer (VERDICT r8 next #5) — the OTHER
# tokenizer family real pipelines train (SentencePiece; Kudo 2018,
# "Subword Regularization").  Same architecture as the reference
# algorithm — seed a large candidate vocabulary from frequent
# substrings, then iteratively SEGMENT the corpus and PRUNE the
# vocabulary to the pieces the segmentation actually uses — with one
# deliberate semantic delta, stated for parity: the reference scores
# segmentations with log-probability EM/Viterbi (floats — engine-
# and accumulation-order-sensitive), while this trainer uses greedy
# LONGEST-MATCH segmentation and integer usage counts as the prune
# criterion, so training and application are BIGINT-exact end to end
# and the whole loop (seed → segment → prune → re-segment) replays
# in a DuckDB oracle (txt_unigram_tokenize).
#
# Scale shape mirrors bpe_train: ONE corpus pass folds the token
# stream to (word, freq), collected once; the substring seed and
# every segment-then-prune round run in-process over the VOCABULARY
# (distinct words), never the corpus.  Application to a corpus goes
# through the same fold: segment each DISTINCT word once, join back.

def _by_len(vocab: list[str]) -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    for p in vocab:
        out.setdefault(len(p), []).append(p)
    return out


def unigram_segment(col: Column, vocab: list[str],
                    max_piece_len: int = 4) -> Column:
    """Greedy longest-match segmentation of ``col`` against a literal
    piece vocabulary — array<string> of pieces.  At each position the
    longest vocab piece starting there is taken; a character not
    covered by the vocabulary stands as its own piece (char-level
    fallback — total coverage, no UNK).  Pure expression: the vocab
    rides the plan as literal lists keyed by piece length, the scan
    is one ``aggregate`` over ``sequence(1, length)`` (iterations
    bounded by the string length — apply this to FOLDED DISTINCT
    WORDS and join back, never to raw documents; see
    :func:`unigram_token_counts`)."""
    by_len = _by_len([p for p in vocab if len(p) > 1])

    def piece_at(pos: Column) -> Column:
        expr = col.substr(pos, F.lit(1))
        for ln in sorted(by_len):           # longest ends up outermost
            cand = col.substr(pos, F.lit(ln))
            expr = F.when(cand.isin(*by_len[ln]), cand).otherwise(expr)
        return expr

    init = F.struct(F.lit(1).cast("int").alias("pos"),
                    F.array().cast("array<string>").alias("ps"))

    def step(acc, _):
        piece = piece_at(acc["pos"])
        return F.when(acc["pos"] > F.length(col), acc).otherwise(
            F.struct((acc["pos"] + F.length(piece)).cast("int")
                     .alias("pos"),
                     F.concat(acc["ps"], F.array(piece)).alias("ps")))

    return F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.length(col), F.lit(1))),
        init, step)["ps"]


def _wordfreq(df: DataFrame, text_col: str, sep: str) -> DataFrame:
    """The (word, freq) fold, persisted under the ``unigram_fold``
    scope: the trainer and :func:`unigram_token_counts` fold the same
    corpus, so a train→apply pipeline evaluates it once (same plan →
    same semanticHash — the ``wp_fold`` discipline)."""
    from ._cache import scoped_persist

    return scoped_persist(
        df.select(F.explode(F.split(F.col(text_col), sep)).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w").agg(F.count(F.lit(1)).alias("f")),
        "unigram_fold")


def _unigram_loop(wordfreq: list[tuple[str, int]], seed_size: int,
                  vocab_size: int, max_piece_len: int,
                  prune_iters: int) -> list[str]:
    """Trainer core over the collected (word, freq) fold — the
    :func:`bpe_train` boundary: corpus-sized work already happened;
    this is pure vocabulary-sized Python."""
    chars = sorted({c for w, _ in wordfreq for c in w})
    subs: dict[str, int] = {}
    for w, f in wordfreq:
        for ln in range(2, max_piece_len + 1):
            for i in range(len(w) - ln + 1):
                p = w[i:i + ln]
                subs[p] = subs.get(p, 0) + f
    seed = [p for p, _ in sorted(subs.items(),
                                 key=lambda kv: (-kv[1], kv[0]))
            [:seed_size]]
    vocab = sorted(set(chars) | set(seed))

    def segment(w: str, by_len: dict[int, set]) -> list[str]:
        out, pos = [], 0
        while pos < len(w):
            for ln in range(max_piece_len, 1, -1):
                if w[pos:pos + ln] in by_len.get(ln, ()):
                    out.append(w[pos:pos + ln])
                    pos += ln
                    break
            else:
                out.append(w[pos])
                pos += 1
        return out

    for _ in range(prune_iters):
        by_len = {ln: set(ps) for ln, ps in _by_len(
            [p for p in vocab if len(p) > 1]).items()}
        usage: dict[str, int] = {}
        for w, f in wordfreq:
            for p in segment(w, by_len):
                if len(p) > 1:
                    usage[p] = usage.get(p, 0) + f
        kept = [p for p, _ in sorted(usage.items(),
                                     key=lambda kv: (-kv[1], kv[0]))
                [:vocab_size]]
        vocab = sorted(set(chars) | set(kept))
    return vocab


def unigram_train(df: DataFrame, text_col: str = "text",
                  sep: str = " ", seed_size: int = 48,
                  vocab_size: int = 24, max_piece_len: int = 4,
                  prune_iters: int = 2) -> list[str]:
    """Train the unigram-style piece vocabulary (module note above).
    Returns the final vocabulary, sorted — single characters (never
    pruned: they are the coverage floor) plus the top ``vocab_size``
    multi-character pieces by (segmentation usage desc, piece), after
    ``prune_iters`` segment-then-prune rounds over a ``seed_size``
    frequent-substring seed.

    One distributed corpus fold to (word, freq), collected once; the
    seed and every round then run in-process over distinct words
    (:func:`_unigram_loop`), so the Spark job count does not grow
    with ``prune_iters``.  Greedy longest-match semantics equal
    :func:`unigram_segment`'s, and the (usage desc, piece) tie-break
    is a total order."""
    return _unigram_loop(_collect_fold(_wordfreq(df, text_col, sep)),
                         seed_size, vocab_size, max_piece_len, prune_iters)


def unigram_token_counts(df: DataFrame, vocab: list[str],
                         text_col: str = "text", sep: str = " ",
                         max_piece_len: int = 4) -> DataFrame:
    """Corpus piece-frequency table under a trained unigram vocab:
    fold to (word, freq), segment each DISTINCT word once
    (:func:`unigram_segment` — the longest-match expression never
    touches raw documents), explode weighted.  Returns (piece,
    n bigint), n > 0.  One fold shuffle + one vocabulary-sized
    rollup; the fold is the trainer's cached one when it ran first."""
    wf = _wordfreq(df, text_col, sep)
    pieces = unigram_segment(F.col("w"), vocab, max_piece_len)
    return (wf.select(F.explode(pieces).alias("piece"), "f")
            .groupBy("piece").agg(F.sum("f").cast("long").alias("n")))
# LID shape — char-n-gram hashed features -> K one-vs-rest logistic
# heads fit by the engine's own IRLS -> micro-unit INTEGER inference
# (the hashed_quality_logit_micro discipline), so every downstream
# curation op that keys on `lang` has a measured head instead of
# trusting an upstream column.  Training runs on a PLANTED
# multilingual seed (literal sentences below — deterministic fit, so
# gates bake the coefficients as plan literals; the bake is pinned by
# tests/test_projection.py::TestLangId).

#: Training sentences per language — short, lowercase, accent-free
#: (ASCII for the Latin languages) so the head keys on n-gram
#: STATISTICS, not on diacritics an upstream normalizer may strip.
LANG_ID_SEED: tuple[tuple[str, str], ...] = (
    ("the quick brown fox jumps over the lazy dog", "en"),
    ("this is a short english sentence about data", "en"),
    ("where is the nearest train station please", "en"),
    ("i would like a cup of coffee with milk", "en"),
    ("the weather today is sunny and warm", "en"),
    ("children play football in the park every sunday", "en"),
    ("she reads books about history and science", "en"),
    ("good morning everyone and welcome to the meeting", "en"),
    ("el rapido zorro marron salta sobre el perro perezoso", "es"),
    ("esta es una frase corta en espanol sobre datos", "es"),
    ("donde esta la estacion de tren mas cercana por favor", "es"),
    ("me gustaria una taza de cafe con leche", "es"),
    ("el tiempo de hoy es soleado y calido", "es"),
    ("los ninos juegan al futbol en el parque cada domingo", "es"),
    ("ella lee libros de historia y ciencia", "es"),
    ("buenos dias a todos y bienvenidos a la reunion", "es"),
    ("der schnelle braune fuchs springt ueber den faulen hund", "de"),
    ("dies ist ein kurzer deutscher satz ueber daten", "de"),
    ("wo ist der naechste bahnhof bitte", "de"),
    ("ich moechte eine tasse kaffee mit milch", "de"),
    ("das wetter heute ist sonnig und warm", "de"),
    ("kinder spielen jeden sonntag fussball im park", "de"),
    ("sie liest buecher ueber geschichte und wissenschaft", "de"),
    ("guten morgen zusammen und willkommen zur besprechung", "de"),
    ("le rapide renard brun saute par dessus le chien paresseux", "fr"),
    ("ceci est une courte phrase en francais sur les donnees", "fr"),
    ("ou est la gare la plus proche s il vous plait", "fr"),
    ("je voudrais une tasse de cafe avec du lait", "fr"),
    ("le temps aujourd hui est ensoleille et chaud", "fr"),
    ("les enfants jouent au football dans le parc chaque dimanche",
     "fr"),
    ("elle lit des livres d histoire et de science", "fr"),
    ("bonjour a tous et bienvenue a la reunion", "fr"),
    ("今天天气很好我们去"
     "公园散步", "zh"),
    ("我想要一杯加牛奶的"
     "咖啡", "zh"),
    ("请问最近的火车站在"
     "哪里", "zh"),
    ("孩子们每个星期天在"
     "公园里踢足球", "zh"),
    ("她喜欢读历史和科学"
     "方面的书", "zh"),
    ("早上好欢迎大家参加"
     "会议", "zh"),
    ("这是一个关于数据的"
     "简短中文句子", "zh"),
    ("快速的棕色狐狸跳过"
     "了懒惰的狗", "zh"),
)


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Array of overlapping character n-grams (the fastText-LID
    feature).  Strings shorter than ``n`` yield an EMPTY array (never
    a descending sequence — Spark's ``sequence`` counts down when
    start > stop).  Character-based on both engines (Spark
    ``substr`` ↔ DuckDB ``substr``), so multibyte text n-grams
    identically."""
    return F.when(
        F.length(col) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(F.sequence(F.lit(1), F.length(col) - (n - 1)),
                    lambda i: col.substr(i, F.lit(n))))


def _hashed_gram_contrib(dim: int):
    """(bucket, sign) expressions for an exploded n-gram column
    ``_g`` — the hashing_vectorize md5 conventions (first 8 hex chars
    → bucket, 9th hex digit parity → ±1), INTEGER-exact and
    engine-portable."""
    h = F.md5(F.col("_g"))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
              % dim).cast("int")
    sign = F.when(F.conv(F.substring(h, 9, 1), 16, 10).cast("long") % 2
                  == 0, F.lit(1)).otherwise(F.lit(-1)).cast("long")
    return bucket, sign


def hashing_ngram_vectors_dense(df: DataFrame, id_col: str = "doc_id",
                                text_col: str = "text", n: int = 2,
                                dim: int = 256,
                                out_col: str = "x") -> DataFrame:
    """Dense signed char-n-gram hashed vectors — the LID featurizer
    (:func:`hashing_vectors_dense`'s n-gram twin).  Lowercases first
    so the head is case-blind.  Docs with no n-grams (len < n) are
    absent."""
    g = (df.select(F.col(id_col),
                   F.explode(char_ngrams(F.lower(F.col(text_col)), n))
                   .alias("_g")))
    bucket, sign = _hashed_gram_contrib(dim)
    sparse = (g.select(F.col(id_col), bucket.alias("bucket"),
                       sign.alias("_w"))
              .groupBy(id_col, "bucket")
              .agg(F.sum("_w").alias("weight"))
              .where(F.col("weight") != 0))
    m = (sparse.groupBy(id_col)
         .agg(F.map_from_arrays(F.collect_list("bucket"),
                                F.collect_list("weight")).alias("_m")))
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda b: F.coalesce(
            F.element_at("_m", b.cast("int")).cast("double"), F.lit(0.0)))
    return m.select(F.col(id_col), dense.alias(out_col))


def train_lang_id(spark, dim: int = 256, n: int = 2, reg: float = 0.5,
                  iters: int = 8,
                  seed: tuple[tuple[str, str], ...] | None = None,
                  engine: str = "arrow") -> dict:
    """Fit the LID head on :data:`LANG_ID_SEED` (or a caller seed):
    one one-vs-rest logistic head per language over shared hashed
    char-n-gram features, each trained with the engine's own
    distributed IRLS (:func:`~filters_spark.functions.projection.
    logistic_fit` — same determinism contract as the quality heads:
    literal inputs, exact DECIMAL Gram, fixed iterations, so the
    micro-unit coefficients bake as plan literals).  Returns
    ``{"langs", "dim", "n", "weights_micro": {lang: [int]},
    "bias_micro": {lang: int}, "fits": {lang: dict}}``."""
    from . import projection

    rows = seed if seed is not None else LANG_ID_SEED
    df = spark.createDataFrame(
        [(i, t, lg) for i, (t, lg) in enumerate(rows)],
        "sid long, text string, lang string")
    dense = hashing_ngram_vectors_dense(df, "sid", "text", n=n, dim=dim)
    feats = dense.join(df.select("sid", "lang"), "sid")
    out: dict = {"langs": sorted({lg for _, lg in rows}), "dim": dim,
                 "n": n, "weights_micro": {}, "bias_micro": {},
                 "fits": {}}
    for lang in out["langs"]:
        f = feats.select(
            "x", (F.col("lang") == lang).cast("int").alias("label"))
        fit = projection.logistic_fit(f, vec_col="x", label_col="label",
                                      dim=dim, reg=reg, iters=iters,
                                      engine=engine)
        out["weights_micro"][lang] = [round(w * 1e6)
                                      for w in fit["weights"]]
        out["bias_micro"][lang] = round(fit["intercept"] * 1e6)
        out["fits"][lang] = fit
    return out


def lang_id_scores(df: DataFrame, weights_micro: dict,
                   bias_micro: dict,
                   id_col: str | list[str] = "doc_id",
                   text_col: str = "text", n: int = 2) -> DataFrame:
    """Language-ID inference, INTEGER-EXACT: per document, each
    language's logit_micro = Σ_ngrams sign(g)·w_lang[bucket(g)] +
    bias_lang — all K heads computed in ONE grouped aggregate over
    one n-gram explode (the weight tables ride the plan as literal
    arrays), then argmax with a deterministic tie-break
    (lexicographically first language).  BIGINT end to end: no float
    accumulation order exists, so predictions and logit sums are
    hash-safe at any scale.

    Returns ``(id_col, logit_<lang>..., lang_pred, logit_best)``.
    Docs with no n-grams (len < n) are ABSENT — left-join against the
    corpus if they matter (their prediction would be bias-argmax).
    ``id_col`` may be a LIST for composite keys (per-segment scoring
    — :func:`lang_segments`).  Scale shape: one explode + ONE
    map-side-combined shuffle keyed by id; no joins, no
    vocabulary."""
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    langs = sorted(weights_micro)
    dim = len(weights_micro[langs[0]])
    g = (df.select(*[F.col(c) for c in ids],
                   F.explode(char_ngrams(F.lower(F.col(text_col)), n))
                   .alias("_g")))
    bucket, sign = _hashed_gram_contrib(dim)
    contribs = []
    for lang in langs:
        # F.lit(list) is a TRUE Literal — F.array(*lits) would build
        # a 256-child CreateArray expression instead
        warr = F.lit([int(w) for w in weights_micro[lang]])
        contribs.append(
            (sign * F.element_at(warr, bucket + 1)).alias(f"_c_{lang}"))
    per = (g.select(*[F.col(c) for c in ids], *contribs)
           .groupBy(*ids)
           .agg(*[(F.sum(f"_c_{lang}")
                   + F.lit(int(bias_micro[lang])))
                  .cast("long").alias(f"logit_{lang}")
                  for lang in langs]))
    # argmax: struct compare maxes the logit first; on an exact tie
    # the larger -index wins = the lexicographically FIRST language
    structs = [F.struct(F.col(f"logit_{lang}").alias("l"),
                        F.lit(-i).alias("ni"))
               for i, lang in enumerate(langs)]
    best = F.array_max(F.array(*structs))
    lang_arr = F.array(*[F.lit(lang) for lang in langs])
    return per.select(
        *[F.col(c) for c in ids], *[f"logit_{lang}" for lang in langs],
        F.element_at(lang_arr, (-best["ni"]) + 1).alias("lang_pred"),
        best["l"].alias("logit_best"))


# ---------------------------------------------------------------------------
# Encoding repair (the ftfy pass every web-scale corpus runs before
# anything else): double-encoded UTF-8 ("mojibake" — UTF-8 bytes that
# were mis-decoded as cp1252/latin-1, so 'é' reads 'Ã©' and '’' reads
# 'â€™').  Detection is a pure expression; the repair itself is the
# one genuinely Python step (Python's codec machinery IS the
# reference implementation) and runs as an Arrow-batched pandas UDF.

#: Marker characters that lead every UTF-8-as-cp1252 multi-byte
#: sequence: C2-C3 (2-byte seqs: Â Ã) and E2 (3-byte punctuation: â).
MOJIBAKE_MARKERS = ("Ã", "Â", "â")



_HTML_ENTITIES = (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                  ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"),
                  ("&amp;", "&"))


def strip_html(col: Column, decode_entities: bool = True) -> Column:
    """Extract visible text from HTML — the web-corpus ingestion step
    between raw crawl payloads and every quality/dedup op in this
    module: drops ``<script>``/``<style>`` blocks wholesale (their
    content is never prose), strips comments and tags, optionally
    decodes the common named entities, and collapses whitespace.

    Pure JVM expressions (a regexp_replace chain — zero Python, zero
    shuffle: the 100 TB shape is a map over the scan).  The regex
    dialect is deliberately restricted to the Java∩RE2 intersection
    (inline ``(?is)`` flags, non-greedy ``.*?``, character classes —
    NO backreferences, which RE2 lacks) so a DuckDB oracle replays it
    verbatim (``txt_html_strip``).  Entity decoding replaces
    ``&amp;`` LAST, the standard order that keeps ``&amp;lt;`` from
    double-decoding.

    This is regex-based extraction, not an HTML5 parser: pathological
    markup (unclosed ``<`` in running text, CDATA, conditional
    comments) degrades gracefully to over-stripping — the right
    trade at corpus scale, where a DOM parse per document would be a
    per-row Python crossing.  Block-level structure is NOT preserved
    (everything joins with single spaces); use the boilerplate/line
    ops downstream for layout-aware cleanup."""
    c = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    if decode_entities:
        for ent, ch in _HTML_ENTITIES:
            c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))

def mojibake_marker_count(col: Column) -> Column:
    """Occurrences of the classic double-encoding lead bytes — a pure
    length-difference expression (no regex, so no dialect risk): the
    per-doc detection signal that decides whether the repair UDF is
    worth scheduling for a partition of the corpus."""
    c = F.lit(0)
    for m in MOJIBAKE_MARKERS:
        c = c + (F.length(col)
                 - F.length(F.replace(col, F.lit(m), F.lit(""))))
    return c


def fix_mojibake(df: DataFrame, text_col: str = "text",
                 out_col: str | None = None,
                 require_shrink: bool = True,
                 gate_on_markers: bool = False) -> DataFrame:
    """Repair double-encoded UTF-8: re-encode the text through
    cp1252 (strict; latin-1 fallback for the 5 unmapped C1 bytes) and
    re-decode as UTF-8.  A repair is applied only when the full
    decode SUCCEEDS and (``require_shrink``) strictly shortens the
    text — every real multi-byte mojibake sequence collapses, and
    plain ASCII/clean text round-trips to itself, so clean documents
    are never touched.  Adds ``was_fixed`` boolean.

    Scale shape: a zero-shuffle Arrow-batched map.
    ``gate_on_markers=True`` splits on the pure-expression
    :func:`mojibake_marker_count` detector and runs the Python
    repair ONLY over the suspicious slice, unioning the clean
    majority back untouched (a ``when()`` around a pandas UDF does
    NOT reliably skip evaluation — the split-union does).  In a
    modern corpus mojibake is a sub-percent fringe, so this drops
    the Arrow transfer + Python time by ~the clean fraction; a doc
    with NO marker cannot repair (every UTF-8 multi-byte sequence
    mis-decoded through cp1252/latin-1 leads with one), so the gate
    is lossless by construction."""
    import pandas as pd

    out = out_col or text_col
    if gate_on_markers:
        suspicious = df.where(
            mojibake_marker_count(F.col(text_col)) > 0)
        clean = df.where(
            ~(mojibake_marker_count(F.col(text_col)) > 0)
            | F.col(text_col).isNull())
        repaired = fix_mojibake(suspicious, text_col, out_col,
                                require_shrink, gate_on_markers=False)
        passthrough = clean.withColumn(
            "was_fixed", F.when(F.col(text_col).isNull(),
                                F.lit(None).cast("boolean"))
            .otherwise(F.lit(False)))
        if out != text_col:
            passthrough = passthrough.withColumn(out, F.col(text_col))
        return repaired.unionByName(passthrough)

    def _repair(t):
        if t is None:
            return None
        for enc in ("cp1252", "latin-1"):
            try:
                b = t.encode(enc)
            except UnicodeEncodeError:
                continue
            try:
                fixed = b.decode("utf-8")
            except UnicodeDecodeError:
                continue
            if fixed == t:
                return t
            if require_shrink and len(fixed) >= len(t):
                continue
            return fixed
        return t

    def _fix(s):
        return s.map(_repair)

    _fix.__annotations__ = {"s": pd.Series, "return": pd.Series}
    fixer = F.pandas_udf(_fix, "string")
    fixed = fixer(F.col(text_col))
    return (df.withColumn("_fixed", fixed)
            .withColumn("was_fixed", F.col("_fixed") != F.col(text_col))
            .withColumn(out, F.col("_fixed")).drop("_fixed"))


# ---------------------------------------------------------------------------
# WordPiece tokenizer (Schuster & Nakajima 2012; the BERT tokenizer) —
# the third member of the subword trio beside BPE (merge by raw pair
# count) and the unigram-LM trainer (segment-and-prune).  WordPiece
# merges the pair maximizing LIKELIHOOD GAIN, count(ab) /
# (count(a) * count(b)), and applies per-word greedy longest-match
# with '##' continuation markers and whole-word [UNK] fallback.
#
# The '##' marker is used LITERALLY inside the symbols (and the
# oracle's packed symbol strings), which is exact because training
# DROPS words containing '#' (documented contract — the HF display
# format is ambiguous for words that themselves start with '#';
# excluding them makes piece roles unambiguous in Spark and SQL).
# ---------------------------------------------------------------------------

_WP_UNK = "[UNK]"


def _wp_wordfreq(df: DataFrame, text_col: str, sep: str) -> DataFrame:
    return (df.select(F.explode(F.split(F.col(text_col), sep)).alias("w"))
            .where((F.col("w") != "") & (~F.col("w").contains(_BPE_SEP))
                   & (~F.col("w").contains("#")))
            .groupBy("w").agg(F.count(F.lit(1)).alias("f")))


def _wp_strip(piece: str) -> str:
    return piece[2:] if piece.startswith("##") else piece


def _wp_learn(wordfreq: list, n_merges: int) -> list[tuple]:
    """WordPiece trainer over the collected (word, freq) fold.
    Unlike BPE's O(Δ) heap (counts only), the WordPiece score couples
    every pair containing a touched SYMBOL, so this recomputes the
    vocabulary-sized score table per merge — still zero Spark jobs
    after the one corpus fold."""
    wsyms = []
    for w, f in wordfreq:
        wsyms.append(([w[0]] + ["##" + c for c in w[1:]], f))
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        pc: dict = {}
        sc: dict = {}
        for syms, f in wsyms:
            for s in syms:
                sc[s] = sc.get(s, 0) + f
            for p in zip(syms, syms[1:]):
                pc[p] = pc.get(p, 0) + f
        best = None
        for (a, b), c in pc.items():
            if c < 2:
                continue
            score = float(c) / (float(sc[a]) * float(sc[b]))
            key = (-score, a, b)
            if best is None or key < best[0]:
                best = (key, a, b, c, sc[a], sc[b])
        if best is None:
            break
        _, a, b, c, ca, cb = best
        merges.append((step, a, b, int(c), int(ca), int(cb)))
        ab = a + _wp_strip(b)
        wsyms = [(_bpe_merge_word(syms, a, b, ab), f) for syms, f in wsyms]
    return merges


def wordpiece_train(df: DataFrame, text_col: str = "text",
                    n_merges: int = 10, sep: str = " ",
                    max_vocab: int | None = None) -> list[tuple]:
    """Learn ``n_merges`` WordPiece merges.  Returns ``[(step, left,
    right, pair_count, left_count, right_count), ...]`` in HF display
    form ('##'-prefixed continuation symbols) — the integer counts
    are returned instead of the float score so gates stay
    BIGINT-exact (score = pair/(left*right), one correctly-rounded
    IEEE division of exact integers that Python and the DuckDB
    oracle replay identically).

    Same scale shape as :func:`bpe_train`: one corpus fold to
    (word, freq), collected once, then in-process merges
    (:func:`_wp_learn`) ordered by score desc with (left, right)
    tie-breaks, so the Spark job count does not grow with
    ``n_merges``.  Stops early when no pair occurs twice.  Words
    containing '#' or the packing separator are excluded (module
    note); ``max_vocab`` caps the fold as in :func:`bpe_train`."""
    from ._cache import scoped_persist

    wordfreq = _wp_wordfreq(df, text_col, sep)
    if max_vocab is None:
        # the wp_fold scope: wordpiece_vocab and wordpiece_token_counts
        # persist the same fold, so the three calls of a
        # train→vocab→apply pipeline share one cached (word, freq)
        # evaluation (same plan → same semanticHash).
        wordfreq = scoped_persist(wordfreq, "wp_fold")
    else:
        wordfreq = wordfreq.orderBy(F.col("f").desc(), "w").limit(max_vocab)
    return _wp_learn(_collect_fold(wordfreq), n_merges)


def wordpiece_vocab(df: DataFrame, merges: list[tuple],
                    text_col: str = "text", sep: str = " ") -> list[str]:
    """Final WordPiece vocabulary: the corpus alphabet in BOTH roles
    (word-initial chars plain, later chars '##'-marked — one bounded
    distinct collect) plus every merged symbol, sorted.  The
    alphabet is the coverage floor; a character unseen in a role
    sends its whole word to [UNK] at apply time (the BERT
    semantics)."""
    # ONE bounded action for both roles (r12, guide §1.2): the two
    # role alphabets used to be two separate collects, each
    # re-running the corpus fold (Catalyst shares no subtrees across
    # actions) — persist the fold once (the wp_fold scope the
    # trainer already fills) and union the two role projections
    # into a single distinct collect.
    from ._cache import scoped_persist

    wf = scoped_persist(_wp_wordfreq(df, text_col, sep), "wp_fold")
    ich = wf.select(F.col("w").substr(1, 1).alias("p"))
    cch = (wf.select(F.explode(
        F.split(F.col("w").substr(F.lit(2), F.length("w")), ""))
        .alias("c"))
        .where(F.col("c") != "")
        .select(F.concat(F.lit("##"), F.col("c")).alias("p")))
    chars = {r["p"] for r in
             ich.unionByName(cch).distinct().collect()}
    merged = {s[1] + _wp_strip(s[2]) for s in merges}
    return sorted(chars | merged)


def wordpiece_segment(col: Column, vocab: list[str],
                      unk: str = _WP_UNK) -> Column:
    """Greedy longest-match WordPiece segmentation of a WORD column
    against a literal vocabulary: array<string> of pieces ('##'
    continuation form); a position with no match — not even the
    single character — collapses the WHOLE word to ``[unk]`` (the
    BERT rule; char fallback is the unigram tokenizer's contract,
    not this one).  Pure expression over folded DISTINCT words (the
    unigram_segment discipline — join back, never segment raw
    documents)."""
    init_by_len = _by_len([p for p in vocab if not p.startswith("##")])
    cont_stripped = _by_len([p[2:] for p in vocab if p.startswith("##")
                             and len(p) > 2])

    def match_at(pos: Column) -> Column:
        init = F.lit(None).cast("string")
        for ln in sorted(init_by_len):      # longest ends up outermost
            cand = col.substr(pos, F.lit(ln))
            init = F.when(cand.isin(*init_by_len[ln]), cand).otherwise(init)
        cont = F.lit(None).cast("string")
        for ln in sorted(cont_stripped):
            cand = col.substr(pos, F.lit(ln))
            cont = F.when(cand.isin(*cont_stripped[ln]),
                          F.concat(F.lit("##"), cand)).otherwise(cont)
        return F.when(pos == 1, init).otherwise(cont)

    init = F.struct(F.lit(1).cast("int").alias("pos"),
                    F.array().cast("array<string>").alias("ps"),
                    F.lit(False).alias("bad"))

    def step(acc, _):
        piece = match_at(acc["pos"])
        adv = F.when(piece.startswith("##"),
                     F.length(piece) - 2).otherwise(F.length(piece))
        return F.when(acc["bad"] | (acc["pos"] > F.length(col)), acc) \
            .otherwise(F.when(
                piece.isNull(),
                F.struct((F.length(col) + 1).cast("int").alias("pos"),
                         F.array(F.lit(unk)).alias("ps"),
                         F.lit(True).alias("bad")))
                .otherwise(F.struct(
                    (acc["pos"] + adv).cast("int").alias("pos"),
                    F.concat(acc["ps"], F.array(piece)).alias("ps"),
                    F.lit(False).alias("bad"))))

    return F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.length(col), F.lit(1))),
        init, step)["ps"]


def wordpiece_token_counts(df: DataFrame, vocab: list[str],
                           text_col: str = "text", sep: str = " ",
                           unk: str = _WP_UNK) -> DataFrame:
    """Corpus piece-frequency table under a WordPiece vocabulary:
    fold to (word, freq) (same '#'/separator exclusions as
    training), segment each DISTINCT word once, explode weighted.
    Returns (piece, n bigint).  One fold shuffle + one
    vocabulary-sized rollup."""
    from ._cache import scoped_persist

    wf = scoped_persist(_wp_wordfreq(df, text_col, sep), "wp_fold")
    pieces = wordpiece_segment(F.col("w"), vocab, unk=unk)
    return (wf.select(F.explode(pieces).alias("piece"), "f")
            .groupBy("piece").agg(F.sum("f").cast("long").alias("n")))


def lang_segments(df: DataFrame, weights_micro: dict, bias_micro: dict,
                  id_col: str = "doc_id", text_col: str = "text",
                  sep: str = "\n", n: int = 2) -> DataFrame:
    """Per-SEGMENT language identification + per-document mixture
    rollup — the mixed-language quality signal document-level LID
    hides (a half-English half-German page LIDs as whichever half
    wins, and both halves pollute a monolingual training mix).
    Splits each document on ``sep``, scores every non-empty segment
    long enough to carry an n-gram with the baked integer heads
    (:func:`lang_id_scores` on the composite (doc, segment) key),
    and rolls up per document:

    - ``n_segments``: scored segments,
    - ``n_langs``: distinct predicted languages,
    - ``dominant_lang``: most-frequent prediction, ties broken
      lexicographically FIRST (deterministic),
    - ``dominant_segments``: how many segments it won,
    - ``is_mixed``: more than one language present.

    All integer/argmax arithmetic — hash-safe like the heads
    themselves.  Scale shape: one explode to segments, the LID
    explode + one composite-keyed shuffle, one doc-keyed rollup."""
    segs = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep))
        .alias("_si", "_seg")).where(F.col("_seg") != "")
    scored = lang_id_scores(
        segs.select(id_col, "_si", F.col("_seg").alias(text_col)),
        weights_micro, bias_micro, id_col=[id_col, "_si"],
        text_col=text_col, n=n)
    per_lang = (scored.groupBy(id_col, "lang_pred")
                .agg(F.count(F.lit(1)).alias("_c")))
    return per_lang.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_segments"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.min_by("lang_pred",
                 F.struct((-F.col("_c")).alias("c"),
                          F.col("lang_pred").alias("l")))
        .alias("dominant_lang"),
        F.max("_c").cast("long").alias("dominant_segments"),
        (F.count(F.lit(1)) > 1).alias("is_mixed"))


def kn_bigram_scores(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     discount: float = 0.75) -> DataFrame:
    """Interpolated KNESER-NEY bigram scoring (Kneser & Ney 1995;
    Chen & Goodman 1998's interpolated form) — the smoothing the
    actual CCNet/KenLM filter uses, beside
    :func:`bigram_lm_scores`' add-one baseline: absolute-discount
    the observed bigram mass and back off to the CONTINUATION
    unigram (how many distinct contexts a word follows — 'Francisco'
    is frequent but follows only 'San', so its continuation
    probability is tiny; add-one smoothing gets exactly this case
    wrong).

    ``p(w2|w1) = (c(w1,w2) − D)/c(w1) + D·N₊(w1,•)/c(w1) ·
    N₊(•,w2)/N_bigram_types`` — scoring the training corpus itself,
    every scored bigram has c ≥ 1, so with D < 1 the first term is
    positive and nothing needs the unseen-bigram branch.  Returns
    (id, n_bigrams, ce) with ce = −(1/n)·Σ ln p — same float
    contract as bigram_lm_scores: gates bucket it coarsely, never
    hash it.

    Plan shape = bigram_lm_scores' exactly (array-side pairing, one
    scoped-persisted (doc, w1, w2) rollup, GROUPED count tables
    joined back — never bigram-partitioned windows): the KN
    quantities are all derived from the collapsed bigram-count
    table — c(w1,·) and the follower count N₊(w1,•) in ONE per-w1
    aggregate, the continuation count N₊(•,w2) per w2, and the
    bigram-type total as a broadcast 1-row frame — vocabulary-sized
    work on top of the same single corpus scan."""
    from ._cache import scoped_persist

    arr = tokens(F.col(text_col))
    n = F.size(arr)
    pairs = F.arrays_zip(
        F.slice(arr, F.lit(1), n - F.lit(1)).alias("_w"),
        F.slice(arr, F.lit(2), n - F.lit(1)).alias("_w2"))
    big = (df.where(n >= 2)
           .select(F.col(id_col).alias("_id"),
                   F.explode(pairs).alias("_p"))
           .select("_id", F.col("_p._w").alias("_w"),
                   F.col("_p._w2").alias("_w2")))
    dt = big.groupBy("_id", "_w", "_w2").agg(
        F.count(F.lit(1)).alias("_tf"))
    dt = scoped_persist(dt, "kn_lm")
    bc = dt.groupBy("_w", "_w2").agg(F.sum("_tf").alias("_cb"))
    bc = scoped_persist(bc, "kn_lm")
    per_w1 = bc.groupBy("_w").agg(
        F.sum("_cb").alias("_cu"),
        F.count(F.lit(1)).alias("_n1p"))
    per_w2 = bc.groupBy("_w2").agg(F.count(F.lit(1)).alias("_n1c"))
    nb = bc.groupBy().agg(F.count(F.lit(1)).alias("_nb"))
    d_lit = F.lit(float(discount))
    p = ((F.col("_cb") - d_lit) / F.col("_cu")
         + d_lit * F.col("_n1p") / F.col("_cu") * F.col("_n1c")
         / F.col("_nb"))
    scored = (dt
              .join(bc, ["_w", "_w2"])
              .join(per_w1, ["_w"])
              .join(per_w2, ["_w2"])
              .join(F.broadcast(nb))
              .groupBy("_id")
              .agg(F.sum("_tf").cast("bigint").alias("n_bigrams"),
                   F.sum(-F.col("_tf") * F.log(p)).alias("_ce_sum")))
    return scored.select(
        F.col("_id").alias(id_col),
        "n_bigrams",
        (F.col("_ce_sum") / F.col("n_bigrams")).alias("ce"))
