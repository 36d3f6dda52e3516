"""Text-analysis functions for training-data pipelines.

All pure JVM-side column expressions (whole-stage-codegen friendly; no
Python boundary): token counting, quality scoring, language-ID heuristic,
rolling-hash document fingerprinting.  Each has an exact ANSI-SQL
equivalent used for the DuckDB oracle checks in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# tiny embedded stopword lists for the n-gram/stopword language heuristic
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that",
                "for", "on", "with", "as", "this")
DE_STOPWORDS = ("der", "die", "das", "und", "ist", "ein", "eine", "zu",
                "den", "von", "mit", "für", "auf", "nicht")

MOD31 = 2147483647


def words(text: Column) -> Column:
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    """Whitespace token count (the deterministic 'tokenizer')."""
    return F.size(words(text))


def stopword_ratio(text: Column, stopwords=EN_STOPWORDS) -> Column:
    w = words(F.lower(text))
    hits = F.size(F.filter(w, lambda x: x.isin(*stopwords)))
    return hits / F.greatest(F.size(w), F.lit(1))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\p{Punct}]", "")
    return F.length(stripped) / F.greatest(F.length(text), F.lit(1))


def avg_word_len(text: Column) -> Column:
    w = words(text)
    total = F.aggregate(w, F.lit(0).cast("long"),
                        lambda acc, x: acc + F.length(x))
    return total / F.greatest(F.size(w), F.lit(1))


def quality_score(text: Column) -> Column:
    """Cheap composite quality signal: penalize very short docs, very low
    stopword density and heavy punctuation."""
    n = token_count(text)
    len_score = F.least(n / F.lit(50.0), F.lit(1.0))
    sw = stopword_ratio(text)
    sw_score = F.least(sw * F.lit(5.0), F.lit(1.0))
    p_score = F.lit(1.0) - F.least(punct_ratio(text) * F.lit(4.0),
                                   F.lit(1.0))
    return (len_score + sw_score + p_score) / F.lit(3.0)


def lang_id(text: Column) -> Column:
    """Stopword-voting language heuristic: en vs de vs unknown."""
    w = words(F.lower(text))
    en = F.size(F.filter(w, lambda x: x.isin(*EN_STOPWORDS)))
    de = F.size(F.filter(w, lambda x: x.isin(*DE_STOPWORDS)))
    return (
        F.when((en > de) & (en > 0), F.lit("en"))
        .when((de > en) & (de > 0), F.lit("de"))
        .otherwise(F.lit("unknown"))
    )


def fingerprint(text: Column) -> Column:
    """Order-sensitive rolling polynomial hash over word lengths,
    mod 2^31-1 — a cheap, engine-portable document fingerprint."""
    return F.aggregate(
        words(text),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + F.length(x)) % F.lit(MOD31),
    )


# A GPT2-style pre-tokenizer shape, restricted to constructs that parse
# identically in Java regex (Spark) and RE2 (DuckDB): runs of letters,
# runs of digits, runs of other non-space chars (each with an optional
# leading space), or runs of spaces.
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-pre-tokenizer-style segmentation (regex, JVM-side)."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), F.lit(0))


def bpe_ish_token_count(text: Column) -> Column:
    return F.size(bpe_ish_tokens(text))


def normalize_text(text: Column) -> Column:
    """Canonical form for dedup preprocessing: lowercase + collapse runs
    of ASCII whitespace + trim.  The explicit [ \\t\\r\\n] class (not \\s)
    keeps Java-regex and RE2/DuckDB semantics identical."""
    collapsed = F.regexp_replace(F.lower(text), "[ \t\r\n]+", " ")
    return F.trim(collapsed)


# PII patterns restricted to constructs that parse identically in Java
# regex (Spark) and RE2 (DuckDB) — like BPE_ISH_PATTERN above.  Order of
# application matters and is part of the contract: emails first (they
# contain digits and dots), then IPv4, then long digit runs.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_PATTERN = (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b")
LONG_NUMBER_PATTERN = r"[0-9]{9,}"


def pii_counts(text: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_ipv4, n_long_numbers) found in the raw text."""
    def _n(pat):
        return F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))

    return _n(EMAIL_PATTERN), _n(IPV4_PATTERN), _n(LONG_NUMBER_PATTERN)


def pii_scrub(text: Column) -> Column:
    """C4-style PII scrubbing, pure JVM: emails → <EMAIL>, IPv4 →
    <IP>, 9+-digit runs (phone/account/SSN-shaped) → <NUM>.  Replacement
    order is fixed (see pattern comment) so the scrubbed text is
    deterministic and the DuckDB twin (regexp_replace ... 'g') matches
    byte-for-byte."""
    scrubbed = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    scrubbed = F.regexp_replace(scrubbed, IPV4_PATTERN, "<IP>")
    return F.regexp_replace(scrubbed, LONG_NUMBER_PATTERN, "<NUM>")


def word_rarity_stats(df, max_rare_count: int = 2,
                      text_col: str = "text", id_col: str = "doc_id"):
    """Rare-word density per document — the CCNet/C4-family quality
    signal that flags gibberish, boilerplate codes and OCR noise (docs
    dense in words the corpus has barely seen): a word is RARE when its
    corpus-wide count is <= ``max_rare_count``.

    Scale shape: one corpus-words hash aggregation builds the FREQUENT
    set (count > max_rare_count); each doc then counts its frequent
    hits against it and derives n_rare = n_words - n_frequent (joining
    against the huge rare TAIL would shuffle the corpus; this never
    does).  The head join carries NO forced broadcast hint (r5 VERDICT
    item 3): Zipf makes the head small RELATIVELY, but its absolute
    type count grows with the corpus — a 100-TB web corpus has 10^8+
    types above any fixed count floor, past every broadcast budget.
    AQE decides at runtime from the head's measured size: broadcast
    when it fits autoBroadcastJoinThreshold, shuffle join when it
    doesn't — both paths covered by
    test_word_rarity_shuffle_fallback_matches.  All outputs are
    integer/rational (no transcendentals), so the DuckDB oracle is
    bit-exact.

    Returns (id, n_words, n_rare, rare_frac)."""
    w = df.select(F.col(id_col).alias("id"),
                  F.explode(words(F.col(text_col))).alias("wd"))
    frequent = (w.groupBy("wd").agg(F.count(F.lit(1)).alias("c"))
                .where(F.col("c") > max_rare_count).select("wd"))
    n_freq = (w.join(frequent, "wd")
              .groupBy("id").agg(F.count(F.lit(1)).alias("n_freq")))
    totals = df.select(F.col(id_col).alias("id"),
                       token_count(F.col(text_col)).alias("n_words"))
    return (totals.join(n_freq, "id", "left")
            .select(F.col("id").alias(id_col),
                    "n_words",
                    (F.col("n_words")
                     - F.coalesce(F.col("n_freq"), F.lit(0)))
                    .cast("long").alias("n_rare"))
            .withColumn("rare_frac", F.round(
                F.col("n_rare") / F.greatest(F.col("n_words"), F.lit(1)),
                4)))


def unigram_logprob_stats(df, text_col: str = "text",
                          id_col: str = "doc_id"):
    """Per-document mean unigram log-probability against the corpus's
    OWN word-frequency table — the Spark-native analog of the
    CCNet/KenLM perplexity filter (Wenzek et al. 2020): documents whose
    tokens the corpus rarely produces (gibberish, OCR noise, foreign
    fragments) score a low (strongly negative) mean and can be
    threshold-filtered, without shipping an external LM.

    Determinism contract: each DISTINCT word's surprisal
    ln(count/total) is quantized to integer MILLINATS
    (round(ln p × 1000) → BIGINT) before any aggregation, so the only
    floating-point step is one ln per vocabulary TYPE; a last-ulp
    libm difference between the JVM and DuckDB is ~1e-13 of a
    millinat — never enough to flip the integer rounding — and every
    downstream sum/mean is integer/rational, so the oracle is exact.

    Scale shape: the token stream collapses FIRST through a two-level
    (doc, word) hash aggregation (map-side partial — the shuffle
    carries distinct types per doc, never raw tokens); the corpus
    frequency table is one more agg OVER that relation and the corpus
    total a 1-row aggregate over THAT (the only forced broadcast,
    genuinely bounded).  The word-keyed surprisal join then touches
    per-doc TYPES weighted by tf — for natural text severalfold
    smaller than the token stream, and exactly equal in the integer
    result (sum tf·mn == sum of per-token mn).  No broadcast hint on
    it (the vocabulary grows with the corpus, AQE decides).  Returns
    (id, n_words, sum_logprob_mn, mean_logprob_mn)."""
    w = df.select(F.col(id_col).alias("id"),
                  F.explode(words(F.col(text_col))).alias("wd"))
    tf = w.groupBy("id", "wd").agg(F.count(F.lit(1)).alias("tf"))
    # r8: freq aggregates the token stream DIRECTLY (one wd shuffle with
    # map-side partial aggregation instead of the tf->freq two-shuffle
    # chain; SUM(tf) == COUNT(*) exactly, and the oracle's f-CTE counts
    # the same way), and total is a plain count of the token stream
    # (SUM over freq of c == COUNT(w) — drops a full vocabulary shuffle)
    freq = w.groupBy("wd").agg(F.count(F.lit(1)).alias("c"))
    total = w.agg(F.count(F.lit(1)).alias("total"))
    lp = (freq.crossJoin(F.broadcast(total))
          .select("wd",
                  F.round(F.log(F.col("c").cast("double")
                                / F.col("total")) * 1000)
                   .cast("long").alias("mn")))
    per = (tf.join(lp, "wd")
           .groupBy("id")
           .agg(F.sum("tf").alias("n_words"),
                F.sum(F.col("tf") * F.col("mn")).alias("sum_mn")))
    return per.select(
        F.col("id").alias(id_col),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("sum_mn").cast("long").alias("sum_logprob_mn"),
        F.round(F.col("sum_mn") / F.col("n_words"), 4)
         .alias("mean_logprob_mn"))


def remove_boilerplate_lines(df, min_docs: int = 3,
                             text_col: str = "text",
                             id_col: str = "doc_id"):
    """CCNet/Dolma-style boilerplate removal: drop every LINE (newline-
    separated) whose exact content appears in at least ``min_docs``
    DISTINCT documents — navigation chrome, cookie banners and footer
    legalese repeat across pages; body text does not.

    Scale shape: explode lines -> one (line -> distinct-doc count) hash
    aggregation builds the boilerplate set; the occurrence join (NO
    forced broadcast — boilerplate sets grow with the corpus, AQE
    decides) is an INNER join, so only boilerplate occurrences shuffle,
    and they collapse to one dropped-position-set row per affected doc
    (collect_set — bounded by that doc's own line count).  The rebuild
    is a single id-keyed join plus a pure per-row index-aware array
    filter: the full line stream is never shuffled a second time (the
    first cut anti-joined and re-collected every line of the corpus —
    same fix as strip_duplicated_spans).  Pure string/integer ops —
    the DuckDB oracle is exact.

    Returns (id, text, n_lines, n_dropped) with ``text`` rebuilt from
    the surviving lines."""
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n"))
         .alias("pos", "ln"))
    boiler = (lines.groupBy("ln")
              .agg(F.count_distinct("id").alias("nd"))
              .where(F.col("nd") >= min_docs).select("ln"))
    rm = (lines.join(boiler, "ln")
          .groupBy("id")
          .agg(F.collect_set("pos").alias("rm")))
    base = df.select(F.col(id_col).alias("id"),
                     F.split(F.col(text_col), "\n").alias("ls"))
    rm_arr = F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    kept_arr = F.filter(
        "ls", lambda x, i: ~F.array_contains(rm_arr, i))
    return (base.join(rm, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.array_join(kept_arr, "\n").alias(text_col),
                    F.size("ls").cast("long").alias("n_lines"),
                    F.size(rm_arr).cast("long").alias("n_dropped")))


def repetition_stats(df, text_col: str = "text", id_col: str = "doc_id"):
    """Gopher/C4-style repetition signals per document:

      * dup_word_frac   — 1 − distinct words / total words (how much of
                          the doc is repeated vocabulary)
      * top_bigram_frac — occurrences of the most frequent word bigram /
                          total bigrams (boilerplate & template pages
                          score high)

    Published-standard quality filters (Rae et al. 2021 "Gopher" §A1.1;
    C4's repetition heuristics) complementing the stopword/punct/length
    scorer.  Scale shape: explode → two-level hash aggregation — the
    per-(doc, gram) combine is map-side partial, so the shuffle carries
    distinct grams per doc, never raw token streams; no per-row O(n²)
    array scans.  Returns (id, n_words, dup_word_frac, top_bigram_frac).
    """
    w = words(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), w.alias("w"))
    word_stats = base.select(
        "id",
        F.size("w").alias("n_words"),
        F.round(1.0 - F.size(F.array_distinct("w"))
                / F.size("w"), 4).alias("dup_word_frac"))
    bigrams = base.select(
        "id",
        F.explode(F.when(
            F.size("w") >= 2,
            F.transform(F.sequence(F.lit(1), F.size("w") - 1),
                        lambda i: F.concat_ws(
                            " ", F.element_at("w", i),
                            F.element_at("w", i + 1)))
        ).otherwise(F.array())).alias("bg"))
    top = (bigrams.groupBy("id", "bg")
           .agg(F.count(F.lit(1)).alias("c"))
           .groupBy("id")
           .agg(F.max("c").alias("top_c"),
                F.sum("c").alias("total_bg")))
    return (word_stats.join(top, "id", "left")
            .select(F.col("id").alias(id_col), "n_words", "dup_word_frac",
                    F.round(F.coalesce(F.col("top_c") / F.col("total_bg"),
                                       F.lit(0.0)), 4)
                     .alias("top_bigram_frac")))


# Gopher (Rae et al. 2021, §A1.1) required-stopword list — the rule is
# "contains at least 2 of these 8", a cheap English-prose detector.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_stats(df, min_words: int = 50, max_words: int = 100000,
                         text_col: str = "text", id_col: str = "doc_id"):
    """Gopher document-quality rules (Rae et al. 2021 §A1.1) as ONE
    per-row column expression — the doc-level heuristics the repetition
    operator does not cover:

      * word count in [min_words, max_words]
      * mean word length in [3, 10] characters
      * symbol-word ratio (``#`` / ``...`` words) <= 10%
      * >= 80% of words contain an alphabetic character
      * >= 2 distinct GOPHER_STOPWORDS present
      * <= 90% of lines start with a bullet (``-`` / ``*``)
      * <= 30% of lines end with an ellipsis (``...``)

    Every threshold is evaluated in INTEGER cross-multiplied form
    (e.g. ``10 * n_symbol_words <= n_words`` instead of a float ratio
    compare), so the pass flags cannot flip on a last-ulp division
    difference and the DuckDB oracle is exact.

    Scale shape: pure per-row JVM expressions (no join, no shuffle, no
    Python) — whole-stage-codegen over the scan; at 100 TB this is the
    map side of whatever agg or write follows.  Returns the raw counts
    plus ``passes`` so downstream can re-threshold without a rescan."""
    ws = words(F.col(text_col))
    lns = F.split(F.col(text_col), "\n")
    n_words = F.size(ws)
    n_chars_w = F.aggregate(ws, F.lit(0).cast("long"),
                            lambda acc, x: acc + F.length(x))
    n_symbol = F.size(F.filter(
        ws, lambda x: x.contains("#") | x.contains("...")))
    n_alpha = F.size(F.filter(ws, lambda x: x.rlike("[a-zA-Z]")))
    n_stop = F.size(F.array_distinct(F.filter(
        ws, lambda x: F.lower(x).isin(*GOPHER_STOPWORDS))))
    n_lines = F.size(lns)
    n_bullet = F.size(F.filter(
        lns, lambda x: x.startswith("-") | x.startswith("*")))
    n_ellipsis = F.size(F.filter(lns, lambda x: x.endswith("...")))
    c = df.select(
        F.col(id_col).alias("id"),
        n_words.cast("long").alias("n_words"),
        n_chars_w.alias("n_chars_w"),
        n_symbol.cast("long").alias("n_symbol_words"),
        n_alpha.cast("long").alias("n_alpha_words"),
        n_stop.cast("long").alias("n_stop_types"),
        n_lines.cast("long").alias("n_lines"),
        n_bullet.cast("long").alias("n_bullet_lines"),
        n_ellipsis.cast("long").alias("n_ellipsis_lines"))
    passes = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.lit(3) * F.col("n_words") <= F.col("n_chars_w"))
        & (F.col("n_chars_w") <= F.lit(10) * F.col("n_words"))
        & (F.lit(10) * F.col("n_symbol_words") <= F.col("n_words"))
        & (F.lit(10) * F.col("n_alpha_words") >= F.lit(8) * F.col("n_words"))
        & (F.col("n_stop_types") >= 2)
        & (F.lit(10) * F.col("n_bullet_lines") <= F.lit(9) * F.col("n_lines"))
        & (F.lit(10) * F.col("n_ellipsis_lines")
           <= F.lit(3) * F.col("n_lines")))
    return c.select(
        F.col("id").alias(id_col), "n_words", "n_chars_w",
        "n_symbol_words", "n_alpha_words", "n_stop_types", "n_lines",
        "n_bullet_lines", "n_ellipsis_lines",
        passes.cast("long").alias("passes"))


def c4_line_filter(df, min_line_words: int = 5, min_kept_lines: int = 3,
                   text_col: str = "text", id_col: str = "doc_id"):
    """C4 cleaning heuristics (Raffel et al. 2020 §2.2) — line-level
    excision plus document-level veto:

      * keep only lines with >= min_line_words words that end in a
        terminal punctuation mark (``.``, ``!``, ``?``, ``"``) and do
        not mention "javascript" (case-insensitive)
      * veto the whole document if it contains "lorem ipsum"
        (case-insensitive) or a ``{`` anywhere, or keeps fewer than
        min_kept_lines lines

    Unlike remove_boilerplate_lines there is NO cross-document state —
    the rules are per-row, so this is a pure map over the scan (no
    shuffle, no Python; whole-stage codegen).  Filter-rate variety
    comes from the rules, determinism from string/integer ops only.
    Returns (id, text, n_lines, n_kept, doc_kept) where ``text`` is the
    rebuilt doc (kept lines, original order; '' when vetoed) and
    doc_kept is 0/1."""
    lns = F.split(F.col(text_col), "\n")
    keep_line = lambda x: (
        (F.size(F.split(x, " ")) >= min_line_words)
        & (x.endswith(".") | x.endswith("!") | x.endswith("?")
           | x.endswith('"'))
        & ~F.lower(x).contains("javascript"))
    kept_arr = F.filter(lns, keep_line)
    c = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("orig"),
        F.size(lns).cast("long").alias("n_lines"),
        kept_arr.alias("kept_arr"))
    doc_kept = (
        ~F.lower(F.col("orig")).contains("lorem ipsum")
        & ~F.col("orig").contains("{")
        & (F.size("kept_arr") >= min_kept_lines))
    return c.select(
        F.col("id").alias(id_col),
        F.when(doc_kept, F.array_join("kept_arr", "\n"))
         .otherwise(F.lit("")).alias(text_col),
        "n_lines",
        F.size("kept_arr").cast("long").alias("n_kept"),
        doc_kept.cast("long").alias("doc_kept"))


def tfidf_top_terms(df, k: int = 5, text_col: str = "text",
                    id_col: str = "doc_id"):
    """Per-document top-k keywords by TF-IDF against the corpus itself —
    the classic corpus-relative term extractor (Sparck Jones 1972),
    used in curation to tag documents and build topic mixes without an
    external model.

    Determinism contract (same scheme as unigram_logprob_stats): each
    TYPE's idf = ln(n_docs / df) is quantized to integer MILLINATS
    once, the per-(doc, term) score is the fully-integer
    ``tf * idf_mn``, and the top-k cut ranks by (score DESC, term ASC)
    — ties cannot flip across engines.

    Scale shape: tokens collapse through a two-level (doc, term) hash
    agg (map-side partial — the shuffle carries distinct terms per
    doc); document frequency is one more hash agg over THAT relation;
    n_docs is a 1-row broadcast.  The idf join is term-keyed with NO
    broadcast hint (vocabulary grows with the corpus, AQE decides).
    The final top-k is a row_number window partitioned by doc id —
    maximal parallelism, each partition holds one doc's distinct
    terms.  Returns (id, term, tf, idf_mn, score, rank)."""
    from pyspark.sql import Window

    from .dedup import _track

    w = df.select(F.col(id_col).alias("id"),
                  F.explode(words(F.col(text_col))).alias("wd"))
    # r8: tf feeds BOTH the document-frequency agg and the idf join —
    # materialized once (bounded: distinct terms per doc) instead of
    # replaying the corpus explode per consumer
    tf = _track(w.groupBy("id", "wd").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("wd").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(
        F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf = (dfreq.crossJoin(F.broadcast(n_docs))
           .select("wd",
                   F.round(F.log(F.col("n_docs") / F.col("df")) * 1000)
                    .cast("long").alias("idf_mn")))
    scored = (tf.join(idf, "wd")
              .select("id", F.col("wd").alias("term"),
                      F.col("tf").cast("long").alias("tf"), "idf_mn",
                      (F.col("tf") * F.col("idf_mn")).alias("score")))
    win = Window.partitionBy("id").orderBy(
        F.desc("score"), F.asc("term"))
    return (scored
            .withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= k)
            .select(F.col("id").alias(id_col), "term", "tf", "idf_mn",
                    "score", F.col("rank").cast("long").alias("rank")))


def heavy_hitter_words(df, thr_ppm: int = 1000, capacity: int | None = None,
                       text_col: str = "text", id_col: str = "doc_id"):
    """EXACT corpus heavy hitters — every word holding at least
    ``thr_ppm`` parts-per-million of the total token stream — without
    ever shuffling the full vocabulary: the classic two-pass
    candidates-then-recount scheme (Misra & Gries 1982; mergeable
    summaries per Agarwal/Cormode et al. 2012).

    Pass 1 runs a Misra–Gries sketch PER PARTITION inside one
    ``mapInPandas`` (per-batch value_counts merged into a dict, then
    truncated to ``capacity`` survivors by subtracting the
    (capacity+1)-th largest count — the mergeable-summaries batch
    decrement).  MG guarantees any item with partition-local frequency
    > n_p/(capacity+1) survives; a globally thr_ppm-heavy word is at
    least that frequent in SOME partition (averaging argument), so with
    capacity >= 1e6/thr_ppm the candidate union is a SUPERSET of all
    true heavy hitters — order-dependent as a set, but pass 2 makes the
    final output exact and deterministic regardless.

    Pass 2 recounts ONLY the candidates: the token stream probes the
    candidate set (<= capacity x partitions rows) with a broadcast hash
    join whenever the materialized candidate count fits
    ``broadcast_rows`` — so the 100-TB token stream is filtered
    MAP-SIDE and partial aggregation reduces each task to <= |cand|
    rows before the only shuffle.  Without the hint AQE keeps the
    sort-merge plan and, because it materializes BOTH child stages
    before re-deciding the join, the full token stream hits shuffle
    disk first (measured: the 80M-token/22M-type datapoint spends
    ~17 s in that token Exchange; the guarded broadcast removes it).
    Oversized candidate sets (possible only at extreme partition
    counts x capacity) degrade to the AQE join — documented fallback,
    same results.  The threshold compare is integer cross-multiplied
    (1e6*c >= thr_ppm*total), never a float ratio, so the DuckDB
    oracle (a plain GROUP BY ... HAVING over all words) is exact.

    Returns (word, n, ppm) with ppm = floor(1e6*n/total)."""
    from .dedup import _track

    if capacity is None:
        capacity = int(2_000_000 // max(thr_ppm, 1)) + 8
    broadcast_rows = 4_000_000

    def _mg(batches):
        import pandas as pd
        from collections import Counter

        counters: Counter = Counter()
        for pdf in batches:
            texts = pdf["t"].dropna().tolist()
            if not texts:
                continue
            # Single-space split (NOT .split()): must tokenize exactly
            # like words() == F.split(t, " "), empties included, or the
            # MG superset guarantee silently breaks for tab/newline-
            # bearing tokens.  Joining rows with one " " preserves the
            # per-row token stream under that split.  Counter.update on
            # the flat list is ~7x faster than the per-item pandas
            # value_counts loop this replaced (measured 18.0 -> 2.7 s
            # on 80M tokens / 22M types at 24 slots).
            counters.update(" ".join(texts).split(" "))
            if len(counters) > capacity:
                vals = sorted(counters.values(), reverse=True)
                m = vals[capacity]
                counters = Counter(
                    {w: c - m for w, c in counters.items() if c > m})
        yield pd.DataFrame({"wd": list(counters.keys()) or []},
                           dtype="object")

    cand = _track(df.select(F.col(text_col).alias("t"))
                  .mapInPandas(_mg, "wd string").distinct())
    tokens = df.select(F.explode(words(F.col(text_col))).alias("wd"))
    total = df.agg(F.sum(token_count(F.col(text_col)))
                   .cast("long").alias("total"))
    probe = (F.broadcast(cand) if cand.count() <= broadcast_rows
             else cand)
    counts = (tokens.join(probe, "wd")
              .groupBy("wd").agg(F.count(F.lit(1)).alias("n")))
    return (counts.crossJoin(F.broadcast(total))
            .where(F.lit(1_000_000) * F.col("n")
                   >= F.lit(int(thr_ppm)) * F.col("total"))
            .select(F.col("wd").alias("word"),
                    F.col("n").cast("long").alias("n"),
                    # _floor_div, not FLOOR(a/b): the double quotient of
                    # two ~1e10 longs can land within ulp of an integer
                    # and flip the floor vs the oracle's exact integer
                    # division (CLAUDE.md invariant; ADVICE r6).
                    _floor_div(F.lit(1_000_000) * F.col("n"),
                               F.col("total")).alias("ppm")))


def _floor_div(num, den):
    """Exact floor division as pure integer column ops: Spark's % and
    DuckDB's % are both truncated (sign-of-dividend) remainders, so
    ((n % d) + d) % d is the canonical non-negative remainder on BOTH
    engines and (n - that)/d is exactly divisible — no float division,
    no engine-specific // semantics.

    r8 (ADVICE r7): the exactly-divisible quotient is taken with
    Spark's INTEGRAL ``div``, not double division — the previous
    (num - pymod) / den cast('long') rounded the numerator in double
    once it passed 2^53 (heavy_hitter ppm with counts > ~9e9), which
    could land ppm off by one vs the oracle's exact BIGINT ``//``."""
    pymod = ((num % den) + den) % den
    return F.call_function("div", num - pymod, den)


def calibrated_quality_cut(df, keep_ppm: int = 800_000,
                           text_col: str = "text", id_col: str = "doc_id"):
    """Percentile-calibrated quality filter: keep (flag) the top
    ``keep_ppm`` parts-per-million of documents by unigram
    log-probability — the CCNet recipe (Wenzek et al. 2020 cut their
    corpus into perplexity terciles) where the THRESHOLD is computed
    from the corpus's own score distribution instead of hand-tuned.

    The scale problem is the percentile: an exact quantile over 10^11
    docs is a global sort.  This never sorts docs — the per-doc score is
    the INTEGER floor of mean surprisal millinats (``_floor_div`` of
    unigram_logprob_stats sums), whose RANGE is bounded by token
    entropy (~[-20000, 0]) independent of corpus size, so an exact
    histogram is one bounded hash agg; the cumulative walk and
    threshold pick run over that tiny relation, and the verdict joins
    back as a 1-row broadcast.  The scored relation feeds both the
    histogram and the output, so it is persisted through the bounded
    dedup registry (recompute-on-evict safe).

    Threshold contract (exact, oracle-replicable): T = the MAXIMUM
    score s with  #{docs: score >= s} >= ceil(keep_ppm * n_docs / 1e6)
    (integer ceil); every doc with score >= T is kept — ties at T may
    overshoot the target fraction, never undershoot.  Returns
    (id, score, kept) for ALL docs (kept is 0/1) so downstream can
    re-threshold without a rescan."""
    from .dedup import _track

    scored = _track(
        unigram_logprob_stats(df, text_col=text_col, id_col=id_col)
        .select(F.col(id_col).alias("id"),
                _floor_div(F.col("sum_logprob_mn"),
                           F.col("n_words")).alias("score")))
    hist = scored.groupBy("score").agg(F.count(F.lit(1)).alias("c"))
    n_docs = scored.agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window
    cum = (hist.crossJoin(F.broadcast(n_docs))
           .withColumn("cum", F.sum("c").over(
               Window.orderBy(F.desc("score"))
               .rowsBetween(Window.unboundedPreceding, 0))))
    thr = (cum.where(F.lit(1_000_000) * F.col("cum")
                     >= F.lit(int(keep_ppm)) * F.col("n"))
           .agg(F.max("score").alias("thr")))
    return (scored.crossJoin(F.broadcast(thr))
            .select(F.col("id").alias(id_col),
                    F.col("score"),
                    (F.col("score") >= F.col("thr"))
                    .cast("long").alias("kept")))


# Wrapper/sentinel characters for the greedy pair-merge string trick.
# Tokens must not contain them — they are C0 controls no tokenizer
# vocabulary emits; the operator's contract, asserted in tests.
_BPE_OPEN, _BPE_CLOSE, _BPE_MARK = "\x01", "\x02", "\x03"


def bpe_merge_step(df, min_count: int = 2,
                   text_col: str = "text", id_col: str = "doc_id"):
    """ONE training step of byte-pair encoding at word granularity
    (Sennrich et al. 2016): find the corpus's most frequent ADJACENT
    token pair, then greedily merge its non-overlapping occurrences
    left-to-right in every document — the primitive a Spark-native
    tokenizer trainer iterates.

    The greedy-scan semantics ([a,a,a] with pair (a,a) merges ONCE)
    is inherently sequential per document, but it maps exactly onto
    ``replace``: each token is wrapped as \\x01tok\\x02, the pair
    becomes the substring \\x01w1\\x02\\x01w2\\x02, and both Spark's
    ``replace`` and DuckDB's scan left-to-right without rescanning
    replaced output — so (len_before - len_after)/(len_pat - 1) IS the
    greedy merge count, engine-portably.  Pair choice ties break on
    (count DESC, w1 ASC, w2 ASC).

    Scale shape: one adjacent-pair hash agg (map-side partial — the
    shuffle carries distinct pair types, never the token stream), a
    TakeOrdered(1) for the winner, then a pure per-row map with the
    1-row pair broadcast — no second shuffle, no Python.  Returns
    (id, w1, w2, n_tokens, n_merges, n_tokens_after)."""
    ws = words(F.col(text_col))
    pairs = (df.select(F.explode(F.when(
        F.size(ws) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(ws) - 1),
                    lambda i: F.struct(
                        F.element_at(ws, i).alias("w1"),
                        F.element_at(ws, i + 1).alias("w2")))
    ).otherwise(F.array())).alias("p")).select("p.w1", "p.w2")
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_count)
        .orderBy(F.desc("c"), "w1", "w2").limit(1))
    wrapped = F.concat(
        F.lit(_BPE_OPEN),
        F.array_join(ws, _BPE_CLOSE + _BPE_OPEN),
        F.lit(_BPE_CLOSE))
    pat = F.concat(F.lit(_BPE_OPEN), F.col("w1"), F.lit(_BPE_CLOSE),
                   F.lit(_BPE_OPEN), F.col("w2"), F.lit(_BPE_CLOSE))
    merged = F.replace(wrapped, pat, F.lit(_BPE_MARK))
    n_merges = _floor_div(
        F.length(wrapped) - F.length(merged),
        F.length(pat) - F.lit(1))
    return (df.crossJoin(F.broadcast(pairs))
            .select(F.col(id_col).alias(id_col),
                    "w1", "w2",
                    F.size(ws).cast("long").alias("n_tokens"),
                    n_merges.alias("n_merges"),
                    (F.size(ws) - n_merges).cast("long")
                    .alias("n_tokens_after")))


# Joiner for merged BPE symbols (chr(31), the ASCII unit separator):
# distinct from the wrapper chars so merged tokens can themselves be
# merged in later steps.
_BPE_JOIN = "\x1f"


def bpe_train(df, n_steps: int = 3, min_count: int = 2,
              text_col: str = "text", id_col: str = "doc_id",
              checkpoint_every: int = 8):
    """Iterative BPE training at word granularity (Sennrich et al.
    2016): ``n_steps`` rounds of find-top-adjacent-pair +
    greedy-merge-everywhere, the loop a Spark-native tokenizer trainer
    runs to convergence.  Merged symbols join with ``\\x1f`` so they
    participate in later rounds like any other token.

    Iterative-algorithm shape (same pattern as the IVF Lloyd refine):
    each round is ONE pair-type hash aggregation (map-side partial —
    the shuffle carries distinct pair types, never the token stream)
    whose top-1 row — and only that row — is collected to the driver;
    the merge itself is a pure JVM ``replace`` on the wrapped-token
    string (see bpe_merge_step for why replace == the greedy
    left-to-right scan).  The evolving corpus is persisted through the
    bounded dedup registry each round, so round N+1's aggregation reads
    round N's cache instead of replaying the replace chain; every
    ``checkpoint_every`` rounds the corpus is localCheckpoint-ed to
    TRUNCATE lineage — without it the plan is an ever-deepening nested
    replace chain whose re-analysis/codegen OOMs the driver around ~30
    rounds (measured live at 32 merges, 8 g heap), long before any
    data-size limit.

    Returns (merges, tokens_df): ``merges`` a list of
    (step, w1, w2, n_pair) in application order; ``tokens_df`` the
    final (id, tokens array<string>, n_tokens) per document."""
    from .dedup import _track_persist

    sep = _BPE_CLOSE + _BPE_OPEN
    s0 = F.concat(F.lit(_BPE_OPEN),
                  F.array_join(words(F.col(text_col)), sep),
                  F.lit(_BPE_CLOSE))
    cur = df.select(F.col(id_col).alias("id"), s0.alias("s"))
    # Every round re-scans this relation, so it must be as wide as the
    # session: a small fixture arriving as one parquet split would run
    # every pair aggregation single-task.  The widen happens ONCE,
    # feeds the first persist, and is a no-op at real scale where scan
    # splits already exceed session parallelism.
    par = df.sparkSession.sparkContext.defaultParallelism
    if cur.rdd.getNumPartitions() < par:
        cur = cur.repartition(par)
    merges: list = []
    for step in range(n_steps):
        cur = _track_persist(cur)
        toks = F.split(
            F.expr("substring(s, 2, length(s) - 2)"), sep)
        pairs = (cur.select(F.explode(F.when(
            F.size(toks) >= 2,
            F.transform(F.sequence(F.lit(1), F.size(toks) - 1),
                        lambda i: F.struct(
                            F.element_at(toks, i).alias("w1"),
                            F.element_at(toks, i + 1).alias("w2")))
        ).otherwise(F.array())).alias("p")).select("p.w1", "p.w2")
            .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= min_count)
            .orderBy(F.desc("c"), "w1", "w2").limit(1).collect())
        if not pairs:
            break
        w1, w2, c = pairs[0]["w1"], pairs[0]["w2"], pairs[0]["c"]
        pat = _BPE_OPEN + w1 + _BPE_CLOSE + _BPE_OPEN + w2 + _BPE_CLOSE
        rep = _BPE_OPEN + w1 + _BPE_JOIN + w2 + _BPE_CLOSE
        cur = cur.withColumn(
            "s", F.replace(F.col("s"), F.lit(pat), F.lit(rep)))
        merges.append((step, w1, w2, int(c)))
        if checkpoint_every and (step + 1) % checkpoint_every == 0:
            # lineage truncation: values are unchanged, only the plan
            # is cut, so oracles/differentials are unaffected
            cur = cur.localCheckpoint()
    toks = F.split(F.expr("substring(s, 2, length(s) - 2)"), sep)
    out = cur.select(F.col("id").alias(id_col),
                     toks.alias("tokens"),
                     F.size(toks).cast("long").alias("n_tokens"))
    return merges, out


def bpe_train_batched(df, n_rounds: int = 2, batch_max: int = 3,
                      min_count: int = 2, fetch: int | None = None,
                      text_col: str = "text", id_col: str = "doc_id",
                      checkpoint_every: int = 8):
    """Batched BPE training (VERDICT r6 item 2): ``bpe_train``'s
    one-merge-per-Spark-job driver loop is infeasible at a real merge
    budget (~32k merges = 32k sequential jobs), so this trainer selects
    up to ``batch_max`` merges per ROUND — frequency-threshold batching
    in the spirit of Brants et al. 2007's distributed LM estimation —
    cutting driver round-trips by ~batch_max x.

    Round contract (deterministic, oracle-replicable): rank pairs by
    (count DESC, w1, w2), collect the top ``fetch`` (bounded driver
    transfer; default 3*batch_max+8 — the DuckDB twin embeds the SAME
    LIMIT, lockstep rule), then greedily take pairs in rank order,
    skipping any that shares a SYMBOL with an already-taken pair, until
    ``batch_max`` are taken.  Symbol-disjointness makes the batch
    merges independent: merging (a,b) only perturbs counts of pairs
    touching a or b, so every taken pair's count — and the merge result
    itself, in any application order — is exactly its round-start
    value.  Runs exactly ``n_rounds`` rounds (not a merge quota: the
    round count is the unrolled-oracle contract), breaking early only
    when NO pair reaches min_count (corpus then fixed, so remaining
    rounds are provably no-ops).

    NOT exact-BPE-equivalent in general: exact BPE re-ranks after every
    merge, and a pair CREATED by this round's first merge can outrank
    this round's second pick.  With batch_max=1 the selection rule
    degenerates to bpe_train's and the outputs are identical
    (differential-tested); larger batches trade that re-ranking for
    ~batch_max x fewer driver rounds — the standard production trade.

    Scale shape per round: ONE pair-type hash agg (map-side partial),
    one TakeOrdered(fetch) collect, then a pure-JVM chained replace —
    so a 32k-merge vocabulary costs ~32k/batch_max jobs instead of 32k.
    Returns (merges, tokens_df) like bpe_train; merges rows are
    (round, w1, w2, n_pair) in application order."""
    from .dedup import _track_persist

    if fetch is None:
        fetch = 3 * batch_max + 8
    sep = _BPE_CLOSE + _BPE_OPEN
    s0 = F.concat(F.lit(_BPE_OPEN),
                  F.array_join(words(F.col(text_col)), sep),
                  F.lit(_BPE_CLOSE))
    cur = df.select(F.col(id_col).alias("id"), s0.alias("s"))
    par = df.sparkSession.sparkContext.defaultParallelism
    if cur.rdd.getNumPartitions() < par:
        cur = cur.repartition(par)
    merges: list = []
    for rnd in range(int(n_rounds)):
        cur = _track_persist(cur)
        toks = F.split(
            F.expr("substring(s, 2, length(s) - 2)"), sep)
        ranked = (cur.select(F.explode(F.when(
            F.size(toks) >= 2,
            F.transform(F.sequence(F.lit(1), F.size(toks) - 1),
                        lambda i: F.struct(
                            F.element_at(toks, i).alias("w1"),
                            F.element_at(toks, i + 1).alias("w2")))
        ).otherwise(F.array())).alias("p")).select("p.w1", "p.w2")
            .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= min_count)
            .orderBy(F.desc("c"), "w1", "w2").limit(int(fetch))
            .collect())
        used: set = set()
        sel: list = []
        for r in ranked:
            if len(sel) >= batch_max:
                break
            if r["w1"] in used or r["w2"] in used:
                continue
            sel.append((r["w1"], r["w2"], int(r["c"])))
            used.update((r["w1"], r["w2"]))
        if not sel:
            break
        scol = F.col("s")
        for w1, w2, _c in sel:
            pat = (_BPE_OPEN + w1 + _BPE_CLOSE
                   + _BPE_OPEN + w2 + _BPE_CLOSE)
            rep = _BPE_OPEN + w1 + _BPE_JOIN + w2 + _BPE_CLOSE
            scol = F.replace(scol, F.lit(pat), F.lit(rep))
        cur = cur.withColumn("s", scol)
        merges.extend((rnd, w1, w2, c) for w1, w2, c in sel)
        if checkpoint_every and (rnd + 1) % checkpoint_every == 0:
            cur = cur.localCheckpoint()  # truncate lineage (see bpe_train)
    toks = F.split(F.expr("substring(s, 2, length(s) - 2)"), sep)
    out = cur.select(F.col("id").alias(id_col),
                     toks.alias("tokens"),
                     F.size(toks).cast("long").alias("n_tokens"))
    return merges, out


def bigram_pmi_top(df, k: int = 50, min_count: int = 5,
                   text_col: str = "text", id_col: str = "doc_id"):
    """Corpus-wide collocation extraction: top-k adjacent word pairs by
    pointwise mutual information (Church & Hanks 1990) with a minimum
    pair count — the standard phrase detector (word2vec's phrase pass,
    Gensim Phrases) for building tokenizer merge hints or stop-phrase
    lists from the corpus itself.

    Determinism contract: pmi is computed per bigram TYPE as the
    sum-of-logs form  ln(c_xy) + 2 ln(T) − ln(B) − ln(c_x) − ln(c_y)
    (T = token count, B = bigram count; the factored form never
    overflows where c_xy·T² would), quantized to integer millinats;
    the DuckDB twin spells the SAME term order, so float addition is
    bit-identical and ties break on (w1, w2).

    Scale shape: one bigram hash agg (map-side partial — the shuffle
    carries distinct pairs, not the token stream), one unigram hash
    agg, two term-keyed joins with NO broadcast hints (vocabulary
    grows with the corpus, AQE decides), two 1-row broadcast totals,
    and a TakeOrdered top-k (per-partition partial, never a global
    sort).  Returns (w1, w2, n_pair, pmi_mn)."""
    from .dedup import _widen

    ws = words(F.col(text_col))
    df = _widen(df)
    bg = df.select(F.explode(F.when(
        F.size(ws) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(ws) - 1),
                    lambda i: F.struct(
                        F.element_at(ws, i).alias("w1"),
                        F.element_at(ws, i + 1).alias("w2")))
    ).otherwise(F.array())).alias("p")).select("p.w1", "p.w2")
    from .dedup import _track

    # r8: cxy feeds the bigram total AND the scored join; uni feeds the
    # token total AND both unigram joins — each materialized once
    # instead of replaying its corpus explode per consumer
    cxy = _track(bg.groupBy("w1", "w2")
                 .agg(F.count(F.lit(1)).alias("n_pair")))
    uni = _track(df.select(F.explode(ws).alias("w"))
                 .groupBy("w").agg(F.count(F.lit(1)).alias("cu")))
    tot = (uni.agg(F.sum("cu").cast("double").alias("t_tok"))
           .crossJoin(cxy.agg(F.sum("n_pair").cast("double")
                              .alias("t_bg"))))
    scored = (cxy.where(F.col("n_pair") >= min_count)
              .join(uni.withColumnRenamed("w", "w1")
                       .withColumnRenamed("cu", "c1"), "w1")
              .join(uni.withColumnRenamed("w", "w2")
                       .withColumnRenamed("cu", "c2"), "w2")
              .crossJoin(F.broadcast(tot))
              .select("w1", "w2",
                      F.col("n_pair").cast("long").alias("n_pair"),
                      F.round((F.log("n_pair")
                               + F.lit(2.0) * F.log("t_tok")
                               - F.log("t_bg") - F.log("c1")
                               - F.log("c2")) * 1000)
                       .cast("long").alias("pmi_mn")))
    return (scored
            .orderBy(F.desc("pmi_mn"), "w1", "w2")
            .limit(k))


def nb_lang_classifier(df, text_col: str = "text",
                       id_col: str = "doc_id"):
    """Distilled naive-Bayes word classifier: train an add-one-smoothed
    multinomial NB language model ON THE CORPUS'S OWN heuristic labels
    (lang_id's stopword vote) and re-score every document with it — the
    fastText-style distillation step real pipelines use to replace an
    expensive labeling pass with a cheap linear model (Joulin et al.
    2016; CCNet trains its lang/quality filters the same way).  The
    disagreement set (agree = 0) is the interesting output: documents
    whose full word distribution contradicts the stopword vote.

    Determinism contract (same as unigram_logprob_stats): every
    class-conditional log-likelihood ln((c+1)/(tot_c+V)), each class's
    unseen-word default ln(1/(tot_c+V)) and prior ln(n_c/n) is ONE ln,
    quantized to integer millinats (round(ln x * 1000) -> BIGINT)
    before any aggregation; scores are pure integer sums thereafter,
    and prediction ties break (score, lang)-lexicographic via a struct
    max (oracle: ORDER BY score DESC, lang DESC).

    Scale shape: the token stream collapses FIRST through the two-level
    (doc, word) hash aggregation; the model is one more agg over that
    relation keyed (label, word).  Scoring joins the per-doc TYPE
    stream x |classes| (3) against the model with NO broadcast hint
    (the model is vocabulary-sized and grows with the corpus — AQE
    decides, the word_rarity lesson); the classes dim (3 rows: prior,
    unseen-default, denominator) IS broadcast — genuinely bounded.
    Returns (id, label_lang, pred_lang, score_mn, agree)."""
    from .dedup import _track

    labeled = df.select(F.col(id_col).alias("id"),
                        F.col(text_col).alias("t"),
                        lang_id(F.col(text_col)).alias("label"))
    # r8: the per-doc label relation (id+label, no text) materializes
    # once — the stopword vote otherwise re-ran over the corpus for the
    # class priors, the doc total AND the final join; likewise tf (per-
    # doc types) feeds the model build and the scoring stream, and cwc
    # (class-conditional counts) feeds three aggregates.  Corpus passes
    # drop from ~7 to 2.
    labels = _track(labeled.select("id", "label"))
    w = labeled.select("id", "label",
                       F.explode(words(F.col("t"))).alias("wd"))
    tf = _track(w.groupBy("id", "label", "wd")
                .agg(F.count(F.lit(1)).alias("tf")))
    cwc = _track(tf.groupBy("label", "wd").agg(F.sum("tf").alias("c")))
    tot = cwc.groupBy("label").agg(F.sum("c").alias("tot"))
    vocab = cwc.agg(F.count_distinct(F.col("wd")).alias("v"))
    nd = labels.groupBy("label").agg(F.count(F.lit(1)).alias("nd"))
    nall = labels.agg(F.count(F.lit(1)).alias("nall"))
    classes = (nd.join(tot, "label")
               .crossJoin(F.broadcast(vocab))
               .crossJoin(F.broadcast(nall))
               .select(F.col("label").alias("lang"),
                       F.round(F.log(F.col("nd").cast("double")
                                     / F.col("nall")) * 1000)
                        .cast("long").alias("prior_mn"),
                       F.round(F.log(F.lit(1.0)
                                     / (F.col("tot") + F.col("v"))) * 1000)
                        .cast("long").alias("dmn"),
                       (F.col("tot") + F.col("v")).alias("den")))
    model = (cwc.join(classes.select(F.col("lang").alias("label"), "den"),
                      "label")
             .select(F.col("label").alias("lang"), "wd",
                     F.round(F.log((F.col("c") + 1).cast("double")
                                   / F.col("den")) * 1000)
                      .cast("long").alias("mn")))
    dw = tf.select("id", "wd", "tf")
    scored = (dw.crossJoin(F.broadcast(
                  classes.select("lang", "prior_mn", "dmn")))
              .join(model, ["lang", "wd"], "left")
              .groupBy("id", "lang", "prior_mn")
              .agg(F.sum(F.col("tf")
                         * F.coalesce(F.col("mn"), F.col("dmn")))
                   .alias("s"))
              .select("id", "lang",
                      (F.col("prior_mn") + F.col("s")).alias("score_mn")))
    pred = (scored.groupBy("id")
            .agg(F.max(F.struct(F.col("score_mn"), F.col("lang")))
                 .alias("m"))
            .select("id", F.col("m.lang").alias("pred"),
                    F.col("m.score_mn").alias("score_mn")))
    return (labels.join(pred, "id")
            .select(F.col("id").alias(id_col),
                    F.col("label").alias("label_lang"),
                    F.col("pred").alias("pred_lang"),
                    F.col("score_mn").cast("long").alias("score_mn"),
                    (F.col("label") == F.col("pred"))
                     .cast("long").alias("agree")))


def bpe_encode(df, merges, text_col: str = "text", id_col: str = "doc_id"):
    """Apply a trained BPE merge table to the corpus — the inference
    side of bpe_train (Sennrich et al. 2016: train once, encode every
    crawl with the frozen merge list).  ``merges`` is an ordered list of
    (w1, w2) pairs (accepts bpe_train's (step, w1, w2, count) rows too);
    merges apply in LIST ORDER and merged symbols (joined with \\x1f)
    participate in later merges, exactly as during training.

    Scale shape: the merge list is configuration, not data, so the whole
    encode compiles into ONE chained pure-JVM ``replace`` expression
    over the wrapped-token string (see bpe_merge_step for why replace ==
    the greedy left-to-right scan) — no shuffle, no join, no Python; at
    100 TB this is the map side of whatever follows.

    Differential contract (unit-tested): encoding the training corpus
    with bpe_train's own merge list reproduces bpe_train's tokens_df
    byte-for-byte.  Returns (id, tokens array<string>, n_tokens)."""
    sep = _BPE_CLOSE + _BPE_OPEN
    s = F.concat(F.lit(_BPE_OPEN),
                 F.array_join(words(F.col(text_col)), sep),
                 F.lit(_BPE_CLOSE))
    for m in merges:
        w1, w2 = (m[1], m[2]) if len(m) == 4 else (m[0], m[1])
        pat = _BPE_OPEN + w1 + _BPE_CLOSE + _BPE_OPEN + w2 + _BPE_CLOSE
        rep = _BPE_OPEN + w1 + _BPE_JOIN + w2 + _BPE_CLOSE
        s = F.replace(s, F.lit(pat), F.lit(rep))
    staged = df.select(F.col(id_col), s.alias("_bs"))
    toks = F.split(F.expr("substring(_bs, 2, length(_bs) - 2)"), sep)
    return staged.select(F.col(id_col),
                         toks.alias("tokens"),
                         F.size(toks).cast("long").alias("n_tokens"))


def source_kl_divergence(df, text_col: str = "text",
                         id_col: str = "doc_id",
                         source_col: str = "source"):
    """Per-source distribution shift: KL(P_source || P_corpus) over the
    unigram word distributions, the domain-weighting diagnostic a
    mixture designer reads before setting mix_sources ratios (a source
    whose KL is near 0 duplicates the corpus; a high-KL source carries
    distinct vocabulary).

    Determinism contract (millinat lockstep rule): one ln per
    (source, word) TYPE for ln(c_sw/T_s) and one per word TYPE for
    ln(c_w/T), each ROUND(LN(CAST(c AS DOUBLE)/T) * 1000) -> BIGINT;
    KL is then the pure integer sum  SUM(c_sw * (mn_s - mn_c))
    floor-divided (engine-portable ``_floor_div``) by T_s — mean
    millinats per token.  P_source is absolutely continuous w.r.t.
    P_corpus by construction (every source word IS a corpus word), so
    the KL is always finite.

    Scale shape: tokens collapse FIRST through the (source, word) hash
    agg; the corpus side is ONE more agg over that relation; the
    word-keyed re-join carries NO broadcast hint (vocabulary grows with
    the corpus, AQE decides), and the per-source totals join is
    source-keyed with no hint either (web corpora have 10^7+ domains).
    Returns (source, n_tokens, kl_mn)."""
    from .dedup import _track

    w = df.select(F.col(source_col).alias("src"),
                  F.explode(words(F.col(text_col))).alias("wd"))
    # r8: sw feeds the per-source totals, the corpus side AND the final
    # join — materialized once instead of three corpus explodes
    sw = _track(w.groupBy("src", "wd").agg(F.count(F.lit(1)).alias("c")))
    ts = sw.groupBy("src").agg(F.sum("c").alias("tsrc"))
    cw = sw.groupBy("wd").agg(F.sum("c").alias("cw"))
    tot = cw.agg(F.sum("cw").alias("t"))
    corp = (cw.crossJoin(F.broadcast(tot))
            .select("wd",
                    F.round(F.log(F.col("cw").cast("double")
                                  / F.col("t")) * 1000)
                     .cast("long").alias("mn_c")))
    return (sw.join(ts, "src")
            .select("src", "wd", "c",
                    F.round(F.log(F.col("c").cast("double")
                                  / F.col("tsrc")) * 1000)
                     .cast("long").alias("mn_s"))
            .join(corp, "wd")
            .groupBy("src")
            .agg(F.sum("c").alias("n_tokens"),
                 F.sum(F.col("c") * (F.col("mn_s") - F.col("mn_c")))
                  .alias("num"))
            .select(F.col("src").alias(source_col),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    _floor_div(F.col("num"), F.col("n_tokens"))
                    .alias("kl_mn")))


def calibrated_quality_cut_by(df, group_col: str = "source",
                              keep_ppm: int = 800_000,
                              text_col: str = "text",
                              id_col: str = "doc_id"):
    """Stratified percentile calibration: the calibrated_quality_cut
    threshold rule computed PER GROUP (source, language, crawl...) —
    one GLOBAL cut silently over-prunes any stratum whose style
    diverges from the corpus mean, which is why CCNet calibrates its
    perplexity terciles per language bucket (Wenzek et al. 2020); the
    per-group walk keeps the keep fraction inside EVERY stratum.
    Scores stay corpus-global (one shared frequency table), only the
    threshold is stratified.

    Scale shape: identical to the global variant except the bounded
    histogram is keyed (group, score) — still tiny: |groups| × the
    entropy-bounded score range — the cumulative walk is a window over
    that relation partitioned by group, and the per-group thresholds
    join back group-keyed with NO broadcast hint (domain counts grow
    with the corpus, AQE decides).  The group column rides the per-doc
    aggregation keys (functionally dependent on the doc id), so there
    is no extra shuffle versus the global variant.

    Same threshold contract per group: T_g = max score s with
    #{docs in g: score >= s} >= ceil(keep_ppm * n_g / 1e6); ties at
    T_g overshoot, never undershoot.  Returns (id, group, score, kept)
    for ALL docs."""
    from pyspark.sql import Window

    from .dedup import _track

    w = df.select(F.col(id_col).alias("id"),
                  F.col(group_col).alias("grp"),
                  F.explode(words(F.col(text_col))).alias("wd"))
    tf = w.groupBy("id", "grp", "wd").agg(F.count(F.lit(1)).alias("tf"))
    # r8: freq/total straight off the token stream (see
    # unigram_logprob_stats — exact, one shuffle less each)
    freq = w.groupBy("wd").agg(F.count(F.lit(1)).alias("c"))
    total = w.agg(F.count(F.lit(1)).alias("total"))
    lp = (freq.crossJoin(F.broadcast(total))
          .select("wd",
                  F.round(F.log(F.col("c").cast("double")
                                / F.col("total")) * 1000)
                   .cast("long").alias("mn")))
    scored = _track(
        tf.join(lp, "wd")
        .groupBy("id", "grp")
        .agg(F.sum("tf").alias("n_words"),
             F.sum(F.col("tf") * F.col("mn")).alias("sum_mn"))
        .select("id", "grp",
                _floor_div(F.col("sum_mn"),
                           F.col("n_words")).alias("score")))
    hist = scored.groupBy("grp", "score").agg(F.count(F.lit(1)).alias("c"))
    nd = scored.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    cum = (hist.join(nd, "grp")
           .withColumn("cum", F.sum("c").over(
               Window.partitionBy("grp").orderBy(F.desc("score"))
               .rowsBetween(Window.unboundedPreceding, 0))))
    thr = (cum.where(F.lit(1_000_000) * F.col("cum")
                     >= F.lit(int(keep_ppm)) * F.col("n"))
           .groupBy("grp").agg(F.max("score").alias("thr")))
    return (scored.join(thr, "grp")
            .select(F.col("id").alias(id_col),
                    F.col("grp").alias(group_col),
                    F.col("score"),
                    (F.col("score") >= F.col("thr"))
                    .cast("long").alias("kept")))


def dedup_inner_lines(df, text_col: str = "text", id_col: str = "doc_id"):
    """Within-document repeated-line excision: keep only the FIRST
    occurrence of each distinct line inside a document, preserving
    order — the intra-doc complement of remove_boilerplate_lines
    (cross-doc chrome) and strip_duplicated_spans (cross-doc n-grams);
    scraped pages repeat their own nav blocks and listing rows, and
    repeated-line collapse is a standard cleaning pass (C4-style
    dedup at line granularity, Raffel et al. 2020 §2.2 keep one of
    every three-sentence repeat).

    Scale shape: a PURE per-row array expression — no shuffle, no
    join, no cross-doc state, no Python: the first-occurrence test is
    array_position(lines, x) == i inside a single filter lambda, so
    the whole operator is the map side of whatever follows.  The test
    is O(lines²) WITHIN a document — fine for page-sized docs (10³
    lines); for pathological 10⁵-line documents switch to the
    relational MIN(i)-per-line formulation the oracle uses.  Returns
    (id, text, n_dropped)."""
    staged = df.select(F.col(id_col),
                       F.split(F.col(text_col), "\n").alias("_ls"))
    kept = F.expr("filter(_ls, (x, i) -> array_position(_ls, x) = i + 1)")
    return staged.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias(text_col),
        (F.size("_ls") - F.size(kept)).cast("long").alias("n_dropped"))


def mix_ratios_for_targets(df, targets, text_col: str = "text",
                           source_col: str = "source"):
    """Prescriptive mixture solver — the third leg of the mixture
    toolchain (source_kl_divergence DIAGNOSES shift, this PRESCRIBES
    ratios, mix_sources APPLIES them): given token-share targets
    (source, share_ppm), emit the per-source KEEP ratio (ppm) that
    down-samples each over-represented source to its target share of
    the CURRENT corpus token count:  ratio = min(1, target_share * T /
    T_s), integer ppm via the engine-portable floor division.  Sources
    without a target keep everything (ratio 1e6); under-target sources
    saturate at 1e6 — up-sampling is an epoch/repetition choice at
    training time, not a row filter (the mix_sources contract).

    Scale shape: one token-count hash agg per source (map-side
    partial; the shuffle carries one row per source) and a pure
    projection — the target table is configuration and compiles into
    a CASE, nothing joined.  The per-source relation feeds BOTH the
    1-row total and the output, so it persists through the bounded
    dedup registry: ONE corpus scan, not two.  Returns
    (source, n_tokens, ratio_ppm)."""
    from .dedup import _track

    toks = _track(
        df.select(F.col(source_col).alias("src"),
                  token_count(F.col(text_col)).alias("nt"))
        .groupBy("src").agg(F.sum("nt").alias("n_tokens")))
    tot = toks.agg(F.sum("n_tokens").alias("t"))
    target = F.lit(None).cast("long")
    for name, share_ppm in reversed(list(targets)):
        target = (F.when(F.col("src") == name,
                         F.lit(int(share_ppm)).cast("long"))
                  .otherwise(target))
    return (toks.crossJoin(F.broadcast(tot))
            .select(F.col("src").alias(source_col),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.when(target.isNull(), F.lit(1_000_000).cast("long"))
                     .otherwise(F.least(
                         F.lit(1_000_000).cast("long"),
                         _floor_div(target * F.col("t"),
                                    F.col("n_tokens"))))
                     .alias("ratio_ppm")))


# round(ln(0.4) * 1000): the stupid-backoff penalty as a CONSTANT
# integer millinat, embedded identically in the DuckDB twins — the one
# "float" of the backoff path never touches either engine's libm.
BACKOFF_ALPHA_MN = -916


def bigram_backoff_logprob(df, min_count: int = 2,
                           text_col: str = "text",
                           id_col: str = "doc_id"):
    """Per-document mean bigram log-score under a count-pruned stupid-
    backoff LM (Brants et al. 2007 — the web-scale serving trick:
    S(w|v) = c(vw)/c(v) when the bigram survives pruning, else
    0.4 * c(w)/T; no discounting, no normalization, built for exactly
    this kind of MapReduce-style corpus counting).  ``min_count``
    prunes singleton bigrams from the model, so backoff genuinely
    fires even when the LM scores its own training corpus — the
    sharper context-aware sibling of unigram_logprob_stats for
    gibberish/OCR filtering (word salad has plausible unigrams but
    implausible transitions).

    Determinism contract (millinat lockstep): mn_bg = one ln per
    SURVIVING BIGRAM TYPE ln(c_vw/c_v); mn_u = one ln per word type
    ln(c_w/T); the backoff penalty is the integer constant
    BACKOFF_ALPHA_MN (= round(ln .4 * 1000), embedded on both
    engines); per-doc sums are pure integer.  The first token scores
    mn_u (no left context), positions 2..n score mn_bg or
    alpha + mn_u.

    Scale shape: the bigram stream collapses FIRST through the
    (doc, w1, w2) hash agg — note the collapse factor is much weaker
    than the unigram case (within one doc most bigrams are distinct,
    so the shuffle carries close to token-stream volume; map-side
    partial aggregation is what keeps it one pass); the corpus
    bigram/unigram tables are one more agg over those relations; the
    model joins are bigram-/word-keyed with NO broadcast hint (both
    grow with the corpus, AQE decides) and the corpus total is the
    only forced broadcast (one row).  Returns
    (id, n_tokens, n_hits, sum_mn, mean_mn) — n_hits counts positions
    scored by a surviving bigram."""
    ws = words(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), ws.alias("ws"))
    from .dedup import _track

    tfu = (base.select("id", F.explode("ws").alias("wd"))
           .groupBy("id", "wd").agg(F.count(F.lit(1)).alias("tf")))
    # r8: uni feeds the corpus total, the unigram model and the bigram
    # model join — materialized once (vocabulary-sized)
    uni = _track(tfu.groupBy("wd").agg(F.sum("tf").alias("cu")))
    tot = uni.agg(F.sum("cu").alias("t"))
    mnu = (uni.crossJoin(F.broadcast(tot))
           .select("wd",
                   F.round(F.log(F.col("cu").cast("double")
                                 / F.col("t")) * 1000)
                    .cast("long").alias("mn_u")))
    tfb = (base.select("id", F.explode(F.when(
        F.size("ws") >= 2,
        F.transform(F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("ws"), i).alias("w1"),
                        F.element_at(F.col("ws"), i + 1).alias("w2")))
    ).otherwise(F.array())).alias("p")).select("id", "p.w1", "p.w2")
        .groupBy("id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf")))
    # r8: tfb feeds the corpus bigram table AND the scoring join
    tfb = _track(tfb)
    cbg = (tfb.groupBy("w1", "w2").agg(F.sum("tf").alias("cb"))
           .where(F.col("cb") >= int(min_count)))
    mnbg = (cbg.join(uni.select(F.col("wd").alias("w1"),
                                F.col("cu").alias("c1")), "w1")
            .select("w1", "w2",
                    F.round(F.log(F.col("cb").cast("double")
                                  / F.col("c1")) * 1000)
                     .cast("long").alias("mn_bg")))
    sbg = (tfb.join(mnbg, ["w1", "w2"], "left")
           .join(mnu.select(F.col("wd").alias("w2"),
                            F.col("mn_u").alias("mu2")), "w2")
           .groupBy("id")
           .agg(F.sum(F.col("tf") * F.coalesce(
                    F.col("mn_bg"),
                    F.lit(BACKOFF_ALPHA_MN) + F.col("mu2")))
                .alias("s_bg"),
                F.sum(F.when(F.col("mn_bg").isNotNull(), F.col("tf"))
                      .otherwise(F.lit(0))).alias("hits")))
    first = (base.select("id", F.element_at("ws", 1).alias("wd"))
             .join(mnu, "wd")
             .select("id", F.col("mn_u").alias("mn_first")))
    ntok = base.select("id", F.size("ws").cast("long").alias("n_tokens"))
    return (ntok.join(first, "id")
            .join(sbg, "id", "left")
            .select(F.col("id").alias(id_col),
                    "n_tokens",
                    F.coalesce(F.col("hits"), F.lit(0)).cast("long")
                     .alias("n_hits"),
                    (F.col("mn_first") + F.coalesce(F.col("s_bg"),
                                                    F.lit(0)))
                    .cast("long").alias("sum_mn"),
                    F.round((F.col("mn_first")
                             + F.coalesce(F.col("s_bg"), F.lit(0)))
                            / F.col("n_tokens"), 4).alias("mean_mn")))


def zipf_slope(df, top_n: int = 1000, text_col: str = "text",
               id_col: str = "doc_id"):
    """Zipf rank-frequency diagnostic: least-squares slope of
    ln(frequency) against ln(rank) over the top ``top_n`` vocabulary
    head — the one-number corpus-health check (natural language sits
    near -1, Zipf 1949; templated/synthetic corpora flatten toward 0,
    boilerplate-dominated crawls steepen past it), read before and
    after a curation pass to see whether filtering distorted the
    distribution.

    Determinism contract: ONE ln per rank and one per frequency value,
    each quantized to integer millinats; every regression sum
    (Σx, Σy, Σxy, Σx²) is then pure integer, and the slope is a single
    rounded division of two exactly-representable integers (< 2^53 for
    any top_n <= 10^4).  Ranks tie-break (count DESC, word ASC).

    Scale shape: one corpus-word hash agg (map-side partial), a
    TakeOrdered(top_n) partial top-k — never a global vocabulary sort
    — and a single-partition window over the <= top_n surviving rows
    (bounded by construction).  Returns ONE row
    (n_types, sx, sy, sxy, sxx, slope)."""
    from pyspark.sql import Window

    uni = (df.select(F.explode(words(F.col(text_col))).alias("wd"))
           .groupBy("wd").agg(F.count(F.lit(1)).alias("n")))
    top = uni.orderBy(F.desc("n"), "wd").limit(int(top_n))
    rk = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("n"), "wd")))
    q = rk.select(
        F.round(F.log(F.col("r").cast("double")) * 1000)
         .cast("long").alias("x"),
        F.round(F.log(F.col("n").cast("double")) * 1000)
         .cast("long").alias("y"))
    agg = q.agg(F.count(F.lit(1)).alias("nf"),
                F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("y")).alias("sxy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"))
    return agg.select(
        F.col("nf").cast("long").alias("n_types"),
        F.col("sx").cast("long").alias("sx"),
        F.col("sy").cast("long").alias("sy"),
        F.col("sxy").cast("long").alias("sxy"),
        F.col("sxx").cast("long").alias("sxx"),
        F.round((F.col("nf") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("nf") * F.col("sxx") - F.col("sx") * F.col("sx")),
                6).alias("slope"))


def token_budget_cut(df, budget_ppm: int = 500_000,
                     text_col: str = "text", id_col: str = "doc_id"):
    """Token-budgeted quality selection: keep the highest-scoring
    documents until they hold ``budget_ppm`` parts-per-million of the
    CORPUS'S TOKENS — the data-constrained-training cut ("we can
    afford to train on half our tokens: take the best half"), which is
    NOT the same as keeping the best half of documents
    (calibrated_quality_cut): short high-quality docs are cheap, long
    mediocre ones expensive, so the doc-count and token-count
    thresholds differ whenever length correlates with quality.

    Same bounded-histogram shape as calibrated_quality_cut — no global
    sort at any scale — except each score bin aggregates its TOKEN
    mass: T = max score s with  sum(n_words | score >= s) >=
    ceil(budget_ppm * total_tokens / 1e6); ties at T overshoot the
    budget, never undershoot.  Scores are the integer mean-surprisal
    millinats (one ln per vocabulary type).  Returns
    (id, score, n_words, kept) for ALL docs."""
    from pyspark.sql import Window

    from .dedup import _track

    scored = _track(
        unigram_logprob_stats(df, text_col=text_col, id_col=id_col)
        .select(F.col(id_col).alias("id"),
                F.col("n_words"),
                _floor_div(F.col("sum_logprob_mn"),
                           F.col("n_words")).alias("score")))
    hist = (scored.groupBy("score")
            .agg(F.sum("n_words").alias("toks")))
    total = scored.agg(F.sum("n_words").alias("t"))
    cum = (hist.crossJoin(F.broadcast(total))
           .withColumn("cum", F.sum("toks").over(
               Window.orderBy(F.desc("score"))
               .rowsBetween(Window.unboundedPreceding, 0))))
    thr = (cum.where(F.lit(1_000_000) * F.col("cum")
                     >= F.lit(int(budget_ppm)) * F.col("t"))
           .agg(F.max("score").alias("thr")))
    return (scored.crossJoin(F.broadcast(thr))
            .select(F.col("id").alias(id_col),
                    F.col("score"),
                    F.col("n_words").cast("long").alias("n_words"),
                    (F.col("score") >= F.col("thr"))
                    .cast("long").alias("kept")))
