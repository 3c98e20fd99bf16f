"""Corpus-construction operators, round-6 late batch [EXT]: span-level
dedup REMOVAL (not just scoring), tokenizer-training statistics
(BPE merge candidates, vocabulary coverage curves), information-theoretic
quality scores, posting-list construction, time-series gap fill and
edit-distance near-dup blocking.

These extend SURVEY.md §2.2's LLM-data surface with the operators a
training-data refinery runs between "score the corpus" and "emit the
training shards". Every query follows the engine-portability discipline
of ``operators/base.py``: integer/string outputs, ln rounded to 6
decimals before any sum (the bm25 idiom), ties broken on unique keys.

Scale posture: every operator is explode -> hash-aggregate / window on a
high-cardinality key (linear, shuffle-bounded); self-joins are blocked
AND df-capped so pair volume is linear in corpus size, never doc x doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as Wn
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.functions import text as T
from spark_kafka_airflow_pipeline_spark.operators.base import (
    QueryFn,
    ln_micros,
    ppm,
    table,
)

SPAN_W = 10  # tokens per dedup span


def _tokens(d: DataFrame) -> DataFrame:
    """(doc_id, lang, source, toks array) with empty tokens removed —
    the shared tokenization of textops (lower, trim, split on \\s+)."""
    return d.select(
        "doc_id", "lang", "source",
        F.filter(T.split_tokens("text"), lambda x: x != "").alias("toks"))


def span_dedup_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup as a REMOVAL manifest (ExactSubstr /
    CCNet-style): each document is segmented into non-overlapping
    SPAN_W-token spans, a span survives only at its first corpus
    occurrence (min ``(doc_id, span_idx)``), and the output is the
    per-document retention ledger a rewrite pass consumes —
    total/kept span and token counts.

    This is the *transformation* counterpart of the scoring ops
    (``cross_doc_span_dups`` reports overlap, this one decides what is
    dropped). Scale: one explode (n/SPAN_W rows per doc) and one
    row_number window partitioned by span text — a high-cardinality
    hash shuffle, linear in corpus tokens; no doc x doc step exists.
    All-integer output, so the value hash is engine-portable.
    """
    d = _tokens(table(spark, sf_dir, "documents"))
    spans = (
        d.withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
        .select(
            "doc_id", "n",
            F.explode(
                F.sequence(F.lit(0),
                           F.ceil(F.col("n") / SPAN_W).cast("int") - 1)
            ).alias("span_idx"),
            "toks")
        .select(
            "doc_id", "n", "span_idx",
            F.array_join(
                F.slice("toks", F.col("span_idx") * SPAN_W + 1, SPAN_W),
                " ").alias("span_text"),
            F.size(F.slice("toks", F.col("span_idx") * SPAN_W + 1, SPAN_W)
                   ).alias("span_len"))
    )
    w = Wn.partitionBy("span_text").orderBy("doc_id", "span_idx")
    kept = spans.withColumn(
        "keep", (F.row_number().over(w) == 1).cast("int"))
    per_doc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        F.sum("keep").cast("int").alias("spans_kept"),
        F.max("n").cast("int").alias("tokens_total"),
        F.sum(F.col("keep") * F.col("span_len")).cast("int")
        .alias("tokens_kept"))
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return (docs.join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
                    F.coalesce("spans_kept", F.lit(0)).alias("spans_kept"),
                    F.coalesce("tokens_total", F.lit(0))
                    .alias("tokens_total"),
                    F.coalesce("tokens_kept", F.lit(0))
                    .alias("tokens_kept")))


SPAN_DEDUP_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), spans AS (
  SELECT doc_id, len(toks) AS n, i AS span_idx,
         array_to_string(
           list_slice(toks, i * {SPAN_W} + 1,
                      least((i + 1) * {SPAN_W}, len(toks))), ' ')
           AS span_text,
         least((i + 1) * {SPAN_W}, len(toks)) - i * {SPAN_W} AS span_len
  FROM (SELECT doc_id, toks,
               unnest(range(0, CAST(ceil(len(toks) / {SPAN_W}.0)
                                    AS BIGINT))) AS i
        FROM tok WHERE len(toks) > 0)
), kept AS (
  SELECT doc_id, n, span_len,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY span_text
                                      ORDER BY doc_id, span_idx) = 1
              THEN 1 ELSE 0 END AS keep
  FROM spans
), per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS INT) AS n_spans,
         CAST(SUM(keep) AS INT) AS spans_kept,
         CAST(MAX(n) AS INT) AS tokens_total,
         CAST(SUM(keep * span_len) AS INT) AS tokens_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(n_spans, 0) AS n_spans,
       COALESCE(spans_kept, 0) AS spans_kept,
       COALESCE(tokens_total, 0) AS tokens_total,
       COALESCE(tokens_kept, 0) AS tokens_kept
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget planning: per source, the vocabulary size needed
    to cover 90% of token occurrences (types ranked by frequency, ties
    on the term string). The curve a tokenizer-training run consults
    before fixing its vocab budget.

    Scale: token hash-aggregate (linear), then ONE window pass per
    source over the per-source *vocabulary* — bounded by distinct types
    (tens of thousands), independent of corpus row count, so the window
    frame stays small at 100 TB. Integer cumulative arithmetic
    (``cum * 10 >= total * 9``), no floats anywhere.
    """
    d = _tokens(table(spark, sf_dir, "documents"))
    counts = (d.select("source", F.explode("toks").alias("w"))
              .groupBy("source", "w")
              .agg(F.count(F.lit(1)).alias("c")))
    w_rank = Wn.partitionBy("source").orderBy(F.desc("c"), "w")
    w_all = Wn.partitionBy("source")
    ranked = (counts
              .withColumn("rnk", F.row_number().over(w_rank))
              .withColumn("cum", F.sum("c").over(
                  w_rank.rowsBetween(Wn.unboundedPreceding, 0)))
              .withColumn("total", F.sum("c").over(w_all)))
    return (ranked.groupBy("source")
            .agg(F.max("total").alias("total_tokens"),
                 F.max("rnk").cast("int").alias("vocab_size"),
                 F.min(F.when(F.col("cum") * 10 >= F.col("total") * 9,
                              F.col("rnk"))).cast("int")
                 .alias("vocab_p90")))


VOCAB_CURVE_SQL = r"""
WITH counts AS (
  SELECT source, w, COUNT(*) AS c
  FROM (SELECT source,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY source, w
), ranked AS (
  SELECT source, c,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, w)
           AS rnk,
         SUM(c) OVER (PARTITION BY source ORDER BY c DESC, w
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY source) AS total
  FROM counts
)
SELECT source, CAST(MAX(total) AS BIGINT) AS total_tokens,
       CAST(MAX(rnk) AS INT) AS vocab_size,
       CAST(MIN(CASE WHEN cum * 10 >= total * 9 THEN rnk END) AS INT)
         AS vocab_p90
FROM ranked GROUP BY source
"""


def bpe_merge_candidates(spark: SparkSession, sf_dir: str,
                         topk: int = 20) -> DataFrame:
    """One iteration of BPE tokenizer training: count adjacent
    character pairs across the corpus (weighted by word frequency, the
    standard Sennrich formulation over a word-count table) and emit the
    top merge candidates.

    Scale: the pair explode runs over DISTINCT words (the vocabulary,
    bounded), not over corpus occurrences — the word-count aggregate
    compresses 100 TB of text to a vocab-sized frame first, so the
    fan-out stage is constant-bounded. Top-k ties break on the pair
    string; all-integer output.
    """
    d = _tokens(table(spark, sf_dir, "documents"))
    words = (d.select(F.explode("toks").alias("word"))
             .groupBy("word").agg(F.count(F.lit(1)).alias("wc")))
    pairs = (words.filter(F.length("word") >= 2)
             .select("wc",
                     F.explode(F.sequence(
                         F.lit(1), F.length("word") - 1)).alias("i"),
                     "word")
             .select(F.expr("substring(word, i, 2)").alias("pair"), "wc")
             .groupBy("pair").agg(F.sum("wc").alias("pair_count")))
    w = Wn.orderBy(F.desc("pair_count"), "pair")
    return (pairs.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= topk)
            .select("rank", "pair", "pair_count"))


BPE_MERGE_SQL = r"""
WITH words AS (
  SELECT w AS word, COUNT(*) AS wc
  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY w
), pairs AS (
  SELECT substring(word, CAST(i AS INT), 2) AS pair,
         CAST(SUM(wc) AS BIGINT) AS pair_count
  FROM (SELECT word, wc, unnest(range(1, len(word))) AS i
        FROM words WHERE len(word) >= 2)
  GROUP BY 1
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS INT)
         AS rank,
       pair, pair_count
FROM pairs
QUALIFY rank <= 20
"""


def unigram_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy in integer micro-nats — the
    information-theoretic quality score (degenerate/repetitive text has
    low entropy; natural text sits near the corpus band). Complements
    ``doc_repetition_scores`` (n-gram ratio) with a distribution-level
    detector.

    Portability (the bm25 ln idiom): each type's ``ln(n/cnt)`` is
    rounded to 6 decimals and converted to integer micros BEFORE the
    weighted sum, so the only order-sensitive reduction is over BIGINTs;
    the final per-token normalization is integer division. Scale: one
    (doc_id, word) hash aggregate then a doc_id aggregate — linear,
    two shuffles, no windows.
    """
    d = _tokens(table(spark, sf_dir, "documents"))
    tf = (d.select("doc_id", F.explode("toks").alias("w"))
          .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt")))
    w_doc = Wn.partitionBy("doc_id")
    contrib = tf.withColumn("n", F.sum("cnt").over(w_doc)).select(
        "doc_id", "n",
        F.expr("cnt * " + ln_micros("CAST(n AS DOUBLE) / cnt"))
        .alias("micros"))
    per_doc = (contrib.groupBy("doc_id")
               .agg(F.max("n").alias("n_tokens"),
                    F.count(F.lit(1)).cast("int").alias("distinct_tokens"),
                    F.expr("CAST(sum(micros) DIV max(n) AS BIGINT)")
                    .alias("entropy_micronats")))
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return (docs.join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    F.coalesce("distinct_tokens", F.lit(0))
                    .alias("distinct_tokens"),
                    F.coalesce("entropy_micronats", F.lit(0))
                    .alias("entropy_micronats")))


UNIGRAM_ENTROPY_SQL = rf"""
WITH tf AS (
  SELECT doc_id, w, COUNT(*) AS cnt
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY doc_id, w
), contrib AS (
  SELECT doc_id, SUM(cnt) OVER (PARTITION BY doc_id) AS n,
         cnt * {ln_micros("(SUM(cnt) OVER (PARTITION BY doc_id)) * 1.0"
                          " / cnt")} AS micros
  FROM tf
), per_doc AS (
  SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS INT) AS distinct_tokens,
         CAST(SUM(micros) // MAX(n) AS BIGINT) AS entropy_micronats
  FROM contrib GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(n_tokens, 0) AS n_tokens,
       COALESCE(distinct_tokens, 0) AS distinct_tokens,
       COALESCE(entropy_micronats, 0) AS entropy_micronats
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def inverted_index_postings(spark: SparkSession, sf_dir: str,
                            topk_terms: int = 200,
                            postings_cap: int = 20) -> DataFrame:
    """Search-index construction: capped posting lists for the most
    document-frequent terms — the artifact a lexical retrieval system
    (the ``bm25_topk`` scorer's index side) is built from. Each posting
    is ``doc_id:position`` (1-based), ordered by (doc_id, position) and
    truncated to ``postings_cap`` entries; document/term frequencies
    come from the UNCAPPED aggregate so the statistics stay exact.

    Scale: positions explode linearly; the posting cap is a SALTED
    two-phase top-k — phase 1 takes each (term, salt)'s local smallest
    ``postings_cap`` rows (16-way parallel even for a stopword term,
    whose occurrences would otherwise all funnel through ONE window
    task), phase 2 re-ranks the <= 16*cap survivors per term. Any
    global top-cap row is necessarily in its salt's local top-cap, so
    the result is identical to the naive single window. The top-k term
    selection windows over the vocab-sized aggregate only.
    String/integer output, no floats.
    """
    d = _tokens(table(spark, sf_dir, "documents"))
    toks = (d.select("doc_id", F.posexplode("toks").alias("pos0", "term"))
            .select("doc_id", "term",
                    (F.col("pos0") + 1).cast("int").alias("pos")))
    stats = (toks.groupBy("term")
             .agg(F.countDistinct("doc_id").cast("int").alias("doc_freq"),
                  F.count(F.lit(1)).alias("term_freq")))
    w_top = Wn.orderBy(F.desc("doc_freq"), F.desc("term_freq"), "term")
    top = (stats.withColumn("rank", F.row_number().over(w_top).cast("int"))
           .filter(F.col("rank") <= topk_terms))
    w_local = (Wn.partitionBy("term", "salt").orderBy("doc_id", "pos"))
    w_cap = Wn.partitionBy("term").orderBy("doc_id", "pos")
    capped = (toks.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id", "pos"), F.lit(16)))
        .withColumn("lrn", F.row_number().over(w_local))
        .filter(F.col("lrn") <= postings_cap)
        .withColumn("rn", F.row_number().over(w_cap))
        .filter(F.col("rn") <= postings_cap))
    postings = (capped.groupBy("term").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("doc_id", "pos"))),
                lambda s: F.concat_ws(":", s["doc_id"], s["pos"])),
            ",").alias("postings")))
    return (top.join(postings, "term")
            .select("rank", "term", "doc_freq", "term_freq", "postings"))


INVERTED_INDEX_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(ftoks) AS term,
         CAST(generate_subscripts(ftoks, 1) AS INT) AS pos
  FROM (SELECT doc_id,
               list_filter(
                 regexp_split_to_array(lower(trim(text)), '\s+'),
                 t -> t <> '') AS ftoks
        FROM documents)
), stats AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS INT) AS doc_freq,
         CAST(COUNT(*) AS BIGINT) AS term_freq
  FROM toks GROUP BY term
), top AS (
  SELECT term, doc_freq, term_freq,
         CAST(ROW_NUMBER() OVER (ORDER BY doc_freq DESC, term_freq DESC,
                                 term) AS INT) AS rank
  FROM stats QUALIFY rank <= 200
), capped AS (
  SELECT term, doc_id, pos
  FROM (SELECT term, doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY term
                                  ORDER BY doc_id, pos) AS rn
        FROM toks)
  WHERE rn <= 20
), postings AS (
  SELECT term,
         string_agg(doc_id || ':' || pos, ',' ORDER BY doc_id, pos)
           AS postings
  FROM capped GROUP BY term
)
SELECT rank, t.term, doc_freq, term_freq, postings
FROM top t JOIN postings p ON t.term = p.term
"""

# (positions above index the SAME empty-filtered token list in both
# engines: Spark posexplode over the filtered array vs DuckDB
# generate_subscripts over list_filter'd tokens — trim strips only
# spaces, so a leading tab/newline would desync an unfiltered ordinal)


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill: per event type, a complete daily
    calendar spine (global min..max day) with the day's value total in
    integer cents, forward-filled from the last observed day where the
    type had no events — the regularized series a monitoring or
    feature-engineering pass consumes. ``is_gap`` marks filled rows.

    Scale: the daily aggregate is linear in events; the spine is
    calendar x type sized (bounded by time range, independent of row
    count), built from a 1-row min/max aggregate and a broadcast-sized
    distinct-type frame; the forward-fill window partitions by type
    over the calendar-sized frame only. Cent-rule integers and string
    days keep the hash portable (no DATE/TIMESTAMP output columns).
    """
    e = table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    daily = (e.select(F.col("event_type"),
                      F.to_date("ts").alias("day"), cents.alias("c"))
             .groupBy("event_type", "day")
             .agg(F.sum("c").alias("cents")))
    bounds = e.agg(F.min(F.to_date("ts")).alias("d0"),
                   F.max(F.to_date("ts")).alias("d1"))
    spine = (bounds
             .select(F.explode(F.expr(
                 "sequence(d0, d1, interval 1 day)")).alias("day"))
             .crossJoin(F.broadcast(
                 # groupBy, not .distinct(): same physical HashAggregate,
                 # but the analyzed plan shows Aggregate (not Deduplicate)
                 # so the bounded-broadcast lint can prove it SF-bounded
                 e.groupBy("event_type").agg(F.count(F.lit(1)).alias("_c"))
                 .select("event_type"))))
    w = (Wn.partitionBy("event_type").orderBy("day")
         .rowsBetween(Wn.unboundedPreceding, 0))
    filled = (spine.join(daily, ["event_type", "day"], "left")
              .withColumn("cents_filled",
                          F.coalesce(
                              F.last("cents", ignorenulls=True).over(w),
                              F.lit(0)))
              .withColumn("is_gap", F.col("cents").isNull().cast("int")))
    return filled.select(
        "event_type", F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cents_filled", "is_gap")


EVENTS_GAP_FILL_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
  FROM events
), spine AS (
  SELECT t.event_type, CAST(g AS DATE) AS day
  FROM (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS g
        FROM bounds) s
  CROSS JOIN (SELECT DISTINCT event_type FROM events) t
)
SELECT s.event_type, strftime(s.day, '%Y-%m-%d') AS day,
       COALESCE(last_value(cents IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
         AS cents_filled,
       CAST(cents IS NULL AS INT) AS is_gap
FROM spine s LEFT JOIN daily d
  ON s.event_type = d.event_type AND s.day = d.day
"""


def prefix_edit_near_dups(spark: SparkSession, sf_dir: str,
                          block_cap: int = 64,
                          max_dist: int = 10) -> DataFrame:
    """Edit-distance near-dup audit — the Levenshtein family beside the
    set-based (Jaccard/MinHash) and bit-based (SimHash) detectors.
    Documents are blocked on ``(lang, first token)``;
    within each block every pair's 6-token-prefix edit distance is
    computed and pairs at distance <= ``max_dist`` are counted. Output
    is the per-language audit: block count, over-cap blocks dropped,
    pairs actually checked, near-dup pairs found.

    Scale: the ONLY quadratic step is within a block, and blocks over
    ``block_cap`` members are dropped BEFORE the self-join (the same
    df-cap discipline as ``winnow_overlap``), so pair volume is at most
    ``block_cap``/2 x corpus size — linear. Levenshtein runs on fixed
    6-token prefixes, constant per-pair cost; both engines implement
    the identical unit-cost edit distance, so counts hash-match.
    """
    d = _tokens(table(spark, sf_dir, "documents"))
    base = (d.withColumn("n", F.size("toks"))
            .filter(F.col("n") > 0)
            .select("lang", "doc_id", "n",
                    F.col("toks")[0].alias("w0"),
                    F.array_join(F.slice("toks", 1, 6), " ")
                    .alias("prefix")))
    blocks = (base.groupBy("lang", "w0")
              .agg(F.count(F.lit(1)).alias("m")))
    blk_stats = (blocks.groupBy("lang").agg(
        F.count(F.lit(1)).cast("int").alias("n_blocks"),
        F.sum((F.col("m") > block_cap).cast("int")).cast("int")
        .alias("blocks_dropped"),
        F.sum(F.when(F.col("m") <= block_cap,
                     F.col("m") * (F.col("m") - 1) / 2)
              .otherwise(0)).cast("bigint").alias("pairs_checked")))
    keep = blocks.filter(F.col("m") <= block_cap).select("lang", "w0")
    capped = base.join(keep, ["lang", "w0"])
    pairs = (capped.alias("a").join(
        capped.alias("b"),
        [F.col("a.lang") == F.col("b.lang"),
         F.col("a.w0") == F.col("b.w0"),
         F.col("a.doc_id") < F.col("b.doc_id")])
        .filter(F.levenshtein(F.col("a.prefix"), F.col("b.prefix"))
                <= max_dist)
        .groupBy(F.col("a.lang").alias("lang"))
        .agg(F.count(F.lit(1)).alias("near_dup_pairs")))
    return (blk_stats.join(pairs, "lang", "left")
            .select("lang", "n_blocks", "blocks_dropped", "pairs_checked",
                    F.coalesce("near_dup_pairs", F.lit(0))
                    .alias("near_dup_pairs")))


PREFIX_EDIT_SQL = r"""
WITH base AS (
  SELECT lang, doc_id, len(toks) AS n, toks[1] AS w0,
         array_to_string(list_slice(toks, 1, least(6, len(toks))), ' ')
           AS prefix
  FROM (SELECT lang, doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)),
                                                 '\s+'),
                           x -> x <> '') AS toks
        FROM documents)
  WHERE len(toks) > 0
), blocks AS (
  SELECT lang, w0, COUNT(*) AS m FROM base GROUP BY 1, 2
), blk_stats AS (
  SELECT lang, CAST(COUNT(*) AS INT) AS n_blocks,
         CAST(SUM(CASE WHEN m > 64 THEN 1 ELSE 0 END) AS INT)
           AS blocks_dropped,
         CAST(SUM(CASE WHEN m <= 64 THEN m * (m - 1) // 2 ELSE 0 END)
              AS BIGINT) AS pairs_checked
  FROM blocks GROUP BY lang
), capped AS (
  SELECT base.* FROM base
  JOIN blocks USING (lang, w0) WHERE m <= 64
), pairs AS (
  SELECT a.lang, CAST(COUNT(*) AS BIGINT) AS near_dup_pairs
  FROM capped a JOIN capped b
    ON a.lang = b.lang AND a.w0 = b.w0
   AND a.doc_id < b.doc_id
  WHERE levenshtein(a.prefix, b.prefix) <= 10
  GROUP BY a.lang
)
SELECT s.lang, n_blocks, blocks_dropped, pairs_checked,
       COALESCE(near_dup_pairs, 0) AS near_dup_pairs
FROM blk_stats s LEFT JOIN pairs p ON s.lang = p.lang
"""


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE contamination matrix: for every pair of ingestion
    sources, the number of distinct word 8-grams they share — the
    curation question behind per-doc span dedup ("which feeds copy from
    each other / from a common upstream") aggregated to the level a
    data-sourcing decision is made at.

    Plan: gram explode -> DISTINCT (gram, source) -> self-join on gram
    with ``source_a < source_b`` -> count per pair. The join's per-gram
    fan-out is bounded by the SOURCE count squared (not doc count), so
    the pair volume is linear in distinct shared grams at any corpus
    size. Gram identity is the hash-chain long (the
    ``cross_doc_span_dups`` speed path); the oracle uses gram strings —
    counts are identity-invariant, and the hash-exact gate would
    surface a collision."""
    d = table(spark, sf_dir, "documents")
    grams = (d.withColumn("th", T.token_hashes("text"))
             .select("source",
                     F.explode(T.shingle_hashes_of(F.col("th"), 8))
                     .alias("gh")))
    gsrc = grams.groupBy("gh", "source").agg(F.lit(1).alias("_one"))
    a, b = gsrc.alias("a"), gsrc.alias("b")
    return (a.join(b, [F.col("a.gh") == F.col("b.gh"),
                       F.col("a.source") < F.col("b.source")])
            .groupBy(F.col("a.source").alias("source_a"),
                     F.col("b.source").alias("source_b"))
            .agg(F.count(F.lit(1)).alias("n_shared_grams")))


SOURCE_OVERLAP_SQL = r"""
WITH grams AS (
  SELECT DISTINCT source, g FROM (
    SELECT source,
           unnest(list_distinct(
             CASE WHEN len(t) <= 8 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, len(t) - 6),
                                      i -> array_to_string(t[i:i+7], ' '))
             END)) AS g
    FROM (SELECT source,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM documents))
)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*) AS n_shared_grams
FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
GROUP BY 1, 2
"""


def zipf_fit_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit per source: OLS slope/intercept of
    ``ln(freq)`` against ``ln(rank)`` over the frequency-ranked
    vocabulary — the corpus-health statistic (natural language sits
    near slope -1; templated/boilerplate corpora flatten, spam steepens)
    a data-quality audit tracks per ingestion source.

    Determinism combines the repo's two portability idioms: each ln is
    rounded to 6 decimals and converted to integer MICROS per row (the
    bm25 idiom), then the OLS moments are summed as wide decimals and
    the slope is one fixed double expression (the ``value_trend_by_type``
    idiom) — no order-sensitive float accumulation exists. Scale: the
    regression runs over the vocab-sized ranked frame, not the corpus.
    """
    d = _tokens(table(spark, sf_dir, "documents"))
    counts = (d.select("source", F.explode("toks").alias("w"))
              .groupBy("source", "w")
              .agg(F.count(F.lit(1)).alias("c")))
    w_rank = Wn.partitionBy("source").orderBy(F.desc("c"), "w")
    m = (counts.withColumn("rnk", F.row_number().over(w_rank))
         .select("source",
                 F.expr(ln_micros("CAST(rnk AS DOUBLE)")).alias("x"),
                 F.expr(ln_micros("CAST(c AS DOUBLE)")).alias("y")))
    agg = (m.groupBy("source")
           .agg(F.count(F.lit(1)).alias("vocab_n"),
                F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
                F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
                .alias("sxx"),
                F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
                F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
                .alias("sxy")))
    n = F.col("vocab_n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return agg.select(
        "source", "vocab_n",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / (n * 1000000.0), 6)
        .alias("ln_c0"))


ZIPF_FIT_SQL = rf"""
WITH counts AS (
  SELECT source, w, COUNT(*) AS c
  FROM (SELECT source,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY source, w
), m AS (
  SELECT source,
         {ln_micros("CAST(ROW_NUMBER() OVER (PARTITION BY source"
                    " ORDER BY c DESC, w) AS DOUBLE)")} AS x,
         {ln_micros("CAST(c AS DOUBLE)")} AS y
  FROM counts
), agg AS (
  SELECT source, COUNT(*) AS vocab_n,
         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
         SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
         SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy
  FROM m GROUP BY source
)
SELECT source, vocab_n,
       round((CAST(vocab_n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(vocab_n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         AS zipf_slope,
       round((CAST(sy AS DOUBLE)
              - (CAST(vocab_n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(vocab_n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / (CAST(vocab_n AS DOUBLE) * 1000000.0), 6) AS ln_c0
FROM agg
"""


def bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO iterations of BPE training — pick the top adjacent-pair,
    APPLY the merge corpus-wide, recount, pick the next — the iterative
    loop `bpe_merge_candidates` takes one step of. Words are symbol
    sequences (space-separated chars); applying a merge is one
    ``replace(seq, 'x y', 'xy')`` (left-to-right non-overlapping in
    both engines, the exact greedy BPE application order).

    Output: the first two merges with their pre-merge counts plus the
    post-merge vocabulary size — all strings/integers. Scale: both
    iterations run over the DISTINCT-word frame (vocabulary-bounded);
    the chosen merge is a 1-row broadcast cross join, never collected.
    """
    d = _tokens(table(spark, sf_dir, "documents"))
    words = (d.select(F.explode("toks").alias("word"))
             .groupBy("word").agg(F.count(F.lit(1)).alias("wc"))
             # symbol sequence: 'abc' -> 'a b c'
             .select(F.array_join(F.split("word", ""), " ").alias("seq"),
                     "wc"))

    def top_pair(seqs: DataFrame) -> DataFrame:
        """(pair, pair_count) of the most frequent adjacent symbol
        pair, tie on pair string — 1 row, aggregate-bounded."""
        syms = seqs.select("wc", F.split("seq", " ").alias("s"))
        pairs = (syms.filter(F.size("s") >= 2)
                 .select("wc", F.explode(
                     F.expr("transform(sequence(1, size(s) - 1),"
                            " i -> concat(s[i-1], ' ', s[i]))"))
                     .alias("pair"))
                 .groupBy("pair").agg(F.sum("wc").alias("pair_count")))
        w = Wn.orderBy(F.desc("pair_count"), "pair")
        return (pairs.withColumn("r", F.row_number().over(w))
                .filter(F.col("r") == 1).drop("r"))

    def apply_merge(seqs: DataFrame, merge: DataFrame) -> DataFrame:
        m = merge.select(
            F.col("pair"),
            F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("joined"))
        return (seqs.crossJoin(F.broadcast(m))
                .select(F.replace(F.col("seq"), F.col("pair"),
                                  F.col("joined")).alias("seq"), "wc"))

    m1 = top_pair(words)
    words2 = apply_merge(words, m1)
    m2 = top_pair(words2)
    vocab2 = (words2.select(F.explode(F.split("seq", " ")).alias("sym"))
              .agg(F.countDistinct("sym").cast("int").alias("v")))
    out1 = m1.select(F.lit(1).alias("step"), "pair", "pair_count")
    out2 = m2.select(F.lit(2).alias("step"), "pair", "pair_count")
    return (out1.unionByName(out2)
            .crossJoin(F.broadcast(vocab2))
            .select("step", "pair", "pair_count",
                    F.col("v").alias("post_merge1_vocab")))


BPE_APPLY_SQL = r"""
WITH words AS (
  SELECT array_to_string(list_filter(string_split(word, ''),
                                     c -> c <> ''), ' ') AS seq,
         CAST(COUNT(*) AS BIGINT) AS wc
  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
          AS word FROM documents)
  WHERE word <> ''
  GROUP BY word
), p1 AS (
  SELECT pair, CAST(SUM(wc) AS BIGINT) AS pair_count
  FROM (SELECT wc, s[i] || ' ' || s[i+1] AS pair
        FROM (SELECT wc, string_split(seq, ' ') AS s FROM words),
             LATERAL (SELECT unnest(range(1, len(s))) AS i)
        WHERE len(s) >= 2)
  GROUP BY pair
), m1 AS (
  SELECT pair, pair_count FROM p1
  ORDER BY pair_count DESC, pair LIMIT 1
), words2 AS (
  SELECT replace(seq, (SELECT pair FROM m1),
                 replace((SELECT pair FROM m1), ' ', '')) AS seq, wc
  FROM words
), p2 AS (
  SELECT pair, CAST(SUM(wc) AS BIGINT) AS pair_count
  FROM (SELECT wc, s[i] || ' ' || s[i+1] AS pair
        FROM (SELECT wc, string_split(seq, ' ') AS s FROM words2),
             LATERAL (SELECT unnest(range(1, len(s))) AS i)
        WHERE len(s) >= 2)
  GROUP BY pair
), m2 AS (
  SELECT pair, pair_count FROM p2
  ORDER BY pair_count DESC, pair LIMIT 1
), vocab2 AS (
  SELECT CAST(COUNT(DISTINCT sym) AS INT) AS v
  FROM (SELECT unnest(string_split(seq, ' ')) AS sym FROM words2)
)
SELECT step, pair, pair_count, (SELECT v FROM vocab2) AS post_merge1_vocab
FROM (SELECT 1 AS step, pair, pair_count FROM m1
      UNION ALL
      SELECT 2 AS step, pair, pair_count FROM m2)
"""


def cdc_chunking(spark: SparkSession, sf_dir: str,
                 mask: int = 7) -> DataFrame:
    """Content-defined chunking: chunk boundaries fall where the
    rolling 3-gram hash satisfies ``H % (mask+1) == 0`` — the
    rsync/LBFS trick that keeps chunk boundaries STABLE under insertions
    (a fixed-stride chunker shifts every downstream chunk; a
    content-defined one re-synchronizes), which is what makes
    chunk-level dedup of evolving corpora work. Output per document:
    chunk count, mean chunk length in integer centitokens, max chunk.

    The gram hash is the md5-derived 60-bit identity (portable), so
    boundary positions are bit-identical in DuckDB. Scale: one gram
    explode + per-doc aggregation; boundary density is 1/(mask+1) in
    expectation, set by the mask, independent of corpus size.
    """
    d = _tokens(table(spark, sf_dir, "documents"))
    toks = (d.withColumn("n", F.size("toks"))
            .filter(F.col("n") >= 3)
            .select("doc_id", "n",
                    F.posexplode(F.expr(
                        "transform(sequence(1, size(toks) - 2),"
                        " i -> concat_ws(' ', toks[i-1], toks[i],"
                        " toks[i+1]))")).alias("pos", "g")))
    h = F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint")
    cuts = (toks.withColumn("is_cut", (h % (mask + 1) == 0).cast("int"))
            .groupBy("doc_id")
            .agg(F.max("n").alias("n_tokens"),
                 F.sum("is_cut").alias("n_cuts")))
    return cuts.select(
        "doc_id", "n_tokens",
        (F.col("n_cuts") + 1).cast("int").alias("n_chunks"),
        F.expr("CAST(n_tokens * 100 DIV (n_cuts + 1) AS BIGINT)")
        .alias("mean_chunk_centitokens"))


CDC_CHUNKING_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, len(t) AS n,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> array_to_string(t[i:i+2], ' '))) AS g
  FROM tok WHERE len(t) >= 3
), cuts AS (
  SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN ('0x' || substr(md5(g), 1, 15))::BIGINT
                            % 8 = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts
  FROM grams GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       CAST(n_cuts + 1 AS INT) AS n_chunks,
       CAST(n_tokens * 100 // (n_cuts + 1) AS BIGINT)
         AS mean_chunk_centitokens
FROM cuts
"""


def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card table: one row per ingestion source with the
    numbers a datasheet/data-statement reports — document and token
    counts, length profile, language mix (count + entropy of the
    distribution, in integer micro-nats via the 6dp-ln idiom), and
    vocabulary size. The per-source capstone beside the corpus-level
    audits (`zipf_fit_by_source`, `vocab_coverage_curve`).

    Scale: one token explode feeding two hash aggregates (doc-level,
    then source-level) plus a vocab aggregate — all linear; the lang
    entropy aggregates a source x lang frame (tiny). Integer outputs.
    """
    d = _tokens(table(spark, sf_dir, "documents"))
    per_doc = d.select("source", "lang", F.size("toks").alias("n"))
    doc_stats = (per_doc.groupBy("source")
                 .agg(F.count(F.lit(1)).alias("n_docs"),
                      F.sum("n").cast("bigint").alias("total_tokens"),
                      F.min("n").cast("int").alias("min_tokens"),
                      F.max("n").cast("int").alias("max_tokens")))
    lang_counts = (per_doc.groupBy("source", "lang")
                   .agg(F.count(F.lit(1)).alias("c")))
    w_src = Wn.partitionBy("source")
    lang_ent = (lang_counts
                .withColumn("tot", F.sum("c").over(w_src))
                .select("source",
                        F.expr("c * " + ln_micros(
                            "CAST(tot AS DOUBLE) / c")).alias("micros"),
                        "tot")
                .groupBy("source")
                .agg(F.count(F.lit(1)).cast("int").alias("n_langs"),
                     F.expr("CAST(sum(micros) DIV max(tot) AS BIGINT)")
                     .alias("lang_entropy_micronats")))
    vocab = (d.select("source", F.explode("toks").alias("w"))
             .groupBy("source")
             .agg(F.countDistinct("w").cast("int").alias("vocab_size")))
    return (doc_stats.join(lang_ent, "source").join(vocab, "source")
            .select("source", "n_docs", "total_tokens", "min_tokens",
                    "max_tokens", "n_langs", "lang_entropy_micronats",
                    "vocab_size"))


CORPUS_DATACARD_SQL = rf"""
WITH per_doc AS (
  SELECT source, lang,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x <> '')) AS n
  FROM documents
), doc_stats AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS total_tokens,
         CAST(MIN(n) AS INT) AS min_tokens,
         CAST(MAX(n) AS INT) AS max_tokens
  FROM per_doc GROUP BY source
), lc AS (
  SELECT source, lang, COUNT(*) AS c FROM per_doc GROUP BY 1, 2
), lct AS (
  SELECT source, lang, c,
         SUM(c) OVER (PARTITION BY source) AS tot
  FROM lc
), lang_ent AS (
  SELECT source, CAST(COUNT(*) AS INT) AS n_langs,
         CAST(SUM(c * {ln_micros("tot * 1.0 / c")}) // MAX(tot)
              AS BIGINT) AS lang_entropy_micronats
  FROM lct
  GROUP BY source
), vocab AS (
  SELECT source, CAST(COUNT(DISTINCT w) AS INT) AS vocab_size
  FROM (SELECT source,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY source
)
SELECT d.source, n_docs, total_tokens, min_tokens, max_tokens,
       n_langs, lang_entropy_micronats, vocab_size
FROM doc_stats d
JOIN lang_ent e ON d.source = e.source
JOIN vocab v ON d.source = v.source
"""


def misra_gries_topk(spark: SparkSession, sf_dir: str,
                     k: int = 64, topk: int = 10) -> DataFrame:
    """Mergeable frequent-items sketch (Misra-Gries): per-partition
    bounded-memory heavy-hitter summaries over corpus tokens, merged by
    counter addition — the O(k)-state answer to "top terms over 100 TB"
    when an exact (term, count) aggregate's shuffle is the bottleneck.

    Per partition the classic MG stream algorithm keeps at most ``k``
    counters (when full, an unseen item decrements ALL counters — no
    eviction choice exists, so the sketch is deterministic given the
    partition contents and order, which ``repartition(doc_id) +
    sortWithinPartitions`` pins). Merging summed counters preserves the
    guarantee ``true - sum_p floor((n_p - retained_p)/(k+1)) <=
    est_lower <= true`` — asserted against exact counts in
    tests/test_corpusops.py.

    Oracle (exactness regime): when the number of distinct terms never
    exceeds ``k``, no decrement ever fires, so every counter is EXACT,
    ``est_lower`` equals the true count and ``err_bound`` is 0 —
    deterministically, independent of the partition split.  This
    corpus has 31 distinct words < k=64 at every SF, so the DuckDB
    twin asserts exact top-k word counts with err_bound 0.  The lossy
    regime (distinct > k) has no SQL twin; its lower-bound guarantee
    is property-tested in tests/test_corpusops.py instead.
    """
    import pandas as pd
    from pyspark import TaskContext

    d = _tokens(table(spark, sf_dir, "documents"))
    words = (d.select("doc_id", F.explode("toks").alias("w"))
             .repartition(8, "doc_id")
             .sortWithinPartitions("doc_id", "w"))

    def mg(batches):
        counters: dict[str, int] = {}
        n = 0
        for pdf in batches:
            for w in pdf["w"]:
                n += 1
                if w in counters:
                    counters[w] += 1
                elif len(counters) < k:
                    counters[w] = 1
                else:
                    for key in list(counters):
                        counters[key] -= 1
                        if counters[key] == 0:
                            del counters[key]
        pid = TaskContext.get().partitionId()
        retained = sum(counters.values())
        yield pd.DataFrame({
            "pid": pid, "term": list(counters) or [""],
            "cnt": list(counters.values()) or [0],
            "part_n": n, "retained": retained})

    # the "" placeholder row keeps a partition VISIBLE even when its
    # counters emptied out (all-ones decrement case) or it had no rows:
    # the error bound must count that partition's (n - retained) mass,
    # so err is computed BEFORE the placeholder filter
    base = words.mapInPandas(
        mg, "pid int, term string, cnt long, part_n long, retained long")
    sketch = base.filter(F.col("term") != "")
    err = (base.groupBy("pid")
           .agg(F.expr(f"CAST((first(part_n) - first(retained)) "
                       f"DIV {k + 1} AS BIGINT)").alias("e"))
           .agg(F.sum("e").alias("err_bound")))
    merged = (sketch.groupBy("term").agg(F.sum("cnt").alias("est_lower"))
              .crossJoin(F.broadcast(err)))
    w_top = Wn.orderBy(F.desc("est_lower"), "term")
    return (merged.withColumn("rank", F.row_number().over(w_top)
                              .cast("int"))
            .filter(F.col("rank") <= topk)
            .select("rank", "term", "est_lower", "err_bound"))


def embedding_principal_component(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud via distributed
    partial Gram matrices + driver-side power iteration — the spectral
    summary (dominant direction + explained-variance share) an
    embedding-quality audit reports next to ``embedding_norm_stats``.

    Scale shape: each partition emits ONE row (count, mean-sum vector,
    flattened d x d Gram partial as binary numpy buffers), so the
    driver reduces #partitions rows of 4 KB each regardless of corpus
    size; the d x d eigenproblem (d=64) is driver-trivial. This is the
    legitimate collect-to-driver pattern: a BOUNDED summary, not data.
    50 fixed power iterations from a fixed start vector; sign pinned by
    making the largest-|loading| coordinate positive. Rows-only: float
    accumulation order makes micro-digit determinism partition-split-
    dependent (property-tested against numpy.linalg.eigh instead).
    """
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def partial_gram(batches):
        tot = None
        n = 0
        s = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            n += m.shape[0]
            tot = m.T @ m if tot is None else tot + m.T @ m
            s = m.sum(axis=0) if s is None else s + m.sum(axis=0)
        if n == 0:
            return
        yield pd.DataFrame({"n": [n], "s": [s.tobytes()],
                            "g": [tot.tobytes()]})

    schema = "dim int, loading double, eigval double, var_share double"
    parts = e.repartition(8, "vec_id").mapInPandas(
        partial_gram, "n long, s binary, g binary").collect()
    if not parts:  # empty embeddings table: keep the schema, zero rows
        return spark.createDataFrame([], schema)
    import numpy as np  # noqa: F811 (driver scope)
    n = sum(r["n"] for r in parts)
    s = sum(np.frombuffer(r["s"], dtype=np.float64) for r in parts)
    g = sum(np.frombuffer(r["g"], dtype=np.float64) for r in parts)
    d = s.shape[0]
    cov = g.reshape(d, d) / n - np.outer(s / n, s / n)
    v = np.full(d, 1.0 / np.sqrt(d))
    for _ in range(50):
        v = cov @ v
        v /= np.linalg.norm(v)
    eigval = float(v @ cov @ v)
    if v[int(np.argmax(np.abs(v)))] < 0:
        v = -v
    share = eigval / float(np.trace(cov))
    rows = [(int(i), float(round(v[i], 6)), float(round(eigval, 6)),
             float(round(share, 6))) for i in range(d)]
    return spark.createDataFrame(rows, schema)


def kmv_source_overlap(spark: SparkSession, sf_dir: str,
                       k: int = 128) -> DataFrame:
    """KMV sketch SET ALGEBRA — the capability that makes bottom-k
    sketches an infrastructure primitive rather than a counter: from
    one k-minimum-values sketch per source (over word-8-gram md5
    priorities), estimate every source pair's Jaccard similarity and
    union size WITHOUT touching the gram data again, and report the
    exact values beside them as the in-query error audit. The
    estimator is the standard one (Beyer et al.): with ``tau`` = the
    kth smallest hash of the merged pair sketch, ``J ~= |{h <= tau
    present in BOTH sketches}| / k``; deterministic md5 priorities
    make even the approximation value-hash ORACLED.

    Scale: one distinct (source, gram-hash) aggregate (linear — the
    same first stage as ``source_overlap_matrix``), a salted bottom-k
    per source, and then ONLY sketch-sized frames (pairs x k rows);
    the exact audit columns reuse the bounded-fan-out pair join and
    drop out of the plan when not selected."""
    from pyspark.sql import Window as Wn

    from spark_kafka_airflow_pipeline_spark.operators.scaleops import (
        bottom_k_per_group,
    )

    d = table(spark, sf_dir, "documents")
    # RAW (non-distinct) 8-gram stream (r17): the (source, h) groupBy
    # right below already deduplicates across the whole source, so the
    # per-doc array_distinct T.shingles applied was pure overhead — at
    # k=8 word-grams it was the hottest expression in the op (the
    # string-array array_distinct finding from ngram_jaccard_md5_pairs).
    # Identical (source, h) sets by construction; oracle unchanged.
    grams = (d.select("source", T.split_tokens("text").alias("toks"))
             .select("source",
                     F.explode(T.raw_shingles_of(F.col("toks"), 8))
                     .alias("g"))
             .groupBy("source", F.md5("g").alias("h"))
             .agg(F.count(F.lit(1)).alias("_c")).drop("_c"))
    # NOTE (r9 scan census): a barrier on `grams` was A/B
    # tested and REVERTED — AQE exchange reuse already covers the
    # repeated consumers; materialization measured ~15% slower.
    sk = bottom_k_per_group(grams, ["source"], "h", k)
    srcs = grams.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_exact"))
    pairs = (srcs.select(F.col("source").alias("sa"),
                         F.col("n_exact").alias("na"))
             .crossJoin(F.broadcast(
                 srcs.select(F.col("source").alias("sb"),
                             F.col("n_exact").alias("nb"))))
             .filter(F.col("sa") < F.col("sb")))
    psk = (pairs.select("sa", "sb")
           .join(sk, sk.source == F.col("sa")).select("sa", "sb", "h")
           .unionByName(
               pairs.select("sa", "sb")
               .join(sk, sk.source == F.col("sb"))
               .select("sa", "sb", "h"))
           .groupBy("sa", "sb", "h")
           .agg(F.count(F.lit(1)).alias("cnt")))
    ranked = psk.withColumn(
        "rn", F.row_number().over(Wn.partitionBy("sa", "sb").orderBy("h")))
    space = 16 ** 6
    est = (ranked.groupBy("sa", "sb")
           .agg(F.least(F.count(F.lit(1)), F.lit(k)).alias("m_u"),
                F.sum(((F.col("cnt") == 2) & (F.col("rn") <= k))
                      .cast("bigint")).alias("common"),
                F.max(F.when(F.col("rn") <= k, F.col("h"))).alias("tau"))
           .withColumn(
               "union_est",
               F.when(F.col("m_u") < k, F.col("m_u"))
               .otherwise(F.expr(
                   f"(CAST({k} AS BIGINT) - 1) * {space} DIV "
                   f"GREATEST(CAST(conv(substring(tau, 1, 6), 16, 10) "
                   f"AS BIGINT), 1)")).cast("bigint"))
           .withColumn("jaccard_est_ppm",
                       F.expr("common * 1000000 DIV m_u").cast("bigint")))
    a, b = grams.alias("a"), grams.alias("b")
    inter = (a.join(b, [F.col("a.h") == F.col("b.h"),
                        F.col("a.source") < F.col("b.source")])
             .groupBy(F.col("a.source").alias("sa"),
                      F.col("b.source").alias("sb"))
             .agg(F.count(F.lit(1)).alias("n_inter")))
    return (est.join(pairs, ["sa", "sb"])
            .join(inter, ["sa", "sb"], "left")
            .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
            .select(
                F.col("sa").alias("source_a"),
                F.col("sb").alias("source_b"),
                F.col("m_u").cast("int").alias("m_u"),
                "jaccard_est_ppm", "union_est",
                F.expr("n_inter * 1000000 DIV (na + nb - n_inter)")
                .cast("bigint").alias("jaccard_exact_ppm"),
                F.expr("na + nb - n_inter").cast("bigint")
                .alias("union_exact")))


KMV_OVERLAP_SQL = r"""
WITH grams AS (
  SELECT DISTINCT source, md5(g) AS h FROM (
    SELECT source,
           unnest(list_distinct(
             CASE WHEN len(t) <= 8 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, len(t) - 6),
                                      i -> array_to_string(t[i:i+7], ' '))
             END)) AS g
    FROM (SELECT source,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM documents))
), sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM grams) WHERE rn <= 128
), srcs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM grams GROUP BY source
), pairs AS (
  SELECT a.source AS sa, a.n_exact AS na, b.source AS sb,
         b.n_exact AS nb
  FROM srcs a, srcs b WHERE a.source < b.source
), psk AS (
  SELECT sa, sb, h, COUNT(*) AS cnt FROM (
    SELECT p.sa, p.sb, s.h FROM pairs p JOIN sk s ON s.source = p.sa
    UNION ALL
    SELECT p.sa, p.sb, s.h FROM pairs p JOIN sk s ON s.source = p.sb
  ) GROUP BY sa, sb, h
), ranked AS (
  SELECT sa, sb, h, cnt,
         ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
  FROM psk
), est AS (
  SELECT sa, sb, LEAST(COUNT(*), 128) AS m_u,
         CAST(SUM(CASE WHEN cnt = 2 AND rn <= 128 THEN 1 ELSE 0 END)
              AS BIGINT) AS common,
         MAX(CASE WHEN rn <= 128 THEN h END) AS tau
  FROM ranked GROUP BY sa, sb
), inter AS (
  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_inter
  FROM grams a JOIN grams b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT e.sa AS source_a, e.sb AS source_b,
       CAST(m_u AS INT) AS m_u,
       CAST(common * 1000000 // m_u AS BIGINT) AS jaccard_est_ppm,
       CAST(CASE WHEN m_u < 128 THEN m_u
            ELSE CAST(127 AS BIGINT) * 16777216 //
                 GREATEST(('0x' || substr(tau, 1, 6))::BIGINT, 1) END
            AS BIGINT) AS union_est,
       CAST(COALESCE(n_inter, 0) * 1000000 //
            (na + nb - COALESCE(n_inter, 0)) AS BIGINT)
         AS jaccard_exact_ppm,
       CAST(na + nb - COALESCE(n_inter, 0) AS BIGINT) AS union_exact
FROM est e
JOIN pairs p ON e.sa = p.sa AND e.sb = p.sb
LEFT JOIN inter i ON e.sa = i.sa AND e.sb = i.sb
"""


def rendezvous_shard_plan(spark: SparkSession, sf_dir: str,
                          n_shards: int = 8) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding — the
    consistent-assignment algorithm a distributed ingestion tier uses
    so that adding/removing a shard only remaps that shard's share of
    keys (vs mod-N remapping nearly everything): every doc scores each
    shard by ``md5(doc_id:shard)`` and lands on the argmax. Output is
    the shard load table (docs, token sum, balance vs ideal in ppm).

    Scale: the score fan-out is n_shards per doc (bounded constant),
    reduced by one ``max_by`` aggregate — no window, no sort; md5 is
    bit-identical in both engines so assignment is exactly oracled.
    The stability property (drop shard 3: only its docs move) is
    pinned in tests/test_round7_ops.py."""
    d = _tokens(table(spark, sf_dir, "documents"))
    docs = d.select("doc_id", F.size("toks").alias("n_tokens"))
    scored = docs.select(
        "doc_id", "n_tokens",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("shard"),
                     F.md5(F.concat_ws(":", F.col("doc_id"), F.lit(i)))
                     .alias("score"))
            for i in range(n_shards)])).alias("s"))
    assigned = (scored.groupBy("doc_id")
                .agg(F.expr("max_by(s.shard, s.score)").alias("shard"),
                     F.min("n_tokens").alias("n_tokens")))
    loads = (assigned.groupBy("shard")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_tokens").cast("bigint").alias("n_tokens")))
    total = loads.agg(F.sum("n_docs").cast("bigint").alias("total"))
    return (loads.crossJoin(F.broadcast(total))
            .select("shard", "n_docs", "n_tokens",
                    F.expr(ppm("n_docs", "total", n_shards * 1_000_000))
                    .alias("load_vs_ideal_ppm")))


RENDEZVOUS_SHARD_SQL = r"""
WITH docs AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         t -> t <> '')) AS n_tokens
  FROM documents
), scored AS (
  SELECT doc_id, n_tokens, shard, md5(doc_id || ':' || shard) AS score
  FROM docs, (SELECT unnest(range(0, 8)) AS shard)
), assigned AS (
  SELECT doc_id, MIN(n_tokens) AS n_tokens,
         max_by(shard, score) AS shard
  FROM scored GROUP BY doc_id
), loads AS (
  SELECT shard, COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM assigned GROUP BY shard
)
SELECT CAST(shard AS INT) AS shard, n_docs, n_tokens,
       CAST(n_docs * 8 * 1000000 //
            (SELECT SUM(n_docs) FROM loads) AS BIGINT)
         AS load_vs_ideal_ppm
FROM loads
"""


def cross_lang_fingerprint_spread(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Cross-language duplicate audit: exact-duplicate clusters
    (canonical-whitespace md5 fingerprint, the refinery's rule) are
    profiled by how many LANGUAGES each spans — a cluster spanning
    several langs is boilerplate or mislabeled/translated content, the
    class a per-language dedup pass silently misses. Output is the
    spread histogram: for each language-span count, how many multi-doc
    clusters and how many documents sit in them.

    Scale: one fingerprint hash aggregate (linear), then an aggregate
    over the cluster frame; the histogram is bounded by the language
    count. All-integer output."""
    d = table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    clusters = (d.groupBy(fp.alias("fp"))
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.countDistinct("lang").alias("n_langs"))
                .filter(F.col("n_docs") >= 2))
    return (clusters.groupBy(F.col("n_langs").cast("int").alias("n_langs"))
            .agg(F.count(F.lit(1)).alias("n_clusters"),
                 F.sum("n_docs").cast("bigint").alias("n_docs")))


CROSS_LANG_SPREAD_SQL = r"""
WITH m AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         lang
  FROM documents
), cl AS (
  SELECT fp, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs
  FROM m GROUP BY fp HAVING COUNT(*) >= 2
)
SELECT CAST(n_langs AS INT) AS n_langs, COUNT(*) AS n_clusters,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs
FROM cl GROUP BY 1
"""


CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_TOPK = 20


def _cms_cell_spark(tok_col: str) -> str:
    """Row-``j`` CMS bucket (Spark dialect): 60 exact md5 bits of
    ``tok#j`` (the repo's md5-twin idiom) mod the sketch width, where
    ``j`` is the exploded hash-row column — each row is an independent
    hash function."""
    return (f"CAST(conv(substring(md5(concat({tok_col}, '#', "
            f"CAST(j AS STRING))), 1, 15), 16, 10) AS BIGINT)"
            f" % {CMS_WIDTH}")


def _cms_cell_duck(tok_col: str, j: int) -> str:
    """The DuckDB twin of ``_cms_cell_spark`` with ``j`` spliced as a
    literal (DuckDB parses the 15 hex chars via the '0x' cast)."""
    return (f"(('0x' || substr(md5(concat({tok_col}, '#', '{j}')), 1, 15))"
            f"::BIGINT % {CMS_WIDTH})")


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter audit [EXT]: estimate the corpus
    head-token counts from a ``CMS_DEPTH x CMS_WIDTH`` count-min sketch
    and report each estimate BESIDE the exact count — the
    one-sided-error contract (est >= exact, est <= exact + N/width with
    high probability) made visible per token, the same
    estimate-with-its-own-audit design as ``kmv_source_overlap``.

    Spark-first shape: token counts aggregate once (map-side combine on
    the token), then the VOCAB-sized count frame fans out ``CMS_DEPTH``
    rows each to (row, cell) cells — the sketch build costs one
    token-keyed shuffle plus one vocab-sized one, never a second pass
    over the corpus. The sketch itself is ``CMS_DEPTH * CMS_WIDTH``
    cells — trivially broadcastable, which is what makes the probe join
    shuffle-free. Cell-wise ADDITION is the merge operator (per-source
    sketches sum to the corpus sketch — pinned exactly in
    tests/test_round7_ops.py, the ``hll_distinct_rollup`` mergeability
    discipline), so a 1000-executor build is embarrassingly parallel.

    Unlike ``misra_gries_topk`` (partition-order-dependent, rows-only),
    every CMS cell is a pure md5 function of the token — the whole
    sketch, and therefore the estimates, value-hash against the DuckDB
    oracle.
    """
    d = _tokens(table(spark, sf_dir, "documents"))
    tc = (d.select(F.explode("toks").alias("w"))
          .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    rows_ = F.array(*[F.lit(j) for j in range(CMS_DEPTH)])
    cells = (tc.select("w", "c", F.explode(rows_).alias("j"))
             .withColumn("cell", F.expr(_cms_cell_spark("w")))
             .groupBy("j", "cell")
             .agg(F.sum("c").alias("cell_c")))
    probes = (tc.orderBy(F.col("c").desc(), "w").limit(CMS_TOPK)
              .select(F.col("w").alias("term"), F.col("c").alias("exact")))
    probe_cells = (probes.select(
        "term", "exact", F.explode(rows_).alias("j"))
        .withColumn("cell", F.expr(_cms_cell_spark("term"))))
    est = (probe_cells.join(F.broadcast(cells), ["j", "cell"])
           .groupBy("term", "exact")
           .agg(F.min("cell_c").alias("cms_est")))
    return est.select("term", "exact", "cms_est",
                      (F.col("cms_est") - F.col("exact")).alias("overest"))


def _cms_sql() -> str:
    cell_w = " ".join(
        f"WHEN j = {j} THEN {_cms_cell_duck('w', j)}"
        for j in range(CMS_DEPTH))
    cell_t = " ".join(
        f"WHEN j = {j} THEN {_cms_cell_duck('term', j)}"
        for j in range(CMS_DEPTH))
    js = ", ".join(str(j) for j in range(CMS_DEPTH))
    return f"""
WITH tc AS (
  SELECT w, COUNT(*) AS c
  FROM (SELECT unnest(list_filter(regexp_split_to_array(
                  lower(trim(text)), '\\s+'), x -> x != '')) AS w
        FROM documents)
  GROUP BY w
),
cells AS (
  SELECT j, CASE {cell_w} END AS cell, CAST(SUM(c) AS BIGINT) AS cell_c
  FROM tc CROSS JOIN (SELECT unnest([{js}]) AS j)
  GROUP BY 1, 2
),
probes AS (
  SELECT w AS term, c AS exact FROM tc
  ORDER BY c DESC, w LIMIT {CMS_TOPK}
),
est AS (
  SELECT term, exact, MIN(cell_c) AS cms_est
  FROM (SELECT term, exact, j, CASE {cell_t} END AS cell
        FROM probes CROSS JOIN (SELECT unnest([{js}]) AS j)) p
  JOIN cells USING (j, cell)
  GROUP BY term, exact
)
SELECT term, exact, cms_est, cms_est - exact AS overest FROM est
"""


def _word_trigrams(d: DataFrame) -> DataFrame:
    """(doc_id, term) word-trigram explosion — the shared sparse-space
    idiom (single words are all stopword-grade in this corpus: 31
    distinct at every SF; trigrams give 27k distinct at sf0.1).  Docs
    of <= 3 words contribute their whole text as the single term, so
    every doc has >= 1 term and shares are always well-defined."""
    return (d.select("doc_id", T.split_tokens("text").alias("t"))
        .select("doc_id", F.explode(F.expr(
            "CASE WHEN size(t) <= 3 THEN array(array_join(t, ' ')) "
            "ELSE transform(sequence(0, size(t) - 3), "
            "i -> array_join(slice(t, i + 1, 3), ' ')) END")).alias("term")))


_TRIGRAM_SQL = """
  SELECT doc_id,
         unnest(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                ELSE list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
                END) AS term
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        FROM documents)
"""


def _trigram_tfidf(d: DataFrame) -> DataFrame:
    """``(doc_id, term, df, w)``: the word-trigram tf-idf posting list
    of the sparse retrievers (``textops.sparse_cosine_pairs``,
    ``similarity.rrf_hybrid_retrieval``). Weights are integer MILLI
    units: ``tf * floor(1000 * round(ln((n + 1) / (df + 1)) + 1, 6)
    + 0.5)``, so every dot and norm built on them is an exact BIGINT in
    both engines."""
    tf = (_word_trigrams(d)
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (tf.join(dfreq, "term").crossJoin(F.broadcast(n))
            .select("doc_id", "term", "df",
                    F.expr("tf * CAST(floor(round(ln((n_docs + 1)"
                           " / (df + 1)) + 1, 6) * 1000 + 0.5)"
                           " AS BIGINT)").alias("w")))


# the oracle's ``_trigram_tfidf``, plus the per-doc squared norms
_TFIDF_SQL = f"""toks AS ({_TRIGRAM_SQL}), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
weights AS (
  SELECT doc_id, tf.term, df,
         tf * CAST(floor(round(ln((n_docs + 1) / (df + 1)) + 1, 6)
                         * 1000 + 0.5) AS BIGINT) AS w
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
), norms AS (
  SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS norm2
  FROM weights GROUP BY doc_id
)"""


def benchmark_decontamination(spark: SparkSession, sf_dir: str,
                              modulus: int = 97,
                              threshold_ppm: int = 500_000) -> DataFrame:
    """Benchmark DECONTAMINATION audit [EXT] — the step every serious
    training-data pipeline runs before a model ships: given a held-out
    benchmark set (here the deterministic ~1% sample ``doc_id %
    modulus == 0`` — a stand-in for MMLU/GSM8K-style eval files), find
    training docs whose word-trigram overlap with ANY benchmark
    n-gram exceeds a share threshold, and report the contamination
    rate per source.  N-gram-overlap decontamination is the published
    method (GPT-3 appendix C / Llama eval-decontamination); trigrams
    play the role of the 8-13-gram windows real pipelines use because
    this corpus' docs are sentence-sized.  Distinct from
    ``textops.decontamination_ngram_overlap`` (the per-doc HIT LIST:
    which train docs share any 8-gram, with how many eval docs): this
    is the GPT-3-style "dirtiness" SHARE — what fraction of the doc's
    own n-grams is benchmark-tainted — thresholded into a per-source
    contamination RATE, the number a data card reports.

    Scale: the benchmark n-gram set scales with the benchmark (~1% of
    corpus), so it is deduplicated and SHUFFLE-joined on the term key
    — never broadcast, never doc x doc.  Per-doc shares are one
    groupBy; the rollup is bounded by |sources|.  At 100 TB this is
    two shuffles on a term key whose cardinality the df distribution
    bounds."""
    d = table(spark, sf_dir, "documents")
    terms = _word_trigrams(d).distinct()
    # benchmark membership is a pure doc_id predicate — filter, never
    # a join (the benchmark is ~1% of the CORPUS, so it scales with
    # data and must not be broadcast)
    bench_terms = (terms.filter(F.col("doc_id") % modulus == 0)
                   .select("term").distinct())
    train = (terms.filter(F.col("doc_id") % modulus != 0)
             .join(d.select("doc_id", "source"), "doc_id"))
    hits = (train.join(bench_terms.withColumn("hit", F.lit(1)),
                       "term", "left")
            .groupBy("doc_id", "source")
            .agg(F.count(F.lit(1)).alias("n_terms"),
                 F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits")))
    scored = hits.select(
        "doc_id", "source",
        F.expr(ppm("n_hits", "n_terms")).alias("share_ppm"))
    return (scored.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs_checked"),
                 F.sum(F.when(F.col("share_ppm") >= threshold_ppm, 1)
                       .otherwise(0)).cast("bigint")
                 .alias("n_contaminated"),
                 F.max("share_ppm").alias("max_share_ppm"),
                 (F.sum("share_ppm").cast("bigint")
                  / F.count(F.lit(1))).cast("bigint")
                 .alias("avg_share_ppm"))
            .orderBy("source"))


BENCHMARK_DECONTAMINATION_SQL = f"""
WITH toks AS ({_TRIGRAM_SQL}),
terms AS (SELECT DISTINCT doc_id, term FROM toks),
bench_terms AS (
  SELECT DISTINCT term FROM terms WHERE doc_id % 97 = 0
), train AS (
  SELECT t.doc_id, d.source, t.term
  FROM terms t JOIN documents d ON t.doc_id = d.doc_id
  WHERE t.doc_id % 97 != 0
), hits AS (
  SELECT doc_id, source, COUNT(*) AS n_terms,
         SUM(CASE WHEN b.term IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
  FROM train LEFT JOIN bench_terms b USING (term)
  GROUP BY 1, 2
), scored AS (
  SELECT doc_id, source,
         CAST(n_hits * 1000000 // n_terms AS BIGINT) AS share_ppm
  FROM hits
)
SELECT source, COUNT(*) AS n_docs_checked,
       CAST(SUM(CASE WHEN share_ppm >= 500000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       CAST(MAX(share_ppm) AS BIGINT) AS max_share_ppm,
       CAST(CAST(SUM(share_ppm) AS BIGINT) // COUNT(*) AS BIGINT)
         AS avg_share_ppm
FROM scored
GROUP BY source
ORDER BY source
"""


def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram NOVELTY attribution [EXT]: for each doc, the share of
    its distinct word trigrams whose FIRST corpus occurrence (minimum
    doc_id — ingestion order) is that doc — the "how much genuinely
    new text does each source contribute" metric that complements
    dedup (dedup asks "is this a copy"; novelty asks "who wrote it
    first").  Rolled up per source: mean novelty share and the count
    of fully-novel docs.

    Scale: one groupBy per term for the first-occurrence table, one
    term-keyed shuffle join back, one per-doc groupBy, bounded
    rollup.  No self-join, no window."""
    d = table(spark, sf_dir, "documents")
    terms = _word_trigrams(d).distinct()
    first = terms.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (terms.join(first, "term")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_terms"),
                    F.sum(F.when(F.col("doc_id") == F.col("first_doc"), 1)
                          .otherwise(0)).alias("n_first")))
    scored = (per_doc
              .join(d.select("doc_id", "source"), "doc_id")
              .select("source",
                      F.expr(ppm("n_first", "n_terms")).alias("novel_ppm")))
    return (scored.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 (F.sum("novel_ppm").cast("bigint")
                  / F.count(F.lit(1))).cast("bigint")
                 .alias("avg_novel_ppm"),
                 F.sum(F.when(F.col("novel_ppm") == 1_000_000, 1)
                       .otherwise(0)).cast("bigint")
                 .alias("n_fully_novel"))
            .orderBy("source"))


NGRAM_NOVELTY_SQL = f"""
WITH toks AS ({_TRIGRAM_SQL}),
terms AS (SELECT DISTINCT doc_id, term FROM toks),
first AS (
  SELECT term, MIN(doc_id) AS first_doc FROM terms GROUP BY term
), per_doc AS (
  SELECT t.doc_id, COUNT(*) AS n_terms,
         SUM(CASE WHEN t.doc_id = f.first_doc THEN 1 ELSE 0 END)
           AS n_first
  FROM terms t JOIN first f USING (term)
  GROUP BY t.doc_id
), scored AS (
  SELECT d.source,
         CAST(p.n_first * 1000000 // p.n_terms AS BIGINT) AS novel_ppm
  FROM per_doc p JOIN documents d USING (doc_id)
)
SELECT source, COUNT(*) AS n_docs,
       CAST(CAST(SUM(novel_ppm) AS BIGINT) // COUNT(*) AS BIGINT)
         AS avg_novel_ppm,
       CAST(SUM(CASE WHEN novel_ppm = 1000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_fully_novel
FROM scored
GROUP BY source
ORDER BY source
"""


QUERIES: dict[str, QueryFn] = {
    "benchmark_decontamination": benchmark_decontamination,
    "ngram_novelty_score": ngram_novelty_score,
    "kmv_source_overlap": kmv_source_overlap,
    "cms_heavy_hitters": cms_heavy_hitters,
    "rendezvous_shard_plan": rendezvous_shard_plan,
    "cross_lang_fingerprint_spread": cross_lang_fingerprint_spread,
    "span_dedup_removal": span_dedup_removal,
    "vocab_coverage_curve": vocab_coverage_curve,
    "bpe_merge_candidates": bpe_merge_candidates,
    "unigram_entropy_scores": unigram_entropy_scores,
    "inverted_index_postings": inverted_index_postings,
    "events_gap_fill": events_gap_fill,
    "prefix_edit_near_dups": prefix_edit_near_dups,
    "zipf_fit_by_source": zipf_fit_by_source,
    "source_overlap_matrix": source_overlap_matrix,
    "corpus_datacard": corpus_datacard,
    "bpe_merge_apply": bpe_merge_apply,
    "cdc_chunking": cdc_chunking,
    "misra_gries_topk": misra_gries_topk,
    "embedding_principal_component": embedding_principal_component,
}

#: Valid in the exactness regime only (distinct terms <= k, true for
#: this corpus at every SF — 31 words < 64 counters): MG never
#: decrements, so est_lower is the exact count and err_bound is 0.
MISRA_GRIES_SQL = """
WITH counts AS (
  SELECT word AS term, COUNT(*) AS est_lower
  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
          AS word
        FROM documents)
  WHERE word != ''
  GROUP BY word
)
SELECT CAST(rn AS INT) AS rank, term,
       CAST(est_lower AS BIGINT) AS est_lower,
       CAST(0 AS BIGINT) AS err_bound
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY est_lower DESC, term) AS rn
      FROM counts)
WHERE rn <= 10
"""


ORACLES: dict[str, str] = {
    "benchmark_decontamination": BENCHMARK_DECONTAMINATION_SQL,
    "ngram_novelty_score": NGRAM_NOVELTY_SQL,
    "misra_gries_topk": MISRA_GRIES_SQL,
    "kmv_source_overlap": KMV_OVERLAP_SQL,
    "cms_heavy_hitters": _cms_sql(),
    "rendezvous_shard_plan": RENDEZVOUS_SHARD_SQL,
    "cross_lang_fingerprint_spread": CROSS_LANG_SPREAD_SQL,
    "zipf_fit_by_source": ZIPF_FIT_SQL,
    "source_overlap_matrix": SOURCE_OVERLAP_SQL,
    "corpus_datacard": CORPUS_DATACARD_SQL,
    "bpe_merge_apply": BPE_APPLY_SQL,
    "cdc_chunking": CDC_CHUNKING_SQL,
    "inverted_index_postings": INVERTED_INDEX_SQL,
    "events_gap_fill": EVENTS_GAP_FILL_SQL,
    "prefix_edit_near_dups": PREFIX_EDIT_SQL,
    "span_dedup_removal": SPAN_DEDUP_SQL,
    "vocab_coverage_curve": VOCAB_CURVE_SQL,
    "bpe_merge_candidates": BPE_MERGE_SQL,
    "unigram_entropy_scores": UNIGRAM_ENTROPY_SQL,
}
