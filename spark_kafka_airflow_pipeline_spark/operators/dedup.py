"""Deduplication operators over the documents table [EXT]:

- **exact**: hash-groupBy on the raw text (and on the canonical
  fingerprint) — one shuffle on the dedup key, keep min doc_id.
- **MinHash + banding LSH**: shingle -> 16-hash MinHash signature ->
  band buckets -> within-bucket combinations -> verify with true
  Jaccard. All JVM expressions (``xxhash64``), deterministic seed, no
  pyspark.ml dependency, no Python in the hot path.
- **SimHash**: 64-bit signature over char n-grams; ``simhash_buckets``
  groups identical signatures (Hamming-0), ``simhash_near_dups`` bands
  the signature 4 x 16 bits for exact recall at Hamming <= 3.
- **n-gram Jaccard**: char-level MinHash band blocking + pairwise
  verify (prefix blocking was a skew bomb on natural-language text).

Scale: the pairwise step only ever runs on LSH bucket candidates —
never a full cross join. Buckets are murmur3 of (band-slice); bucket
clique expansion is capped at ``MAX_BUCKET_CLIQUE`` members with star
pairs for the overflow, so even an adversarial mega-cluster of
identical documents costs O(n) candidates. The verify join's broadcast
decision is AQE's, made from runtime sizes (see
``verify_pairs_jaccard``).

The exact variants are SQL-oracle-able; MinHash/SimHash use Spark's
murmur3/xxhash64 which DuckDB lacks, so those register rows-only checks
(driver records weaker coverage; SURVEY.md §5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.functions import text as T
from spark_kafka_airflow_pipeline_spark.operators.base import (
    FIXPOINT_ITERS,
    QueryFn,
    min_label_fixpoint,
    ppm,
    table,
)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on text: keep the lowest doc_id per distinct text.
    min-per-group instead of dropDuplicates so the survivor is
    deterministic (dropDuplicates keeps an arbitrary row)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )


DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY text
"""


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on the canonical fingerprint (lowercase,
    whitespace-normalized md5) — catches case/whitespace variants."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", T.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


DEDUP_FINGERPRINT_SQL = f"""
SELECT {T.SQL_FINGERPRINT} AS fp,
       min(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivorship: per canonical fingerprint keep the
    HIGHEST-quality member (ties -> lowest doc_id), not the arbitrary
    first — the policy a real corpus dedup wants, since near-identical
    crawl copies differ in boilerplate/truncation.

    ``max_by`` over a (quality, -doc_id) struct does argmax selection
    inside ONE codegen hash aggregate — no window, no sort, one
    shuffle on the fingerprint; at 100 TB that beats the
    row_number-over-window form, which must sort every group."""
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", T.fingerprint("text").alias("fp"),
        T.quality_score("text").alias("q"))
    rank = F.struct(F.col("q"), (-F.col("doc_id")).alias("neg_id"))
    return (scored.groupBy("fp")
            .agg(F.max_by("doc_id", rank).alias("keep_doc_id"),
                 F.max("q").alias("best_q"),
                 F.count(F.lit(1)).alias("n_copies")))


# argmax mirrored as a window (DuckDB's arg_max disallows struct
# ordering keys); fingerprint / metric CTE / q come from the shared
# fragments in functions.text (single source of truth)
DEDUP_KEEP_BEST_SQL = f"""
WITH m AS (
  SELECT doc_id,
         {T.SQL_FINGERPRINT} AS fp,
{T.SQL_DOC_METRIC_COLS}
  FROM documents
),
scored AS (
  SELECT doc_id, fp,
         {T.SQL_QUALITY_FROM_METRICS} AS q
  FROM m
),
ranked AS (
  SELECT fp, doc_id, q,
         row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY fp) AS n_copies,
         MAX(q) OVER (PARTITION BY fp) AS best_q
  FROM scored
)
SELECT fp, doc_id AS keep_doc_id, best_q, n_copies
FROM ranked WHERE rn = 1
"""


def minhash_signature_agg(d: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", num_hashes: int = 16,
                          k: int = 3, seed: int = 42,
                          tokens=None) -> DataFrame:
    """Scalable MinHash: explode shingles to rows, compute the
    ``num_hashes`` family mins as whole-stage-codegen aggregates (one
    shuffle on the doc id). Each family is an INDEPENDENT hash: one
    xxhash64 per shingle string, then xxhash64(i, h64) per family —
    hashing the 8-byte long per family is far cheaper than re-hashing
    the string, and a distinct first argument makes a distinct function.

    NB: the obvious "universal family" shortcut ``min(h * odd_i + c_i)``
    is WRONG here twice over: without 64-bit wraparound the transform is
    MONOTONE, so every family selects the same argmin shingle and the
    whole signature degenerates to one effective hash function (at
    sf0.1 that admitted 60% of all doc pairs as LSH candidates —
    7.5M pairs from 5000 docs), and under ANSI mode (Spark 4 default)
    the wraparound that would fix it throws ARITHMETIC_OVERFLOW.

    ``tokens`` overrides the feature extractor: a function
    ``text_column -> array<string> Column`` (default: word ``k``-
    shingles; pass ``lambda c: T.char_ngrams(c, 3)`` for character-level
    MinHash).

    With only min-aggregates the whole aggregation stays a codegen'd
    HashAggregate — adding any collection aggregate (e.g. a per-doc
    feature set) demotes it to ObjectHashAggregate and ships
    corpus-sized array state through the shuffle; the verify step
    instead re-tokenizes ONLY candidate docs (see
    ``verify_pairs_jaccard``)."""
    tokens = tokens or (lambda c: T.shingles(c, k))
    # single-file tables arrive as ONE input split; spread rows before
    # the compute-heavy explode+hash so all cores work (at 100 TB the
    # scan has thousands of splits and this repartition coalesces into
    # the shuffle that groupBy needs anyway)
    par = d.sparkSession.sparkContext.defaultParallelism
    sh = (d.repartition(par, id_col)
          .select(F.col(id_col),
                  F.explode(tokens(F.col(text_col))).alias("s")))
    # feature may be a string (shingle text) or a long (hash-chain gram
    # identity, e.g. T.shingle_hashes_of) — xxhash64 hashes either
    h = F.xxhash64(F.lit(seed), F.col("s"))
    # xxhash64(i, h) per family: measured ~25% cheaper than the
    # murmur3 `hash(i, h)` equivalent at sf0.1 (both are independent
    # families via the distinct first argument; the multiply-add
    # shortcut is out — ANSI mode makes the wraparound throw).
    # F.expr instead of nested Column calls: one py4j roundtrip per
    # family instead of four (plan-build time is real at 16-32 hashes).
    mins = sh.select(id_col, h.alias("h")).groupBy(id_col).agg(
        *[F.expr(f"min(xxhash64({i}, h)) as m{i}")
          for i in range(num_hashes)],
    )
    return mins.select(
        id_col,
        F.array(*[f"m{i}" for i in range(num_hashes)]).alias("minhash"))


def _hash_token_fn(seed: int):
    """Closure factory for the token->hash lambda (a plain 2-arg lambda
    in a HOF would be reinterpreted as (element, index))."""
    return lambda s: F.xxhash64(F.lit(seed), s)


# Bound on the all-pairs (clique) expansion within one LSH bucket.
# Above this size a bucket is a mega-cluster (boilerplate pages, empty
# docs): emitting its full clique is O(n^2) pairs for zero extra dedup
# information, so members beyond the cap are connected by STAR pairs to
# the bucket's minimum doc id instead — O(n) pairs that keep every
# member attached to the cluster's survivor for connected-component
# dedup (pinned by tests/test_dedup_similarity.py::test_mega_cluster_cap).
MAX_BUCKET_CLIQUE = 256


def lsh_band_candidates(signatures: DataFrame, num_hashes: int, bands: int,
                        id_col: str = "doc_id",
                        sig_col: str = "minhash",
                        max_bucket: int = MAX_BUCKET_CLIQUE,
                        carry: str | None = None) -> DataFrame:
    """Candidate near-dup pairs from banded LSH over an array-typed
    signature column: split the signature into ``bands`` slices, hash
    each slice to a bucket, emit within-bucket pairs.

    Plan shape (scales to 100 TB):
      1. explode to (band, bucket, doc)                (narrow)
      2. group docs per bucket, explode combinations   (one shuffle)
    Intra-bucket pairs come from collect_list + combinations, NOT a
    bucket self-join — the signature pipeline runs exactly once (a
    self-join would recompute it per side).

    ``carry`` names a column to ship through the bucket pipeline onto
    the emitted pairs as ``carry_a`` / ``carry_b`` (e.g. the signature
    itself, for a pair-local similarity estimate) — joining pairs back
    to the signature table would recompute the whole signature pipeline
    once per join side; carrying costs only ``bands`` copies of the
    (small, fixed-size) signature through one shuffle.

    Pairs are NOT deduplicated: a pair can appear up to ``bands`` times.
    The callers collapse multi-band duplicates downstream (a pair-keyed
    groupBy or dedup), so a dedup shuffle here would be paid twice.

    Adversarial skew guard: a bucket's clique expansion is capped at
    ``max_bucket`` members (C(256,2) ~ 32k pairs); members beyond the
    cap each emit ONE star pair to the bucket's min doc id, so a
    100 TB corpus with a million identical boilerplate pages yields
    O(n) candidates for that cluster, not O(n^2), and every member
    still reaches the cluster survivor through the star center.
    """
    rows_per_band = num_hashes // bands
    member_fields = [F.col(id_col).alias("id")]
    if carry:
        member_fields.append(F.col(carry).alias("c"))
    banded = (
        signatures
        .select(F.struct(*member_fields).alias("m"), F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(F.slice(sig_col, b * rows_per_band + 1, rows_per_band))
                .alias("bucket"),
            )
            for b in range(bands)
        ])).alias("bb"))
        .select("m", "bb.band", "bb.bucket")
    )

    def pair(x, y):
        fields = [x["id"].alias("doc_a"), y["id"].alias("doc_b")]
        if carry:
            fields += [x["c"].alias("carry_a"), y["c"].alias("carry_b")]
        return F.struct(*fields)

    # "capped" must be a bound attribute, not a derived slice expression:
    # the inner lambda CAPTURES it, and a captured expression re-evaluates
    # per element — the slice would be copied O(bucket^2) times (see
    # functions.text.raw_shingles for the same pitfall)
    capped = F.col("capped")
    clique_pairs = F.flatten(F.transform(
        capped,
        lambda x, i: F.transform(
            F.slice(capped, i + 2,
                    F.greatest(F.size(capped) - i - 1, F.lit(0))),
            lambda y: pair(x, y)),
    ))
    star_pairs = F.transform(
        F.slice(F.col("docs"), max_bucket + 1,
                F.greatest(F.size(F.col("docs")) - max_bucket, F.lit(0))),
        lambda y: pair(F.element_at(F.col("docs"), 1), y),
    )
    pair_structs = F.filter(F.concat(clique_pairs, star_pairs),
                            lambda p: p.isNotNull())
    out = ["p.doc_a", "p.doc_b"] + (["p.carry_a", "p.carry_b"] if carry else [])
    return (
        banded.groupBy("band", "bucket")
        # sort_array on the member structs orders by id (first field),
        # keeping the star center (min id) deterministic
        .agg(F.sort_array(F.collect_list("m")).alias("docs"))
        .filter(F.size("docs") > 1)
        .withColumn("capped", F.slice(F.col("docs"), 1, max_bucket))
        .select(F.explode(pair_structs).alias("p"))
        .select(*out)
    )


def estimate_filter_pairs(cand: DataFrame, num_hashes: int,
                          jaccard_threshold: float) -> DataFrame:
    """Cheap pair-local pre-filter on candidate pairs that carry their
    MinHash signatures (``carry_a``/``carry_b``): keep pairs whose
    signature-agreement fraction (an unbiased Jaccard estimate) clears
    ``jaccard_threshold`` minus 3.5 binomial sigma — pairs genuinely at
    the threshold survive with P > 0.9997, while the spurious bulk of a
    high-collision blocking key (char-gram buckets admit ~150k
    candidates per 255 true pairs at sf0.1 — 0.17% precision) is
    dropped before the expensive exact verify. Pure codegen comparisons,
    no joins, no tokenization."""
    terms = "+".join(
        f"if(carry_a[{i}]=carry_b[{i}],1,0)" for i in range(num_hashes))
    est = F.expr(f"({terms})/{num_hashes}d")
    sigma = (jaccard_threshold * (1 - jaccard_threshold) / num_hashes) ** 0.5
    tau = max(0.0, jaccard_threshold - 3.5 * sigma)
    return cand.filter(est >= tau).select("doc_a", "doc_b")


def verify_pairs_jaccard(cand: DataFrame, docs: DataFrame, tokens,
                         jaccard_threshold: float,
                         seed: int = 42,
                         featurize: str = "pairs",
                         doc_features=None) -> DataFrame:
    """Keep candidate (doc_a, doc_b) pairs whose TRUE Jaccard (on the
    64-bit feature-hash sets — identical to string-set Jaccard up to
    hash collisions) clears the threshold.

    The pair list is MELTED to (pair, side, doc_id) and joined with
    ``docs``; ``featurize`` picks WHERE tokenization runs, matching the
    candidate regime:

    - ``"pairs"`` (default): tokenize + ``array_distinct`` as per-row
      expressions on the JOINED rows — O(candidate pairs), nothing
      corpus-wide. Right when candidates are rare relative to the
      corpus (word-shingle MinHash: ~255 candidates from 5000 docs at
      sf0.1). A doc in k pairs tokenizes k times; k is bounded by the
      bucket clique cap.
    - ``"docs"``: tokenize ONCE per document as a corpus projection and
      join the feature sets to the melted pairs — one extra corpus
      pass, but each doc featurizes exactly once. Right when the
      blocking key is low-precision and candidates blanket the corpus
      (char-trigram buckets: ~150k candidates at sf0.1; tokenizing per
      pair-slot there was measured 5x slower than the corpus pass).

    Neither mode uses a collection AGGREGATE: the r2 shape that fused
    ``collect_set(h)`` into the signature aggregate demoted the whole
    16-min HashAggregate to ObjectHashAggregate (no whole-stage
    codegen) and shuffled a corpus-sized array per doc.

    Broadcast posture: NO hint, NO driver-side count — AQE decides at
    runtime from the ACTUAL shuffle sizes. A small candidate set (the
    normal case) broadcasts; a high-dup corpus whose melted pairs
    exceed ``spark.sql.autoBroadcastJoinThreshold`` stays a shuffle
    join. This supersedes r2's counted ``MAX_BROADCAST_PAIRS`` guard,
    which needed either a persisted candidate frame (a CacheManager
    leak per call — the r2 ADVICE finding) or a second run of the
    candidate lineage to pay for the count. AQE's size check is also
    strictly safer: it bounds broadcast BYTES, not a pair-count proxy.
    The shuffle path is exercised in tests by disabling the broadcast
    threshold (tests/test_dedup_similarity.py).
    """
    melted = cand.select(
        "doc_a", "doc_b",
        F.explode(F.array(
            F.struct(F.lit("a").alias("side"), F.col("doc_a").alias("doc_id")),
            F.struct(F.lit("b").alias("side"), F.col("doc_b").alias("doc_id")),
        )).alias("s")).select("doc_a", "doc_b", "s.side", "s.doc_id")
    sh_expr = F.array_distinct(F.transform(tokens(F.col("text")),
                                           _hash_token_fn(seed)))
    if featurize == "docs":
        feats = (doc_features(docs) if doc_features is not None
                 else docs.select("doc_id", sh_expr.alias("sh")))
        joined = melted.join(feats, "doc_id")
    else:
        joined = melted.join(docs, "doc_id").withColumn("sh", sh_expr)
    pairs = (
        joined.groupBy("doc_a", "doc_b")
        .agg(F.first(F.when(F.col("side") == "a", F.col("sh")),
                     ignorenulls=True).alias("sh_a"),
             F.first(F.when(F.col("side") == "b", F.col("sh")),
                     ignorenulls=True).alias("sh_b"))
    )
    return (
        pairs
        .withColumn("jaccard", F.round(T.jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str,
                      num_hashes: int = 16, bands: int = 4,
                      jaccard_threshold: float = 0.5) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with true shingle
    Jaccard. Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    ONE corpus tokenize total (the codegen min-agg signature pass) ->
    banded buckets -> within-bucket combinations carrying the
    signatures -> signature-agreement pre-filter
    (``estimate_filter_pairs``, codegen, no joins) -> exact Jaccard
    verify that re-tokenizes ONLY the docs in surviving pairs
    (O(survivors), see ``verify_pairs_jaccard``). The full cross join
    never happens and no stage re-reads the corpus. Rows-only
    correctness check (xxhash64 not in DuckDB).
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # gram IDENTITY (hash-of-token-hashes), not gram text: the k-1
    # zip_with passes move fixed-width longs instead of building
    # O(k^2)-char shingle strings — measured 3x faster on the sf0.1
    # signature pass (0.20s vs 0.63s), same Jaccard up to 64-bit
    # collisions; the md5 twin keeps the string family for
    # portability, this murmur3/xxhash production path is free to
    # pick the fast space
    tokens = lambda c: T.shingle_hashes_of(T.token_hashes(c), 3)  # noqa: E731
    sigs = minhash_signature_agg(d, num_hashes=num_hashes, tokens=tokens)
    cand = lsh_band_candidates(sigs, num_hashes, bands, carry="minhash")
    good = estimate_filter_pairs(cand, num_hashes, jaccard_threshold)
    return verify_pairs_jaccard(good, d, tokens, jaccard_threshold)


def incremental_dedup_minhash(spark: SparkSession, sf_dir: str,
                              new_source: str = "src0",
                              num_hashes: int = 16, bands: int = 4,
                              jaccard_threshold: float = 0.5) -> DataFrame:
    """Near-duplicate screen of a NEW ingestion batch (one crawl
    source) against the EXISTING corpus — the approximate twin of
    ``incremental_dedup_exact`` and the steady-state form of MinHash
    dedup in a production pipeline (the corpus is never re-paired
    against itself; only cross-side pairs are emitted).

    One signature pass over corpus+batch together (a per-doc ``is_new``
    flag rides the doc-id groupBy as a ``first`` aggregate — still a
    codegen HashAggregate), shared band buckets CARRY (signature,
    is_new), pairs are filtered to cross-side before the agreement
    pre-filter and the exact Jaccard verify. Returns
    (new_doc_id, corpus_doc_id, jaccard).

    Recall caveat (documented, adversarial only): in a bucket larger
    than the clique cap, capped-out members connect via star pairs to
    the bucket's min-id member; a new doc whose only corpus dup is
    also capped out is reached only through the (possibly same-side,
    filtered) star center. Rows-only check (xxhash64 not in DuckDB).
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    # hash-chain gram identity — same fast feature space as
    # minhash_lsh_pairs (see the rationale there)
    tokens = lambda c: T.shingle_hashes_of(T.token_hashes(c), 3)  # noqa: E731
    par = spark.sparkContext.defaultParallelism
    base = d.select("doc_id", "text",
                    (F.col("source") == new_source).alias("is_new"))
    sh = (base.repartition(par, "doc_id")
          .select("doc_id", "is_new",
                  F.explode(tokens(F.col("text"))).alias("s")))
    mins = (sh.select("doc_id", "is_new",
                      F.xxhash64(F.lit(42), "s").alias("h"))
            .groupBy("doc_id")
            .agg(F.first("is_new").alias("is_new"),
                 *[F.expr(f"min(xxhash64({i}, h)) as m{i}")
                   for i in range(num_hashes)]))
    arr = F.array(*[f"m{i}" for i in range(num_hashes)])
    sigs = mins.select(
        "doc_id", arr.alias("minhash"),
        F.struct(arr.alias("minhash"), F.col("is_new").alias("is_new"))
        .alias("cw"))
    cand = lsh_band_candidates(sigs, num_hashes, bands, carry="cw")
    cross = cand.filter(
        F.col("carry_a.is_new") != F.col("carry_b.is_new"))
    terms = "+".join(
        f"if(carry_a.minhash[{i}]=carry_b.minhash[{i}],1,0)"
        for i in range(num_hashes))
    est = F.expr(f"({terms})/{num_hashes}d")
    sigma = (jaccard_threshold * (1 - jaccard_threshold) / num_hashes) ** 0.5
    tau = max(0.0, jaccard_threshold - 3.5 * sigma)
    good = (cross.filter(est >= tau)
            .select(F.when(F.col("carry_a.is_new"), F.col("doc_a"))
                    .otherwise(F.col("doc_b")).alias("doc_a"),
                    F.when(F.col("carry_a.is_new"), F.col("doc_b"))
                    .otherwise(F.col("doc_a")).alias("doc_b")))
    pairs = verify_pairs_jaccard(good, d.select("doc_id", "text"),
                                 tokens, jaccard_threshold)
    return pairs.select(F.col("doc_a").alias("new_doc_id"),
                        F.col("doc_b").alias("corpus_doc_id"),
                        "jaccard")


def simhash64_agg(d: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", ngram: int = 3) -> DataFrame:
    """Scalable SimHash-64: explode char n-grams, hash each ONCE, then 64
    codegen'd conditional sums per doc (one shuffle on doc id).

    The pure-expression ``functions.text.simhash64`` is fine for small
    arrays but re-evaluates the gram-hash array per bit filter (64x) in
    interpreted higher-order functions; this aggregation form is the
    100 TB path: whole-stage-codegen sums over a (doc, gram_hash) stream.
    """
    par = d.sparkSession.sparkContext.defaultParallelism
    # r17 NOTE: the explode-raw + `.distinct()` gram build that won 8x
    # in ngram_jaccard_md5_pairs was A/B'd here too and REVERTED — for
    # this op the downstream is already one doc-keyed aggregate, and
    # the standalone (doc, gram-string) distinct measured a wash-to-
    # slightly-slower (interleaved medians 3.6 old vs 4.1 new at
    # sf0.1); the two builds' equivalence stays pinned by
    # tests/test_dedup_similarity.py::test_simhash_gram_build_parity.
    grams = d.repartition(par, id_col).select(
        F.col(id_col),
        F.explode(T.char_ngrams(F.col(text_col), ngram)).alias("g"),
    ).select(id_col, F.xxhash64("g").alias("h"))
    bit_counts = grams.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.shiftrightunsigned("h", b).bitwiseAND(F.lit(1)).cast("long"))
          .alias(f"c{b}") for b in range(64)],
    )
    sig = bit_counts.select(
        id_col,
        sum(
            (F.when(F.col(f"c{b}") * 2 >= F.col("n"),
                    F.shiftleft(F.lit(1).cast("long"), b))
             .otherwise(F.lit(0).cast("long")) for b in range(64)),
            start=F.lit(0).cast("long"),
        ).alias("sig"),
    )
    return sig


def simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 dedup: docs sharing an identical 64-bit signature are
    near-dup candidates. Returns signature groups with >1 member.
    Rows-only check (xxhash64 not in DuckDB)."""
    d = table(spark, sf_dir, "documents")
    return (
        simhash64_agg(d)
        .groupBy("sig")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.array_join(F.transform(F.sort_array(F.collect_list("doc_id")),
                                      lambda x: x.cast("string")), ",")
             .alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def ngram_jaccard_dups(spark: SparkSession, sf_dir: str,
                       threshold: float = 0.9,
                       num_hashes: int = 32, bands: int = 4) -> DataFrame:
    """Character-3-gram Jaccard near-dups, blocked by CHARACTER-level
    MinHash band buckets (vs the word-shingle MinHash of
    ``minhash_lsh_pairs`` — char grams catch within-word edits and
    whitespace/punctuation variants that word shingles blow up on).

    Blocking was previously the first-16-chars of canonical text — a
    skew bomb: natural-language prefixes ("the ...") collide massively,
    making within-block pairs quadratic on real corpora. MinHash band
    buckets distribute uniformly by construction; block size tracks
    true near-dup cluster size, not prefix popularity (pinned by
    ``tests/test_dedup_similarity.py::test_ngram_blocking_skew``).

    Band geometry matters MORE for char grams than word shingles: two
    unrelated same-language docs already share ~0.3-0.5 of their
    trigram set, so a permissive S-curve (8 bands x 2 rows: P=0.9 at
    j=0.5!) admits nearly every pair and the verify join goes quadratic
    (measured 106 s at sf0.1). 4 bands x 8 rows puts the knee at the
    0.9 threshold: P[candidate] = 1-(1-j^8)^4 = 0.90 at j=0.9 (1.0 for
    exact dups) but 0.015 at j=0.5. Rows-only check (murmur3 not in
    DuckDB).
    """
    # gram IDENTITIES as char-hash chains (T.char_hashes +
    # shingle_hashes_of over the bound column) — never the n-gram
    # strings; measured 2.4x faster feature extraction with identical
    # distinct counts. The chain column must be bound (withColumn)
    # before the fold — see the HOF-capture rule in functions.text.
    d = (table(spark, sf_dir, "documents")
         .select("doc_id", "text")
         .withColumn("ch", T.char_hashes(F.col("text"))))
    grams = lambda ch: T.shingle_hashes_of(ch, 3)  # noqa: E731
    sigs = minhash_signature_agg(d, text_col="ch", num_hashes=num_hashes,
                                 tokens=grams)
    cand = lsh_band_candidates(sigs, num_hashes, bands, carry="minhash")
    good = estimate_filter_pairs(cand, num_hashes, threshold)
    return verify_pairs_jaccard(
        good, d, grams, threshold, featurize="docs",
        doc_features=lambda docs: docs.select(
            "doc_id", grams(F.col("ch")).alias("sh")))


def simhash_near_dups(spark: SparkSession, sf_dir: str,
                      max_hamming: int = 3) -> DataFrame:
    """Banded Hamming-k SimHash near-dups: split the 64-bit signature
    into 4 x 16-bit bands, bucket per band, verify candidates with the
    true Hamming distance. By pigeonhole, any pair within
    ``max_hamming`` <= 3 differing bits shares at least one intact band,
    so recall at Hamming<=3 is exact — unlike ``simhash_buckets``,
    which only finds identical signatures (Hamming-0).

    Plan: one signature pass -> 4-way band explode CARRYING the 64-bit
    signature -> within-bucket combinations (one shuffle) ->
    xor/bit_count verify directly on the carried pair; never a cross
    join, and no join back to the signature table (each such join
    re-ran the whole corpus signature pass — 3 corpus passes total
    before r3). Rows-only check (xxhash64 not in DuckDB).
    """
    d = table(spark, sf_dir, "documents")
    sigs = simhash64_agg(d)
    # 16-bit band values as an array signature -> reuse the banded-LSH
    # candidate machinery (4 bands of 1 array slot each)
    band_sigs = sigs.select(
        "doc_id", "sig",
        F.array(*[F.shiftrightunsigned("sig", 16 * b)
                  .bitwiseAND(F.lit(0xFFFF)).cast("int")
                  for b in range(4)]).alias("bands"),
    )
    cand = lsh_band_candidates(band_sigs, num_hashes=4, bands=4,
                               sig_col="bands", carry="sig")
    return (
        cand.withColumn("hamming",
                        F.bit_count(F.col("carry_a").bitwiseXOR(F.col("carry_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_clusters(spark: SparkSession, sf_dir: str,
                   rounds: int = 2) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    MinHash-LSH pair graph via ``rounds`` of min-label propagation —
    the survivor-selection step of corpus dedup (every member maps to
    its cluster's minimum doc_id).

    Each round joins labels to the symmetric edge list and takes the
    elementwise min (one shuffle per round, both on doc id). Near-dup
    clusters are dense (cliques/stars around the min member — the LSH
    cap in ``lsh_band_candidates`` emits star pairs by construction),
    and min-label reach roughly doubles per round (a neighbor's label
    may itself be several hops old), so 2 rounds resolves diameter-3
    chains — ample for real corpora; a production run at unknown
    diameter iterates to fixpoint with periodic reliable checkpoints
    instead of a fixed round count.

    The verified pair list is materialized ONCE with an eager
    ``localCheckpoint`` before the loop: every round consumes the edge
    list twice (both join directions), so leaving it lazy re-ran the
    whole MinHash pipeline ~3x (measured 24.7s -> 8.5s at sf0.1).
    localCheckpoint truncates lineage WITHOUT pinning a CacheManager
    entry — the blocks die with the RDD reference, so a lazily-returned
    frame doesn't leak cache state into a long-lived session (the r2
    ADVICE leak class). Iterative graph algorithms also NEED the
    truncation: per-round lineage growth is what checkpointing exists
    for. Rows-only check (murmur3 not in DuckDB); chain-transitivity
    pinned by ``tests/test_dedup_similarity.py::test_dedup_clusters_chain``.
    """
    d = table(spark, sf_dir, "documents").select("doc_id")
    pairs = (minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
             .localCheckpoint(eager=True))
    sym = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")) \
        .union(pairs.select(F.col("doc_b").alias("src"),
                            F.col("doc_a").alias("dst")))
    labels = d.select("doc_id", F.col("doc_id").alias("label"))
    for _ in range(rounds):
        nb = (sym.join(labels.withColumnsRenamed(
                  {"doc_id": "dst", "label": "dst_label"}), "dst")
              .groupBy("src").agg(F.min("dst_label").alias("nb_label")))
        labels = (labels.join(nb, labels.doc_id == nb.src, "left")
                  .select("doc_id",
                          F.least("label", F.coalesce("nb_label", "label"))
                          .alias("label")))
    # Fixed-round by design (no per-round convergence count), but the
    # soak telemetry reads one registry for the whole cluster family —
    # a constant 2 here documents that this op's scale curve CANNOT be
    # iteration growth (unlike its fixpoint twins). Semantics differ
    # from the fixpoint members: this is the PROPAGATION round count
    # with no zero-change confirming round (a fixpoint twin doing the
    # same physical work would read one higher), and being a design
    # constant it is recorded at plan-build time — execution-
    # independent, so the usual lazy-write staleness concern doesn't
    # apply. It writes no FIXPOINT_CONVERGED entry: there is no
    # convergence check to report.
    FIXPOINT_ITERS["dedup_clusters"] = rounds
    return (labels.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") > 1)
            .select(F.col("label").alias("cluster_id"), "n_docs"))


# ----------------------------------------------------------------------
# md5-based MinHash: the engine-PORTABLE twin of minhash_lsh_pairs
# ----------------------------------------------------------------------

_MH_P = 1_000_000_007  # modulus: products stay under int64
_MH_COEFFS = ((384752429, 284920291), (583158611, 132907219),
              (748192853, 952760839), (114027587, 844302611),
              (270028169, 724470217), (906347687, 151834219),
              (482970317, 641053969), (867043411, 308805101))


def minhash_md5_pairs(spark: SparkSession, sf_dir: str,
                      threshold: float = 0.5) -> DataFrame:
    """MinHash+LSH near-dup pairs with an md5-derived gram hash —
    the exactly-ORACLED twin of ``minhash_lsh_pairs``. The production
    variant uses murmur3 (faster, JVM-only) and is necessarily
    rows-only; this one derives the gram hash from md5 (bit-identical
    in Spark and DuckDB), so the ENTIRE banding algorithm — signature
    mins, band bucketing, candidate generation, exact-Jaccard verify —
    is value-hash-verified against an independent SQL implementation.
    Same topology as the production path: one signature aggregation
    pass, band-key self-join on the tiny signature table (never
    doc x doc), verify join on candidates only.

    8 permutations h_i(g) = (a_i * (H(g) mod p) + b_i) mod p over
    H(g) = first 15 hex chars of md5(gram) (60 bits, exact in BIGINT),
    banded 4x2. Candidates depend only on the deterministic hashes, so
    both engines generate the identical candidate set — the
    probabilistic recall of banding does not perturb the oracle."""
    d = (table(spark, sf_dir, "documents")
         .select("doc_id", T.split_tokens("text").alias("toks"))
         .select("doc_id",
                 F.array_distinct(T.raw_shingles_of(F.col("toks"), 3))
                 .alias("grams")))
    return md5_minhash_verified_pairs(d, threshold)


def md5_band_candidates(d: DataFrame) -> DataFrame:
    """The md5-portable LSH CANDIDATE set over a prepared
    ``(doc_id, grams)`` frame — the banding front half of
    ``md5_minhash_verified_pairs``, factored out so blocking-quality
    audits can measure the candidate set itself. Returns distinct
    (doc_a < doc_b) pairs.

    Plan shape: the signature table (one fixed-width row per doc) is
    materialized ONCE (localCheckpoint) and the band keys explode from
    an array in one projection — the r9 census found the old
    4-union + self-join form re-ran the tokenize+signature pipeline
    8x (once per union arm per join side). The production murmur3
    path avoids the self-join entirely via collect_list combinations
    (``lsh_band_candidates``); the md5 twin keeps the join-based
    banding because the ORACLE mirrors it literally, and the
    checkpoint makes its cost one signature pass, same as production."""
    g = d.select("doc_id", F.explode("grams").alias("g"))
    h_raw = F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint")
    hp = h_raw % _MH_P
    sig = (g.groupBy("doc_id").agg(
        *[F.min((F.lit(a) * hp + F.lit(b)) % _MH_P).alias(f"h{i}")
          for i, (a, b) in enumerate(_MH_COEFFS)])
        .localCheckpoint(eager=True))
    bands = sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.concat_ws(":", F.lit(i // 2),
                        F.col(f"h{i}"), F.col(f"h{i + 1}"))
            for i in range(0, 8, 2)])).alias("bk"))
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.bk") == F.col("b.bk"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


def blocking_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit [EXT] — the record-linkage-standard
    REDUCTION RATIO / PAIR COMPLETENESS evaluation of the LSH banding
    (Christen 2012): against the resolvable ground truth of exact
    near-duplicates (canonical-fingerprint equality, the
    ``dedup_fingerprint`` relation), how many of the C(N,2) possible
    comparisons does banding avoid (RR), and what fraction of the true
    duplicate pairs does the candidate set still contain (PC)? The
    one-row report that justifies a blocking scheme before anyone
    trusts its dedup output.

    All-integer: truth pairs = sum C(k,2) over fingerprint clusters;
    total pairs N(N-1)/2 in DECIMAL(38,0) (BIGINT overflows at ~4e9
    docs); RR/PC in ppm. PC is NULL when the corpus has no exact-dup
    truth (stated; both engines agree on the NULL).

    Scale: fingerprint groupBy + the banded candidate join (never
    doc x doc) + one candidate-sized fingerprint equality join."""
    # The grams frame is localCheckpoint-ed BEFORE md5_band_candidates
    # explodes it (r17): over a live lineage, InferFiltersFromGenerate
    # derives `size(grams) > 0` from the explode and filter pushdown
    # INLINES the whole tokenize+shingle construction into that
    # per-row Filter — the gram pipeline evaluated twice per row, and
    # the transform-lambda's captured split() re-evaluated per element
    # (measured 5.7 s vs 2.6 s for the zip_with form, vs 1.9 s with
    # this barrier at sf0.1). Behind a materialized LogicalRDD the
    # inferred filter reads the built array — cheap.
    gd = (table(spark, sf_dir, "documents")
          .select("doc_id", T.split_tokens("text").alias("toks"))
          .select("doc_id",
                  F.array_distinct(T.raw_shingles_of(F.col("toks"), 3))
                  .alias("grams"))
          .localCheckpoint(eager=True))
    fp = (table(spark, sf_dir, "documents")
          .select("doc_id", T.fingerprint("text").alias("fp")))
    truth = (fp.groupBy("fp").agg(F.count(F.lit(1)).alias("k"))
             .agg(F.sum(F.expr("k * (k - 1) DIV 2")).cast("bigint")
                  .alias("truth_pairs")))
    cand = md5_band_candidates(gd)
    found = (cand
             .join(fp.withColumnsRenamed({"doc_id": "doc_a", "fp": "fa"}),
                   "doc_a")
             .join(fp.withColumnsRenamed({"doc_id": "doc_b", "fp": "fb"}),
                   "doc_b")
             .agg(F.count(F.lit(1)).alias("candidate_pairs"),
                  F.sum(F.expr("CASE WHEN fa = fb THEN 1 ELSE 0 END"))
                  .cast("bigint").alias("truth_found")))
    n = fp.agg(F.count(F.lit(1)).alias("n_docs"))
    # below 2 docs there is no pair universe to audit (and C(N,2) = 0
    # would divide by zero) — emit no row (module empty-input
    # invariant: empty in, empty out with the declared schema)
    return (n.crossJoin(F.broadcast(truth)).crossJoin(F.broadcast(found))
            .filter(F.col("n_docs") >= 2)
            .select(
                F.col("n_docs").cast("bigint").alias("n_docs"),
                "truth_pairs", "candidate_pairs", "truth_found",
                F.expr(ppm(
                    "CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) DIV 2 "
                    "- candidate_pairs",
                    "CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) DIV 2"))
                .alias("reduction_ratio_ppm"),
                F.expr("CASE WHEN truth_pairs > 0 THEN " +
                       ppm("truth_found", "truth_pairs") +
                       " END").alias("pair_completeness_ppm")))




def fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record-linkage weights [EXT]
    (the 1969 framework behind Splink/RecordLinkage): for each
    comparison field (lang / source / length bucket), estimate
    m = P(field agrees | pair is a match) from labeled MATCH pairs
    (the exactly-oracled md5-LSH VERIFIED near-dup pairs, Jaccard >=
    0.5 — truth grounded in TEXT similarity, independent of the
    metadata fields being weighted) and u = P(agrees | unmatch) from a
    deterministic pseudo-random pairing of the corpus (md5-ordered
    consecutive pairing, fingerprint-distinct), then the
    log-likelihood-ratio agreement/disagreement weights a linkage
    scorer sums per field.

    Portability: m/u are integer-ppm (clamped to [1, 999999] so ln is
    finite both sides); weights are 6dp-rounded ln in integer micros.

    Scale: match pairs ride the banded LSH pipeline (never doc x doc);
    unmatch pairs from ``global_row_number`` over the md5 shuffle
    order + consecutive pairing — one two-phase rank, one
    co-partitioned equi-join."""
    from spark_kafka_airflow_pipeline_spark.operators.scaleops import (
        global_row_number,
    )

    d = (table(spark, sf_dir, "documents")
         .select("doc_id", "lang", "source",
                 F.expr("n_chars DIV 100").alias("len_bucket"),
                 T.fingerprint("text").alias("fp")))
    grams = (table(spark, sf_dir, "documents")
             .select("doc_id", T.split_tokens("text").alias("toks"))
             .select("doc_id",
                     F.array_distinct(T.raw_shingles_of(F.col("toks"), 3))
                     .alias("grams")))
    meta_a = d.select(F.col("doc_id").alias("doc_a"),
                      F.col("lang").alias("la"),
                      F.col("source").alias("sa"),
                      F.col("len_bucket").alias("ka"))
    meta_b = d.select(F.col("doc_id").alias("doc_b"),
                      F.col("lang").alias("lb"),
                      F.col("source").alias("sb"),
                      F.col("len_bucket").alias("kb"))
    match_pairs = (md5_minhash_verified_pairs(grams, threshold=0.5)
                   .select("doc_a", "doc_b")
                   .join(meta_a, "doc_a").join(meta_b, "doc_b"))
    shuffled = global_row_number(
        d, F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":fsu")))
        .asc(), F.col("doc_id").asc(), out="rn")
    left = (shuffled.filter(F.col("rn") % 2 == 1)
            .select((F.col("rn") + 1).alias("pid"), "lang", "source",
                    "len_bucket", "fp"))
    right = (shuffled.filter(F.col("rn") % 2 == 0)
             .select(F.col("rn").alias("pid"),
                     F.col("lang").alias("lb"),
                     F.col("source").alias("sb"),
                     F.col("len_bucket").alias("kb"),
                     F.col("fp").alias("fpb")))
    unmatch_pairs = (left.join(right, "pid")
                     .filter(F.col("fp") != F.col("fpb"))
                     .select(F.col("lang").alias("la"), "lb",
                             F.col("source").alias("sa"), "sb",
                             F.col("len_bucket").alias("ka"), "kb"))

    # ONE aggregate per pair set (three per-field sums in one pass),
    # then a 1-row stack fan-out — aggregating per field separately
    # would re-run the whole LSH / two-phase-rank lineage three times
    # (10x soak measured 3.3x; ~1.8x after)
    def field_stats(pairs: DataFrame, tag: str) -> DataFrame:
        one = pairs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CASE WHEN la = lb THEN 1 ELSE 0 END")).alias("al"),
            F.sum(F.expr("CASE WHEN sa = sb THEN 1 ELSE 0 END")).alias("as_"),
            F.sum(F.expr("CASE WHEN ka = kb THEN 1 ELSE 0 END")).alias("ak"))
        return one.select(F.expr(
            "stack(3, 'lang', al, 'source', as_, 'len_bucket', ak) "
            f"AS (field, agree_{tag})"), F.col("n").alias(f"n_{tag}"))

    # no weights are estimable without BOTH labeled samples — and an
    # empty corpus yields the module's empty-in/empty-out invariant
    rows = (field_stats(match_pairs, "m")
            .join(field_stats(unmatch_pairs, "u"), "field")
            .filter((F.col("n_m") > 0) & (F.col("n_u") > 0)))
    clamp = "GREATEST(LEAST({x}, 999999), 1)"
    m_ppm = clamp.format(x="agree_m * 1000000 DIV n_m")
    u_ppm = clamp.format(x="agree_u * 1000000 DIV n_u")
    w = ("CAST(floor(round(ln(CAST({m} AS DOUBLE) / {u}), 6) "
         "* 1000000.0 + 0.5) AS BIGINT)")
    return rows.select(
        "field",
        F.col("n_m").cast("bigint").alias("n_match_pairs"),
        F.col("n_u").cast("bigint").alias("n_unmatch_pairs"),
        F.expr(f"CAST({m_ppm} AS BIGINT)").alias("m_ppm"),
        F.expr(f"CAST({u_ppm} AS BIGINT)").alias("u_ppm"),
        F.expr(w.format(m=m_ppm, u=u_ppm)).alias("agree_weight_micro"),
        F.expr(w.format(m=f"(1000000 - {m_ppm})",
                        u=f"(1000000 - {u_ppm})"))
        .alias("disagree_weight_micro"))


def _fs_sql() -> str:
    clamp = "GREATEST(LEAST({x}, 999999), 1)"
    m_ppm = clamp.format(x="agree_m * 1000000 // n_m")
    u_ppm = clamp.format(x="agree_u * 1000000 // n_u")
    w = ("CAST(floor(round(ln(CAST({m} AS DOUBLE) / {u}), 6) "
         "* 1000000.0 + 0.5) AS BIGINT)")
    fields = (("lang", "lang"), ("source", "source"),
              ("len_bucket", "len_bucket"))
    m_sel = "\n  UNION ALL\n".join(
        f"  SELECT '{n}' AS field, COUNT(*) AS n_m,"
        f" SUM(CASE WHEN a.{c} = b.{c} THEN 1 ELSE 0 END) AS agree_m"
        "  FROM mpairs JOIN dm a ON a.doc_id = mpairs.doc_a"
        " JOIN dm b ON b.doc_id = mpairs.doc_b" for n, c in fields)
    u_sel = "\n  UNION ALL\n".join(
        f"  SELECT '{n}' AS field, COUNT(*) AS n_u,"
        f" SUM(CASE WHEN l.{c} = r.{c} THEN 1 ELSE 0 END) AS agree_u"
        "  FROM lhs l JOIN rhs r USING (pid) WHERE l.fp != r.fp"
        for n, c in fields)
    return rf"""
WITH dm AS (
  SELECT doc_id, lang, source, n_chars // 100 AS len_bucket,
         {T.SQL_FINGERPRINT} AS fp
  FROM documents
), d AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                ELSE list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
           END) AS grams
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents)
), g AS (
  SELECT doc_id, unnest(grams) AS g FROM d
), hp AS (
  SELECT doc_id, g,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % {_MH_P} AS hp
  FROM g
), sig AS (
  SELECT doc_id,
         {_MH_HASHES_SQL}
  FROM hp GROUP BY doc_id
), bands AS (
{_MH_BANDS_SQL}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.bk = b.bk AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN g ga ON ga.doc_id = c.doc_a
  JOIN g gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
  GROUP BY c.doc_a, c.doc_b
), sz AS (
  SELECT doc_id, len(grams) AS n FROM d
), mpairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sz sa ON sa.doc_id = i.doc_a
  JOIN sz sb ON sb.doc_id = i.doc_b
  WHERE round(i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter), 6) >= 0.5
), shuffled AS (
  SELECT dm.*, ROW_NUMBER() OVER (
    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':fsu'), doc_id) AS rn
  FROM dm
), lhs AS (
  SELECT rn + 1 AS pid, lang, source, len_bucket, fp
  FROM shuffled WHERE rn % 2 = 1
), rhs AS (
  SELECT rn AS pid, lang, source, len_bucket, fp
  FROM shuffled WHERE rn % 2 = 0
), ms AS (
{m_sel}
), us AS (
{u_sel}
)
SELECT field, CAST(n_m AS BIGINT) AS n_match_pairs,
       CAST(n_u AS BIGINT) AS n_unmatch_pairs,
       CAST({m_ppm} AS BIGINT) AS m_ppm,
       CAST({u_ppm} AS BIGINT) AS u_ppm,
       {w.format(m=m_ppm, u=u_ppm)} AS agree_weight_micro,
       {w.format(m=f"(1000000 - {m_ppm})", u=f"(1000000 - {u_ppm})")}
         AS disagree_weight_micro
FROM ms JOIN us USING (field)
WHERE n_m > 0 AND n_u > 0
"""



def md5_minhash_verified_pairs(d: DataFrame, threshold: float,
                               pre_materialized: bool = False) -> DataFrame:
    """The md5-portable MinHash+LSH pair pipeline over a prepared
    ``(doc_id, grams)`` frame — shared by ``minhash_md5_pairs`` (the
    oracled query) and the executor's declarative ``dedup_near`` with
    ``hashFamily="md5"`` (so config-driven near-dedup is value-hash
    provable end-to-end). See ``minhash_md5_pairs`` for the algorithm
    and ``MINHASH_MD5_SQL`` for its independent SQL twin.

    The candidate set comes from ``md5_band_candidates`` — the SAME
    banding implementation ``blocking_quality_report`` audits, so the
    audited candidate universe and the verified-pair universe cannot
    drift apart (r8 ADVICE: the banding code used to be duplicated
    here verbatim).

    The prepared grams frame is materialized once (localCheckpoint):
    banding and both verify-side array lookups consume it, and
    without the checkpoint each consumer re-tokenizes the corpus (r9
    scan census). Size class: (doc_id, distinct 3-gram array) — the
    tokenized corpus, the same thing ``verify_pairs_jaccard``'s
    survivors-only re-tokenize avoids holding; acceptable for the
    ORACLE-PROOF twin, while the production murmur3 path keeps the
    single-pass carried-signature shape. Callers that already
    materialized the grams frame for their own reuse pass
    ``pre_materialized=True`` so the corpus-tokenize result isn't
    checkpointed twice (two eager jobs, two block copies — r9
    ADVICE); the flag is VERIFIED, not trusted — see the guard below
    (r10 verdict ask #4).

    CONTRACT (narrow by design): ``pre_materialized=True`` means
    specifically "``d`` is the result of ``DataFrame.localCheckpoint
    (eager=True)``" — NOT merely "some materialized frame". A
    ``persist()``-ed frame, even fully cached, is rejected: pass
    ``pre_materialized=False`` and let the checkpoint no-op on top of
    the cache (reading a cached frame once to checkpoint it is cheap;
    silently re-tokenizing per consumer is not). The guard recognizes
    the contract by the localCheckpoint plan shape (a single
    ``LogicalRDD`` leaf); a ``createDataFrame``-rooted frame also
    analyzes to LogicalRDD and passes, which is harmless — driver-
    local rows re-parallelize per consumer without re-running any
    corpus scan. Under Spark Connect the classic ``_jdf`` plan API is
    absent, so the guard degrades to trusting the caller (documented,
    not silent — the contract above still binds)."""
    if not pre_materialized:
        d = d.localCheckpoint(eager=True)
    else:
        # Fail fast instead of trusting the caller: a frame that is
        # not actually a materialized scan would silently re-run the
        # corpus tokenize once per consumer below (the exact r9
        # scan-census bug class this flag exists to prevent). A
        # localCheckpoint result analyzes to a single LogicalRDD leaf.
        jdf = getattr(d, "_jdf", None)
        if jdf is None:
            # Spark Connect: no classic plan handle; the contract in
            # the docstring still binds but cannot be checked here.
            head = None
        else:
            head = jdf.queryExecution().analyzed().toString() \
                      .splitlines()[0]
        if head is not None and not head.startswith("LogicalRDD"):
            raise ValueError(
                "pre_materialized=True requires the grams frame to BE "
                "a localCheckpoint(eager=True) result (see docstring "
                "contract; a persist()-ed frame does not qualify — "
                f"drop the flag); got plan root {head!r}.")
    cand = md5_band_candidates(d)
    # ARRAY-INTERSECT verify (r10, same move as ngram_jaccard_md5_
    # pairs): join each pair side to the doc's distinct gram ARRAY and
    # intersect in one codegen expression, instead of exploding every
    # candidate into ~|grams| join rows before the count (20x soak:
    # x10.2 wall for x4107 output on the explode form). n_inter equals
    # the explode-join count only over DISTINCT gram sets, so the
    # distinctness precondition is ENFORCED here (r10 ADVICE: every
    # current caller does array_distinct upstream, where the no-op
    # costs nothing on Spark's already-distinct arrays, but a future
    # caller passing raw shingles would have gotten silently different
    # jaccard values); na/nb are sized on the same distinct arrays.
    # Banding above is deliberately on the raw frame: MinHash mins are
    # duplicate-insensitive, and d is the checkpointed scan.
    dd = d.select("doc_id", F.array_distinct("grams").alias("grams"))
    aa = dd.select(F.col("doc_id").alias("doc_a"),
                   F.col("grams").alias("ga"))
    bb = dd.select(F.col("doc_id").alias("doc_b"),
                   F.col("grams").alias("gb"))
    return (cand.join(aa, "doc_a").join(bb, "doc_b")
            .select("doc_a", "doc_b",
                    F.size(F.array_intersect("ga", "gb")).alias("n_inter"),
                    F.size("ga").alias("na"), F.size("gb").alias("nb"))
            .select("doc_a", "doc_b",
                    F.round(F.col("n_inter")
                            / (F.col("na") + F.col("nb")
                               - F.col("n_inter")),
                            6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


_MH_HASHES_SQL = ",\n         ".join(
    f"MIN(({a} * hp + {b}) % {_MH_P}) AS h{i}"
    for i, (a, b) in enumerate(_MH_COEFFS))
_MH_BANDS_SQL = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, concat({i // 2}, ':', h{i}, ':', h{i + 1}) AS bk "
    "FROM sig" for i in range(0, 8, 2))

MINHASH_MD5_SQL = f"""
WITH d AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                ELSE list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
           END) AS grams
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        FROM documents)
), g AS (
  SELECT doc_id, unnest(grams) AS g FROM d
), hp AS (
  SELECT doc_id, g,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % {_MH_P} AS hp
  FROM g
), sig AS (
  SELECT doc_id,
         {_MH_HASHES_SQL}
  FROM hp GROUP BY doc_id
), bands AS (
{_MH_BANDS_SQL}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.bk = b.bk AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN g ga ON ga.doc_id = c.doc_a
  JOIN g gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
  GROUP BY c.doc_a, c.doc_b
), sizes AS (
  SELECT doc_id, len(grams) AS n FROM d
)
SELECT i.doc_a, i.doc_b,
       round(i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter), 6) >= 0.5
"""


BLOCKING_QUALITY_SQL = rf"""
WITH d AS (
  SELECT doc_id, text,
         list_distinct(
           CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                ELSE list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
           END) AS grams
  FROM (SELECT doc_id, text,
               regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents)
), g AS (
  SELECT doc_id, unnest(grams) AS g FROM d
), hp AS (
  SELECT doc_id, g,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % {_MH_P} AS hp
  FROM g
), sig AS (
  SELECT doc_id,
         {_MH_HASHES_SQL}
  FROM hp GROUP BY doc_id
), bands AS (
{_MH_BANDS_SQL}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.bk = b.bk AND a.doc_id < b.doc_id
), fp AS (
  SELECT doc_id, {T.SQL_FINGERPRINT} AS fp FROM documents
), truth AS (
  SELECT CAST(SUM(k * (k - 1) // 2) AS BIGINT) AS truth_pairs
  FROM (SELECT COUNT(*) AS k FROM fp GROUP BY fp.fp)
), found AS (
  SELECT COUNT(*) AS candidate_pairs,
         CAST(SUM(CASE WHEN fa.fp = fb.fp THEN 1 ELSE 0 END) AS BIGINT)
           AS truth_found
  FROM cand
  JOIN fp fa ON fa.doc_id = cand.doc_a
  JOIN fp fb ON fb.doc_id = cand.doc_b
), n AS (SELECT COUNT(*) AS n_docs FROM fp)
SELECT CAST(n_docs AS BIGINT) AS n_docs, truth_pairs,
       CAST(candidate_pairs AS BIGINT) AS candidate_pairs, truth_found,
       CAST((CAST(n_docs AS HUGEINT) * (n_docs - 1) // 2
             - candidate_pairs) * 1000000
            // (CAST(n_docs AS HUGEINT) * (n_docs - 1) // 2) AS BIGINT)
         AS reduction_ratio_ppm,
       CASE WHEN truth_pairs > 0
            THEN CAST(truth_found * 1000000 // truth_pairs AS BIGINT)
       END AS pair_completeness_ppm
FROM n CROSS JOIN truth CROSS JOIN found
WHERE n_docs >= 2
"""


FELLEGI_SUNTER_SQL = _fs_sql()


import hashlib as _hl

_NG_BANDS, _NG_ROWS = 4, 8
# 32 md5-derived permutation coefficients — deterministic constants
# baked identically into the Spark expressions and the SQL oracle
# (no RNG; a != 0 mod p)
_NG_COEFFS = tuple(
    (int(_hl.md5(f"ng-a{i}".encode()).hexdigest()[:12], 16)
     % (_MH_P - 1) + 1,
     int(_hl.md5(f"ng-b{i}".encode()).hexdigest()[:12], 16) % _MH_P)
    for i in range(_NG_BANDS * _NG_ROWS))

def _ng_est_min(threshold: float) -> int:
    """Signature-agreement pre-filter floor for a given Jaccard
    threshold — the md5 twin of ``estimate_filter_pairs``'s
    tau = t - 3.5*sigma rule (sigma = sqrt(t(1-t)/k), k=32
    coordinates): ``ceil(k * max(0, t - 3.5*sigma))`` coordinates must
    agree. DERIVED from the threshold argument (r9 ADVICE: a hardcoded
    23 silently dropped true pairs for any t below ~0.71); at
    permissive thresholds the expression reaches 0 and the prune
    becomes a no-op rather than a recall leak."""
    import math

    k = _NG_BANDS * _NG_ROWS
    sigma = math.sqrt(threshold * (1.0 - threshold) / k)
    return max(0, math.ceil(k * max(0.0, threshold - 3.5 * sigma)))


#: floor at the 0.9 default threshold (= 23 of 32), baked into the
#: fixed-0.9 SQL oracle; the Spark path recomputes it per call via
#: ``_ng_est_min`` so non-default thresholds stay recall-safe.
_NG_EST_MIN = _ng_est_min(0.9)
assert _NG_EST_MIN == 23  # the constant the SQL oracle text embeds

#: bucket count for the exact intersection upper bound (r18): per-doc
#: gram counts in hpv mod-32 buckets; sum_i min(ca_i, cb_i) >= |A∩B|
#: for ANY bucketing, so the prune is output-invisible at every scale.
#: 32 int columns per side — the same join width class as the 32-long
#: signature table the agreement filter already shipped.
_NG_BOUND_BUCKETS = 32


def ngram_jaccard_md5_pairs(spark: SparkSession, sf_dir: str,
                            threshold: float = 0.9) -> DataFrame:
    """Character-n-gram Jaccard near-dup pairs on the md5-portable
    pipeline — the exactly-ORACLED twin of ``ngram_jaccard_dups``
    (whose char-MinHash blocking rides murmur3 and is rows-only).

    Geometry matches the production path's hard-won S-curve lesson
    (see ``ngram_jaccard_dups``): unrelated same-language docs already
    share ~0.3-0.5 of their char-trigram set, so the word-gram twin's
    permissive 4x2 banding admits nearly EVERY pair (measured: 4.3M
    verified pairs, 423 s at sf0.1). 4 bands x 8 rows puts the
    candidate knee at the 0.9 threshold — P[candidate] = 0.015 at
    j=0.5 — and the verify join stays linear in true near-dups. With
    this, every near-dup family (word-MinHash, char-n-gram Jaccard,
    SimHash, clustering, incremental) has a value-hash-verified
    algorithm proof.

    r9: the twin now ALSO mirrors the production path's
    signature-agreement pre-filter (``estimate_filter_pairs``): a
    candidate must agree on >= ``_ng_est_min(threshold)`` of its 32
    deterministic signature coordinates before the exact verify (r10:
    the floor is DERIVED from the threshold argument — at the 0.9
    default it is 23, the constant the fixed SQL oracle embeds; it
    decays to 0 — prune becomes a no-op — only below t≈0.28, and at
    intermediate thresholds the documented binomial-tail recall trade
    below still applies, just with a floor matched to the threshold
    instead of the old hardcoded 23). Char-trigram
    banding admits ~340k candidates at sf0.1 (0.17%-precision regime);
    verifying them all cost 15s of the op's 18-24s — the pre-filter
    (two joins against the small checkpointed sig table, pure codegen
    comparison) collapses that to the genuine near-dup set. A true
    j >= 0.9 pair fails the filter with P < 3e-4 (binomial tail), the
    SAME documented recall trade the production path makes, and the
    oracle applies the IDENTICAL integer filter so parity is exact."""
    par = spark.sparkContext.defaultParallelism
    # TWO-STEP gram build: project the lowered text as a plain column
    # FIRST, then gram it with substring-transform over that attribute
    # (a higher-order-function lambda re-evaluates a non-trivial
    # operand expression per element; inline lower(trim(text)) was
    # measured 4.4s). r17: dedup per-doc grams by EXPLODING the raw
    # gram array and running `.distinct()` on (doc_id, g) — the frame
    # is already hash-partitioned by doc_id, so the distinct is a
    # map-side-complete hash aggregate with NO extra exchange — instead
    # of `array_distinct` over the ~1500-element per-doc array, whose
    # string-array path was the single hottest expression in the whole
    # op (measured 4.7s -> 0.57s at sf0.1 for the identical 712,778
    # (doc_id, gram) rows, exceptAll-verified both directions).
    g = (table(spark, sf_dir, "documents")
         .repartition(par, "doc_id")
         .select("doc_id", F.lower(F.trim("text")).alias("t"))
         .select("doc_id", F.explode(F.expr(
             "CASE WHEN length(t) <= 3 THEN array(t) "
             "ELSE transform(sequence(1, length(t) - 2), "
             "i -> substring(t, i, 3)) END")).alias("g"))
         .distinct())
    h_raw = F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint")
    # everything downstream (signature mins, verify join, sizes) works
    # on the 60-bit md5 gram identity, never the gram string — both
    # engines apply the SAME hash, so a (negligible) collision affects
    # both sides identically and the value-hash compare still holds.
    # Materialized once: the signature build AND the verify's per-doc
    # array build both consume it, and the lineage holds the full
    # char-gram + md5 pass (the DuckDB twin needed the same
    # MATERIALIZED hint — uncached it recomputed the gram pipeline per
    # reference, >550 s at sf0.1 vs 16 s).
    hpdf = (g.select("doc_id", (h_raw % _MH_P).alias("hpv"))
            .localCheckpoint(eager=True))
    # ONE per-doc feature row, materialized once (r18): the 32
    # signature mins (the 4-union + self-join banding otherwise
    # re-runs the 32-way min aggregate 8x — the r16 fix), the distinct
    # gram-hash set (exact verify), and the 32-bucket gram-count
    # profile (the intersection bound below) all ride a single
    # aggregate over the checkpointed gram stream. r18 A/B of the
    # layouts at sf0.1 (6 reps interleaved): two separate
    # aggregates+checkpoints (r18 first cut) median 6.39s end-to-end,
    # fully merged 5.66s — one pass over the 712k-row stream and one
    # 5000-row checkpoint instead of two of each.
    sig = (hpdf.groupBy("doc_id").agg(
        F.collect_set("hpv").alias("hs"),
        *[F.min((F.lit(a) * F.col("hpv") + F.lit(b)) % _MH_P)
          .alias(f"h{i}")
          for i, (a, b) in enumerate(_NG_COEFFS)],
        *[F.sum(F.when(F.col("hpv") % _NG_BOUND_BUCKETS == i, 1)
                .otherwise(0)).cast("int").alias(f"c{i}")
          for i in range(_NG_BOUND_BUCKETS)])
        .withColumn("n", F.size("hs"))
        .localCheckpoint(eager=True))
    bands = sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.concat_ws(":", F.lit(j),
                        *[F.col(f"h{j * _NG_ROWS + r}")
                          for r in range(_NG_ROWS)])
            for j in range(_NG_BANDS)])).alias("bk"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.bk") == F.col("b.bk"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    # r18: EXACT bucket-count upper bound on the pair intersection,
    # applied to the RAW banding candidates BEFORE any heavy pair work.
    # For any partition of the gram space into buckets (here hpv mod
    # 32), |A ∩ B| <= sum_i min(ca_i, cb_i): an intersection element
    # falls in exactly one bucket and is counted on both sides. Capped
    # further by min(|A|, |B|) (which also subsumes r17's size-ratio
    # filter: bnd = min(na, nb) reduces to exactly that bound). Keep a
    # pair iff bnd*(1+t) >= (t - 1e-6)*(na+nb): algebraically
    # bnd/(s-bnd) >= t - 1e-6 without the division, and WITHOUT
    # F.round — Round on a double allocates a BigDecimal PER ROW and
    # this filter alone measured 3.6s with round vs 1.0s without over
    # the 337k candidates (the r18 twin of r17's array_distinct-on-
    # strings finding). Exactness: a pair passing the final filter has
    # round6(n_inter/(s-n_inter)) >= t, so n_inter/(s-n_inter) >=
    # t - 5e-7; bnd >= n_inter and x/(s-x) monotone give
    # bnd*(1+t) >= (t-5e-7)*s > (t-1e-6)*s — no such pair is ever
    # dropped here, and the margin only lets ~boundary pairs through
    # to the exact verify. Output equivalence is proven independently: the
    # DuckDB twin has NO bound filter and the 3-SF hash compare stays
    # green. Measured at sf0.1: 337,655 raw candidates -> 257 bound
    # survivors (255 true pairs) — the 32-column signature-agreement
    # joins and the 2x ~143-element array joins now run on ~300 rows
    # instead of 337k/119k, collapsing the op's former dominant stage
    # (verify 3.7-4.8s -> ~0.1s; see OPTIMIZATION_r18.md).
    bnd_sum = "+".join(f"least(ca{i}, cb{i})"
                       for i in range(_NG_BOUND_BUCKETS))
    pa = sig.select(F.col("doc_id").alias("doc_a"),
                        F.col("n").alias("na"),
                        *[F.col(f"c{i}").alias(f"ca{i}")
                          for i in range(_NG_BOUND_BUCKETS)])
    pb = sig.select(F.col("doc_id").alias("doc_b"),
                        F.col("n").alias("nb"),
                        *[F.col(f"c{i}").alias(f"cb{i}")
                          for i in range(_NG_BOUND_BUCKETS)])
    slim = (cand.join(pa, "doc_a").join(pb, "doc_b")
            .withColumn("bnd", F.least(F.expr(bnd_sum), F.col("na"),
                                       F.col("nb")))
            .filter(F.col("bnd").cast("double") * (1.0 + threshold)
                    >= (F.lit(threshold) - F.lit(1e-6))
                    * (F.col("na") + F.col("nb")))
            .select("doc_a", "doc_b", "na", "nb"))
    # signature-agreement floor (r9, oracle-embedded semantics: the
    # DuckDB twin applies the IDENTICAL integer filter, so it must stay
    # part of the pipeline) — now evaluated on the ~300 bound
    # survivors, where the two 32-column signature joins are free,
    # instead of on the full 337k candidate set
    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"h{i}").alias(f"sa{i}")
                      for i in range(len(_NG_COEFFS))])
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"h{i}").alias(f"sb{i}")
                      for i in range(len(_NG_COEFFS))])
    agree = "+".join(f"IF(sa{i} = sb{i}, 1, 0)"
                     for i in range(len(_NG_COEFFS)))
    good = (slim.join(sa, "doc_a").join(sb, "doc_b")
            .filter(F.expr(f"({agree}) >= {_ng_est_min(threshold)}"))
            .select("doc_a", "doc_b", "na", "nb"))
    # ARRAY-INTERSECT verify (r10): one fixed-width row per doc (its
    # distinct gram-hash set), joined once per pair side, intersected
    # in a single codegen expression. The old explode-join verify
    # fanned every surviving pair out to ~|grams| rows before the
    # count (20x soak: 167M intermediate rows, x94.5 wall for x3943
    # output); this form shuffles one array row per pair side instead
    # — A/B at the 10x soak: 344s -> see PLANS.md. Same answer: the
    # per-doc gram sets are distinct (array_distinct upstream), and
    # both array_intersect and DuckDB's list_intersect are
    # distinct-set intersections — the SQL twin is restated
    # identically, so parity is exact at any scale.
    aa = sig.select(F.col("doc_id").alias("doc_a"),
                        F.col("hs").alias("ha"))
    bb = sig.select(F.col("doc_id").alias("doc_b"),
                        F.col("hs").alias("hb"))
    return (good.join(aa, "doc_a").join(bb, "doc_b")
            .select("doc_a", "doc_b",
                    F.size(F.array_intersect("ha", "hb")).alias("n_inter"),
                    "na", "nb")
            .select("doc_a", "doc_b",
                    F.round(F.col("n_inter")
                            / (F.col("na") + F.col("nb")
                               - F.col("n_inter")), 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


_NG_HASHES_SQL = ",\n         ".join(
    f"MIN(({a} * hpv + {b}) % {_MH_P}) AS h{i}"
    for i, (a, b) in enumerate(_NG_COEFFS))
_NG_BANDS_SQL = "\n  UNION ALL\n".join(
    "  SELECT doc_id, concat("
    + f"{j}, ':', "
    + ", ':', ".join(f"h{j * _NG_ROWS + r}" for r in range(_NG_ROWS))
    + ") AS bk FROM sig"
    for j in range(_NG_BANDS))

NGRAM_MD5_SQL = f"""
WITH hp AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: inlined, the char-gram + md5 pass
  -- re-runs per downstream reference (4 band selects + 2 verify
  -- sides + sizes) — measured >550 s at sf0.1 vs 16 s materialized
  SELECT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % {_MH_P} AS hpv
  FROM (
    SELECT doc_id, unnest(
      list_distinct(
        CASE WHEN len(cs) <= 3 THEN [array_to_string(cs, '')]
             ELSE list_transform(range(1, len(cs) - 1),
                                 i -> array_to_string(cs[i:i+2], ''))
        END)) AS g
    FROM (SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '') AS cs
          FROM documents))
), sig AS MATERIALIZED (
  SELECT doc_id,
         {_NG_HASHES_SQL}
  FROM hp GROUP BY doc_id
), bands AS (
{_NG_BANDS_SQL}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.bk = b.bk AND a.doc_id < b.doc_id
), good AS (
  -- the production path's signature-agreement pre-filter, exactly
  -- restated: deterministic md5 signatures agree identically in both
  -- engines, so this is a value-hash-safe candidate prune
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
  WHERE CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END + CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END + CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END + CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END + CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END + CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END + CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END + CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END + CASE WHEN sa.h8 = sb.h8 THEN 1 ELSE 0 END + CASE WHEN sa.h9 = sb.h9 THEN 1 ELSE 0 END + CASE WHEN sa.h10 = sb.h10 THEN 1 ELSE 0 END + CASE WHEN sa.h11 = sb.h11 THEN 1 ELSE 0 END + CASE WHEN sa.h12 = sb.h12 THEN 1 ELSE 0 END + CASE WHEN sa.h13 = sb.h13 THEN 1 ELSE 0 END + CASE WHEN sa.h14 = sb.h14 THEN 1 ELSE 0 END + CASE WHEN sa.h15 = sb.h15 THEN 1 ELSE 0 END + CASE WHEN sa.h16 = sb.h16 THEN 1 ELSE 0 END + CASE WHEN sa.h17 = sb.h17 THEN 1 ELSE 0 END + CASE WHEN sa.h18 = sb.h18 THEN 1 ELSE 0 END + CASE WHEN sa.h19 = sb.h19 THEN 1 ELSE 0 END + CASE WHEN sa.h20 = sb.h20 THEN 1 ELSE 0 END + CASE WHEN sa.h21 = sb.h21 THEN 1 ELSE 0 END + CASE WHEN sa.h22 = sb.h22 THEN 1 ELSE 0 END + CASE WHEN sa.h23 = sb.h23 THEN 1 ELSE 0 END + CASE WHEN sa.h24 = sb.h24 THEN 1 ELSE 0 END + CASE WHEN sa.h25 = sb.h25 THEN 1 ELSE 0 END + CASE WHEN sa.h26 = sb.h26 THEN 1 ELSE 0 END + CASE WHEN sa.h27 = sb.h27 THEN 1 ELSE 0 END + CASE WHEN sa.h28 = sb.h28 THEN 1 ELSE 0 END + CASE WHEN sa.h29 = sb.h29 THEN 1 ELSE 0 END + CASE WHEN sa.h30 = sb.h30 THEN 1 ELSE 0 END + CASE WHEN sa.h31 = sb.h31 THEN 1 ELSE 0 END
        >= {_NG_EST_MIN}
), arr AS MATERIALIZED (
  -- the array-intersect verify, restated identically to Spark (r10):
  -- one distinct gram-hash set per doc, intersected per pair —
  -- list_intersect and Spark's array_intersect are both distinct-set
  -- intersections, so the twin stays exact at any scale
  SELECT doc_id, list_distinct(list(hpv)) AS hs FROM hp GROUP BY doc_id
), inter AS (
  SELECT g.doc_a, g.doc_b,
         len(list_intersect(a.hs, b.hs)) AS n_inter,
         len(a.hs) AS na, len(b.hs) AS nb
  FROM good g
  JOIN arr a ON a.doc_id = g.doc_a
  JOIN arr b ON b.doc_id = g.doc_b
)
SELECT doc_a, doc_b,
       round(n_inter * 1.0 / (na + nb - n_inter), 6) AS jaccard
FROM inter
WHERE round(n_inter * 1.0 / (na + nb - n_inter), 6) >= 0.9
"""


def incremental_dedup_md5(spark: SparkSession, sf_dir: str,
                          new_source: str = "src0",
                          threshold: float = 0.5) -> DataFrame:
    """Incremental batch-vs-corpus near-dedup on the md5-portable
    MinHash pipeline — the exactly-ORACLED twin of
    ``incremental_dedup_minhash`` (which rides murmur3/xxhash and is
    rows-only by nature). Same steady-state topology as the production
    path: one signature pass over corpus+batch with an ``is_new`` flag,
    shared band buckets, candidate pairs filtered to CROSS-side BEFORE
    the exact-Jaccard verify (the corpus is never re-paired against
    itself), output oriented (new_doc_id, corpus_doc_id). With this,
    every member of the near-dup family — pairs, incremental, SimHash,
    clustering — has a value-hash-verified algorithm proof beside its
    fast murmur3 production variant."""
    # grams frame + signature table each materialized once (the r9
    # scan-census discipline, see md5_minhash_verified_pairs): banding,
    # both verify sides and the size lookup all reuse them instead of
    # re-tokenizing per consumer
    d = (table(spark, sf_dir, "documents")
         .select("doc_id", "source", T.split_tokens("text").alias("toks"))
         .select("doc_id",
                 (F.col("source") == new_source).alias("is_new"),
                 F.array_distinct(T.raw_shingles_of(F.col("toks"), 3))
                 .alias("grams"))
         .localCheckpoint(eager=True))
    g = d.select("doc_id", F.explode("grams").alias("g"))
    h_raw = F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint")
    hp = h_raw % _MH_P
    sig = (d.select("doc_id", "is_new").join(
        g.select("doc_id", hp.alias("hp"))
        .groupBy("doc_id")
        .agg(*[F.min((F.lit(a) * F.col("hp") + F.lit(b)) % _MH_P)
               .alias(f"h{i}")
               for i, (a, b) in enumerate(_MH_COEFFS)]), "doc_id")
        .localCheckpoint(eager=True))
    bands = sig.select(
        "doc_id", "is_new",
        F.explode(F.array(*[
            F.concat_ws(":", F.lit(i // 2),
                        F.col(f"h{i}"), F.col(f"h{i + 1}"))
            for i in range(0, 8, 2)])).alias("bk"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.bk") == F.col("b.bk"))
                   & (F.col("a.doc_id") < F.col("b.doc_id"))
                   & (F.col("a.is_new") != F.col("b.is_new")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.is_new").alias("a_new"))
            .distinct())
    ga = d.select(F.col("doc_id").alias("doc_a"),
                  F.explode("grams").alias("g"))
    gb = d.select(F.col("doc_id").alias("doc_b"),
                  F.explode("grams").alias("g"))
    inter = (cand.join(ga, "doc_a").join(gb, ["doc_b", "g"])
             .groupBy("doc_a", "doc_b", "a_new")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    sizes = d.select("doc_id", F.size("grams").alias("n"))
    jac = (inter
           .join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}),
                 "doc_a")
           .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}),
                 "doc_b")
           .select("doc_a", "doc_b", "a_new",
                   F.round(F.col("n_inter")
                           / (F.col("na") + F.col("nb") - F.col("n_inter")),
                           6).alias("jaccard"))
           .filter(F.col("jaccard") >= threshold))
    return jac.select(
        F.when(F.col("a_new"), F.col("doc_a")).otherwise(F.col("doc_b"))
        .alias("new_doc_id"),
        F.when(F.col("a_new"), F.col("doc_b")).otherwise(F.col("doc_a"))
        .alias("corpus_doc_id"),
        "jaccard")


INCREMENTAL_MD5_SQL = f"""
WITH pairs AS (
  SELECT doc_a, doc_b, jaccard FROM ({MINHASH_MD5_SQL})
), flags AS (
  SELECT doc_id, source = 'src0' AS is_new FROM documents
)
SELECT CASE WHEN fa.is_new THEN p.doc_a ELSE p.doc_b END AS new_doc_id,
       CASE WHEN fa.is_new THEN p.doc_b ELSE p.doc_a END AS corpus_doc_id,
       p.jaccard
FROM pairs p
JOIN flags fa ON fa.doc_id = p.doc_a
JOIN flags fb ON fb.doc_id = p.doc_b
WHERE fa.is_new != fb.is_new
"""


def doc_dup_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DUPLICATION SCORE — the doc-level artifact a
    filtering pipeline thresholds on (keep docs whose worst near-dup
    similarity is below X), derived from the oracled md5 pair graph:
    for every document, the max verified Jaccard over its incident
    near-dup pairs and how many near-dups it has (0 / 0.0 for clean
    docs via the left join). One scan of the corpus + the pair
    pipeline; the incident-pair aggregation shuffles on doc_id only.

    The pair-to-endpoint fan-out is an EXPLODE of a 2-struct array,
    not a union of two projections — the union form planned the whole
    MinHash pipeline twice (50-scan static plan; the r9
    association_rules_lift lesson)."""
    pairs = minhash_md5_pairs(spark, sf_dir)
    incident = (pairs
                .select(F.explode(F.array(
                    F.struct(F.col("doc_a").alias("doc_id"), "jaccard"),
                    F.struct(F.col("doc_b").alias("doc_id"), "jaccard")))
                    .alias("i"))
                .groupBy(F.col("i.doc_id").alias("doc_id"))
                .agg(F.count(F.lit(1)).alias("n_dups"),
                     F.max("i.jaccard").alias("max_jaccard")))
    d = table(spark, sf_dir, "documents").select("doc_id")
    return (d.join(incident, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_dups", F.lit(0)).cast("bigint")
                    .alias("n_dups"),
                    F.coalesce("max_jaccard", F.lit(0.0))
                    .alias("max_jaccard")))


DOC_DUP_SCORES_SQL = f"""
WITH pairs AS (
  SELECT doc_a, doc_b, jaccard FROM ({MINHASH_MD5_SQL})
), incident AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
         MAX(jaccard) AS max_jaccard
  FROM (SELECT doc_a AS doc_id, jaccard FROM pairs
        UNION ALL SELECT doc_b AS doc_id, jaccard FROM pairs)
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(i.n_dups, 0) AS n_dups,
       COALESCE(i.max_jaccard, 0.0) AS max_jaccard
FROM documents d LEFT JOIN incident i USING (doc_id)
"""


# ----------------------------------------------------------------------
# md5-based SimHash: the engine-portable twin of simhash_near_dups
# ----------------------------------------------------------------------

_SH_BITS = 60          # 15 md5 hex chars -> exact BIGINT in both engines
_SH_BAND = 15          # 4 bands x 15 bits: Hamming<=3 => >=1 band equal


def simhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with md5-derived token hashes — the
    exactly-ORACLED twin of ``simhash_near_dups`` (same pigeonhole
    design: 4 bands of 15 bits guarantee every Hamming<=3 pair shares
    a band). A 60-bit fingerprint (15 md5 hex chars) keeps every value
    exact in BIGINT in both engines; per-bit majority sums, band
    bucketing, the candidate set and the Hamming verify are then
    bit-identical in DuckDB, so the whole algorithm is value-hash
    verified. The production murmur3 variant stays the fast path."""
    d = (table(spark, sf_dir, "documents")
         .select("doc_id",
                 F.array_distinct(
                     F.split(F.lower(F.trim("text")), r"\s+")).alias("toks")))
    t = d.select("doc_id", F.explode("toks").alias("tok"))
    t = t.withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint"))
    sums = t.groupBy("doc_id").agg(
        *[F.expr(f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)")
          .alias(f"s{i}") for i in range(_SH_BITS)])
    fp_expr = " + ".join(
        f"(CASE WHEN s{i} >= 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {i})"
        for i in range(_SH_BITS))
    # one fixed-width row per doc, materialized once: the 4-union +
    # self-join banding otherwise re-runs the per-bit majority pipeline
    # 8x (r9 scan census; same fix as md5_band_candidates)
    fps = (sums.select("doc_id", F.expr(fp_expr).alias("fp"))
           .localCheckpoint(eager=True))
    bands = fps.select(
        "doc_id", "fp",
        F.explode(F.array(*[
            F.expr(f"concat({k}, ':', (fp >> {k * _SH_BAND}) & 32767)")
            for k in range(4)])).alias("bk"))
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.bk") == F.col("b.bk"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.expr("bit_count(a.fp ^ b.fp)").alias("hamming"))
            .distinct()
            .filter(F.col("hamming") <= 3))


_SH_SUMS_SQL = ",\n         ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(_SH_BITS))
_SH_FP_SQL = " + ".join(
    f"(CASE WHEN s{i} >= 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {i})"
    for i in range(_SH_BITS))
_SH_BANDS_SQL = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, fp, concat({k}, ':', (fp >> {k * _SH_BAND}) & 32767)"
    " AS bk FROM fps" for k in range(4))

SIMHASH_MD5_SQL = f"""
WITH t AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id,
               unnest(list_distinct(
                 regexp_split_to_array(lower(trim(text)), '\\s+'))) AS tok
        FROM documents)
), sums AS (
  SELECT doc_id,
         {_SH_SUMS_SQL}
  FROM t GROUP BY doc_id
), fps AS (
  SELECT doc_id, {_SH_FP_SQL} AS fp FROM sums
), bands AS (
{_SH_BANDS_SQL}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.bk = b.bk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 3
"""


# ----------------------------------------------------------------------
# md5-based connected components: the oracled twin of dedup_clusters
# ----------------------------------------------------------------------

def dedup_clusters_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the ORACLED md5-MinHash pair graph,
    iterated to FIXPOINT — the algorithm-proof twin of
    ``dedup_clusters`` (which rides the faster murmur3 pipeline and a
    fixed round count). Because the edge set is deterministic and
    engine-portable, the component structure itself is value-hash
    verified against a DuckDB recursive-CTE reachability oracle: every
    member's cluster id is the component's minimum doc id.

    Min-label propagation (``base.min_label_fixpoint``): one shuffle
    per round on the doc key; convergence is checked with a count of
    changed labels (near-dup components are dense cliques/stars, so
    2-3 rounds suffice; the loop is bounded defensively). Edges are
    localCheckpoint-ed once — each round consumes both join
    directions. Rounds executed per run land in
    ``base.FIXPOINT_ITERS["dedup_clusters_md5"]`` (soak telemetry)."""
    pairs = (minhash_md5_pairs(spark, sf_dir).select("doc_a", "doc_b")
             .localCheckpoint(eager=True))
    sym = (pairs.select(F.col("doc_a").alias("src"),
                        F.col("doc_b").alias("dst"))
           .union(pairs.select(F.col("doc_b").alias("src"),
                               F.col("doc_a").alias("dst"))))
    labels = min_label_fixpoint(sym, "doc_id", "dedup_clusters_md5")
    return (labels.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") > 1)
            .select(F.col("label").alias("cluster_id"), "n_docs"))


DEDUP_CLUSTERS_MD5_SQL = f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({MINHASH_MD5_SQL})
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS doc_id FROM edges
), walk AS (
  -- reachability closure (graph is symmetric, so reachable == same
  -- component); UNION dedups, guaranteeing termination
  WITH RECURSIVE r(doc, reach) AS (
    SELECT doc_id, doc_id FROM nodes
    UNION
    SELECT e.src, r.reach FROM edges e JOIN r ON r.doc = e.dst
  )
  SELECT doc, MIN(reach) AS label FROM r GROUP BY doc
)
SELECT label AS cluster_id, COUNT(*) AS n_docs
FROM walk GROUP BY label HAVING COUNT(*) > 1
"""


# ----------------------------------------------------------------------
# train/val/test split with near-dup leakage audit
# ----------------------------------------------------------------------

def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset split assignment + leakage audit — the check a training
    pipeline runs before shipping splits: assign every document to
    train/val/test with an engine-portable hash draw (md5 prefix
    threshold, the ``weighted_mixture_sample`` idiom: reproducible
    across engines, runs and partitionings, unlike RNG splits), then
    flag LEAKED documents — members of a near-dup pair that spans two
    different splits (a val/test doc whose near-duplicate sits in train
    inflates eval scores).

    Near-dup pairs come from ``minhash_md5_pairs`` — the oracled
    banding pipeline — so the whole audit is value-hash-verified
    end-to-end. Plan: the pair list (tiny relative to the corpus)
    joins the split assignment twice on doc id, cross-split pairs'
    endpoints union-distinct, then one anti-join-shaped left join
    marks leaked docs; everything shuffles on doc_id only.

    Output per split: doc count, token budget and leaked-doc count —
    what a split manifest records."""
    from spark_kafka_airflow_pipeline_spark.functions import text as T

    d = table(spark, sf_dir, "documents")
    u = F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit(":split"))), 1, 4)
    asg = d.select(
        "doc_id", T.token_count("text").alias("n_tokens"),
        F.when(u < "cccd", "train")      # ~80%
        .when(u < "e666", "val")         # ~10%
        .otherwise("test").alias("split"))
    pairs = minhash_md5_pairs(spark, sf_dir).select("doc_a", "doc_b")
    a = asg.select(F.col("doc_id").alias("doc_a"),
                   F.col("split").alias("split_a"))
    b = asg.select(F.col("doc_id").alias("doc_b"),
                   F.col("split").alias("split_b"))
    # materialized once: both union branches of `leaked` consume this
    # frame, and its lineage contains the whole MinHash pipeline —
    # leaving it lazy re-ran signature+banding twice (measured 15.6s ->
    # ~8s at sf0.1)
    cross = (pairs.join(a, "doc_a").join(b, "doc_b")
             .filter(F.col("split_a") != F.col("split_b"))
             .localCheckpoint(eager=True))
    leaked = (cross.select(F.col("doc_a").alias("doc_id"))
              .unionByName(cross.select(F.col("doc_b").alias("doc_id")))
              .distinct()
              .withColumn("leaked", F.lit(1)))
    return (asg.join(leaked, "doc_id", "left")
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("n_tokens"),
                 F.sum(F.coalesce("leaked", F.lit(0))).cast("bigint")
                 .alias("n_leaked_docs")))


SPLIT_LEAKAGE_SQL = f"""
WITH asg AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
           AS n_tokens,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 4)
                   < 'cccd' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 4)
                   < 'e666' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), pairs AS (
  SELECT doc_a, doc_b FROM ({MINHASH_MD5_SQL})
), cross_pairs AS (
  SELECT p.doc_a, p.doc_b
  FROM pairs p
  JOIN asg a ON a.doc_id = p.doc_a
  JOIN asg b ON b.doc_id = p.doc_b
  WHERE a.split != b.split
), leaked AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM cross_pairs
    UNION ALL SELECT doc_b AS doc_id FROM cross_pairs)
)
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_leaked_docs
FROM asg LEFT JOIN leaked l USING (doc_id)
GROUP BY split
"""


def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy evaluation as an ORACLED query: for every
    verified near-dup pair, the MinHash ESTIMATE of Jaccard (fraction
    of the 8 signature coordinates that agree) against the exact
    verified Jaccard — the ``ann_recall_report`` counterpart for the
    dedup family, quantifying what the signature alone would have
    claimed before the verify join corrected it.

    Everything rides the md5-portable pipeline, so estimate, exact
    value and their ppm error are bit-identical in DuckDB. Scale: one
    extra signature build (vocab-linear) joined to the bounded verified
    pair set; integer ppm outputs.
    """
    d = (table(spark, sf_dir, "documents")
         .select("doc_id", T.split_tokens("text").alias("toks"))
         .select("doc_id",
                 F.array_distinct(T.raw_shingles_of(F.col("toks"), 3))
                 .alias("grams"))
         # tokenize once: the verified-pair pipeline AND the estimate's
         # own signature build both consume this frame (r9 scan census)
         .localCheckpoint(eager=True))
    pairs = md5_minhash_verified_pairs(d, 0.5, pre_materialized=True)
    g = d.select("doc_id", F.explode("grams").alias("g"))
    hp = (F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint")
          % _MH_P)
    # one fixed-width row per doc, joined as BOTH pair sides
    sig = (g.groupBy("doc_id").agg(
        *[F.min((F.lit(a) * hp + F.lit(b)) % _MH_P).alias(f"h{i}")
          for i, (a, b) in enumerate(_MH_COEFFS)])
        .localCheckpoint(eager=True))
    a = sig.select(F.col("doc_id").alias("doc_a"),
                   *[F.col(f"h{i}").alias(f"a{i}") for i in range(8)])
    b = sig.select(F.col("doc_id").alias("doc_b"),
                   *[F.col(f"h{i}").alias(f"b{i}") for i in range(8)])
    matches = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
                  for i in range(8))
    est_ppm = (F.col("n_sig_matches") * 125000).cast("bigint")
    jac_ppm = F.floor(F.col("jaccard") * 1000000.0 + 0.5).cast("bigint")
    return (pairs.join(a, "doc_a").join(b, "doc_b")
            .withColumn("n_sig_matches", matches)
            .select("doc_a", "doc_b", "n_sig_matches",
                    est_ppm.alias("est_ppm"), jac_ppm.alias("jac_ppm"),
                    F.abs(est_ppm - jac_ppm).alias("abs_err_ppm")))


_SIG_MATCH_SQL = " + ".join(
    f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(8))

MINHASH_ESTIMATE_SQL = f"""
WITH pairs AS (
  SELECT doc_a, doc_b, jaccard FROM ({MINHASH_MD5_SQL})
), d AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                ELSE list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
           END) AS grams
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        FROM documents)
), hp AS (
  SELECT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % {_MH_P} AS hp
  FROM (SELECT doc_id, unnest(grams) AS g FROM d)
), sig AS (
  SELECT doc_id,
         {_MH_HASHES_SQL}
  FROM hp GROUP BY doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST({_SIG_MATCH_SQL} AS INT) AS n_sig_matches,
       CAST(({_SIG_MATCH_SQL}) * 125000 AS BIGINT) AS est_ppm,
       CAST(floor(p.jaccard * 1000000.0 + 0.5) AS BIGINT) AS jac_ppm,
       abs(CAST(({_SIG_MATCH_SQL}) * 125000 AS BIGINT)
           - CAST(floor(p.jaccard * 1000000.0 + 0.5) AS BIGINT))
         AS abs_err_ppm
FROM pairs p
JOIN sig a ON a.doc_id = p.doc_a
JOIN sig b ON b.doc_id = p.doc_b
"""


def sketch_family_pr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the BIT-sketch near-dup family (SimHash
    Hamming<=3) against the SET-sketch family's verified pairs
    (MinHash->Jaccard>=0.5) — the family-agreement audit run before
    swapping one detector for another. On this corpus it QUANTIFIES
    their disagreement (recall ~12%, precision ~0.2% at sf0.01): the
    bit sketch scores weighted token-multiset closeness, Jaccard scores
    distinct-shingle overlap — which is exactly why a dedup pipeline
    verifies candidates instead of trusting any sketch's notion of
    "near". Both inputs are oracled md5-portable pipelines, so
    precision/recall themselves are value-hash verified (one row,
    integer ppm; divisions NULL out on an empty side via nullif rather
    than tripping ANSI div-by-zero).

    Scale: composes two bounded pair frames; one full-outer join on the
    pair key."""
    truth = (minhash_md5_pairs(spark, sf_dir)
             .select("doc_a", "doc_b", F.lit(1).alias("t")))
    sketch = (simhash_md5_pairs(spark, sf_dir)
              .select("doc_a", "doc_b", F.lit(1).alias("s")))
    j = truth.join(sketch, ["doc_a", "doc_b"], "full")
    # groupBy a constant, NOT a global agg: an empty corpus then yields
    # ZERO report rows (the module-wide empty-schema invariant) instead
    # of one all-NULL row
    return (j.groupBy(F.lit(1).alias("k"))
            .agg(F.sum("t").cast("bigint").alias("n_truth"),
                 F.sum("s").cast("bigint").alias("n_sketch"),
                 F.sum(F.col("t") * F.col("s")).cast("bigint")
                 .alias("n_both"))
            .select("n_truth", "n_sketch", "n_both",
                    F.expr("n_both * 1000000 DIV nullif(n_sketch, 0)")
                    .cast("bigint").alias("precision_ppm"),
                    F.expr("n_both * 1000000 DIV nullif(n_truth, 0)")
                    .cast("bigint").alias("recall_ppm")))


SKETCH_PR_SQL = f"""
WITH truth AS (
  SELECT doc_a, doc_b, 1 AS t FROM ({MINHASH_MD5_SQL})
), sketch AS (
  SELECT doc_a, doc_b, 1 AS s FROM ({SIMHASH_MD5_SQL})
), j AS (
  SELECT COALESCE(truth.doc_a, sketch.doc_a) AS doc_a, t, s
  FROM truth FULL JOIN sketch
    ON truth.doc_a = sketch.doc_a AND truth.doc_b = sketch.doc_b
)
SELECT n_truth, n_sketch, n_both, precision_ppm, recall_ppm
FROM (SELECT 1 AS k,
             CAST(SUM(t) AS BIGINT) AS n_truth,
             CAST(SUM(s) AS BIGINT) AS n_sketch,
             CAST(SUM(t * s) AS BIGINT) AS n_both,
             CAST(SUM(t * s) * 1000000 // nullif(SUM(s), 0) AS BIGINT)
               AS precision_ppm,
             CAST(SUM(t * s) * 1000000 // nullif(SUM(t), 0) AS BIGINT)
               AS recall_ppm
      FROM j GROUP BY k)
"""


def lsh_parameter_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH capacity planning as a query: the analytic MinHash-LSH
    S-curve ``P(candidate) = 1 - (1 - s^r)^b`` for every (bands b,
    rows-per-band r) factorization of the module's 16-hash signature,
    across Jaccard similarities 0.10..0.90 — the table an operator
    reads to pick banding for a target threshold (the module's
    b=16, r=1 keeps recall ~1 at s>=0.5; b=4, r=4 trades recall for
    candidate volume). Probabilities in integer micros via the 6dp
    rounding idiom so the value hash is engine-portable.

    Scale: a 45-row literal frame of pure arithmetic — the planner is
    free regardless of corpus size (that is the point: plan BEFORE the
    scan). ``sf_dir`` is unused; the curve depends only on (b, r, s).
    """
    cfgs = [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]
    rows = [(b, r, k * 10) for (b, r) in cfgs for k in range(1, 10)]
    base = spark.createDataFrame(
        rows, "bands int, rows_per_band int, jaccard_pct int")
    p = ("1 - power(1 - power(jaccard_pct / 100.0, rows_per_band), "
         "bands)")
    return base.select(
        "bands", "rows_per_band", "jaccard_pct",
        F.expr(f"CAST(floor(round({p}, 6) * 1000000 + 0.5) AS BIGINT)")
        .alias("p_candidate_micros"))


LSH_PLANNER_SQL = """
WITH cfg AS (
  SELECT * FROM (VALUES (16, 1), (8, 2), (4, 4), (2, 8), (1, 16))
           t(bands, rows_per_band)
), s AS (
  SELECT CAST(k * 10 AS INT) AS jaccard_pct
  FROM (SELECT unnest(range(1, 10)) AS k)
)
SELECT bands, rows_per_band, jaccard_pct,
       CAST(floor(round(
         1 - power(1 - power(jaccard_pct / 100.0, rows_per_band), bands),
         6) * 1000000 + 0.5) AS BIGINT) AS p_candidate_micros
FROM cfg, s
"""


def containment_md5_pairs(spark: SparkSession, sf_dir: str,
                          n: int = 8, df_cap: int = 64) -> DataFrame:
    """ASYMMETRIC containment pairs [EXT] — the dedup signal Jaccard
    cannot see: a short document quoted verbatim inside a long one has
    containment(A in B) ~ 1 while Jaccard stays tiny. This is the
    Broder containment measure used for quote/subset/boilerplate
    detection alongside symmetric near-dedup.

    Gram identity is the md5-portable word-``n``-gram (same whole-text
    rule as ``decontamination_ngram_overlap``: docs with <= n tokens
    contribute one whole-text gram), distinct per doc. Candidate pairs
    come from a document-frequency-CAPPED gram join (df in [2, 64] —
    boilerplate grams shared by more than 64 docs are dropped BEFORE
    the self-join, the ``longest_shared_spans`` idiom), so per-gram
    fan-out is bounded by df_cap² and no all-pairs step exists.
    Containment denominators use each doc's FULL distinct-gram count
    (capped grams still count toward sizes — the cap bounds the join,
    not the measure). Output keeps pairs with max containment >= 0.5
    and classifies them: near_dup (Jaccard >= 0.9), a_in_b / b_in_a
    (one-sided containment >= 0.9), else partial."""
    d = table(spark, sf_dir, "documents")
    g = (d.select(
            "doc_id",
            F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t"))
         .select("doc_id", F.explode(F.expr(
             f"CASE WHEN size(t) <= {n} THEN array(array_join(t, ' ')) "
             f"ELSE transform(sequence(0, size(t) - {n}), "
             f"i -> array_join(slice(t, i + 1, {n}), ' ')) END"))
             .alias("gram")))
    grams = (g.select(
        "doc_id",
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("bigint")
        .alias("gid")).dropDuplicates()
        # (doc, gram-id) relation consumed 5x (sizes, df filter, both
        # join sides): materialize once (r9 scan-census discipline)
        .localCheckpoint(eager=True))
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    keep = (grams.groupBy("gid").agg(F.count(F.lit(1)).alias("df"))
            .filter((F.col("df") >= 2) & (F.col("df") <= df_cap))
            .select("gid"))
    kept = grams.join(keep, "gid")
    a = kept.select(F.col("doc_id").alias("doc_a"), "gid")
    b = kept.select(F.col("doc_id").alias("doc_b"), "gid")
    pairs = (a.join(b, ["gid"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    out = (pairs
           .join(sizes.withColumnsRenamed({"doc_id": "doc_a", "sz": "na"}),
                 "doc_a")
           .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "sz": "nb"}),
                 "doc_b")
           .withColumn("cont_a_ppm", F.expr("n_inter * 1000000 DIV na"))
           .withColumn("cont_b_ppm", F.expr("n_inter * 1000000 DIV nb"))
           .withColumn("jaccard_ppm",
                       F.expr("n_inter * 1000000 DIV (na + nb - n_inter)"))
           .filter(F.greatest("cont_a_ppm", "cont_b_ppm") >= 500_000))
    return out.select(
        "doc_a", "doc_b", "na", "nb", "n_inter",
        "cont_a_ppm", "cont_b_ppm", "jaccard_ppm",
        F.when(F.col("jaccard_ppm") >= 900_000, "near_dup")
        .when(F.col("cont_a_ppm") >= 900_000, "a_in_b")
        .when(F.col("cont_b_ppm") >= 900_000, "b_in_a")
        .otherwise("partial").alias("relation"))


CONTAINMENT_MD5_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT AS gid
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(t) <= 8 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, len(t) - 6),
                                      i -> array_to_string(t[i:i+7], ' '))
                  END) AS g
    FROM toks)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), keep AS (
  SELECT gid FROM grams GROUP BY gid
  HAVING COUNT(*) BETWEEN 2 AND 64
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM (SELECT g.* FROM grams g JOIN keep k ON g.gid = k.gid) a
  JOIN (SELECT g.* FROM grams g JOIN keep k ON g.gid = k.gid) b
    ON a.gid = b.gid AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT p.doc_a, p.doc_b,
         CAST(sa.sz AS BIGINT) AS na, CAST(sb.sz AS BIGINT) AS nb,
         CAST(p.n_inter AS BIGINT) AS n_inter,
         CAST(p.n_inter * 1000000 // sa.sz AS BIGINT) AS cont_a_ppm,
         CAST(p.n_inter * 1000000 // sb.sz AS BIGINT) AS cont_b_ppm,
         CAST(p.n_inter * 1000000 // (sa.sz + sb.sz - p.n_inter)
              AS BIGINT) AS jaccard_ppm
  FROM pairs p
  JOIN sizes sa ON p.doc_a = sa.doc_id
  JOIN sizes sb ON p.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, na, nb, n_inter, cont_a_ppm, cont_b_ppm,
       jaccard_ppm,
       CASE WHEN jaccard_ppm >= 900000 THEN 'near_dup'
            WHEN cont_a_ppm >= 900000 THEN 'a_in_b'
            WHEN cont_b_ppm >= 900000 THEN 'b_in_a'
            ELSE 'partial' END AS relation
FROM scored
WHERE GREATEST(cont_a_ppm, cont_b_ppm) >= 500000
"""


def golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIELD-LEVEL survivorship (MDM golden record) [EXT]: where
    ``dedup_keep_best`` keeps one whole ROW per duplicate cluster, the
    golden record assembles its fields from DIFFERENT members by
    per-field rules — id from the oldest member, text from the most
    complete (longest raw text, tie -> lowest id), language set and
    source spread unioned across all members. The master-data-
    management merge step that follows any dedup pass.

    Clusters are the canonical-fingerprint groups (case/whitespace-
    normalized md5, same rule as ``dedup_fingerprint``), singletons
    excluded. One fp shuffle; the longest-member pick is a per-cluster
    ``row_number <= 1`` (WindowGroupLimit-bounded); the lang union is
    a sorted-distinct join (``array_join(array_sort(collect_set))`` —
    Spark 4.1's ``listagg(DISTINCT ...) WITHIN GROUP`` hits a
    SortOrder ClassCastException, so the composition stands in; the
    DuckDB twin is ordered-DISTINCT ``string_agg``)."""
    d = (table(spark, sf_dir, "documents")
         .select("doc_id", "lang", "source", "text",
                 T.fingerprint("text").alias("fp")))
    w = Window.partitionBy("fp").orderBy(
        F.length("text").desc(), "doc_id")
    longest = (d.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1)
               .select("fp", F.col("doc_id").alias("longest_doc_id"),
                       F.length("text").alias("longest_len")))
    agg = (d.groupBy("fp")
           .agg(F.min("doc_id").alias("golden_doc_id"),
                F.count(F.lit(1)).alias("n_members"),
                F.countDistinct("source").alias("n_sources"),
                F.array_join(F.array_sort(F.collect_set("lang")), ",")
                .alias("langs")))
    return (agg.filter(F.col("n_members") >= 2)
            .join(longest, "fp")
            .select("fp", "golden_doc_id", "longest_doc_id",
                    "longest_len", "langs", "n_sources", "n_members"))


GOLDEN_RECORD_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, source, text, {T.SQL_FINGERPRINT} AS fp
  FROM documents
), longest AS (
  SELECT fp, doc_id AS longest_doc_id,
         CAST(length(text) AS INT) AS longest_len
  FROM (SELECT fp, doc_id, text,
               ROW_NUMBER() OVER (PARTITION BY fp
                                  ORDER BY length(text) DESC, doc_id)
                 AS rn
        FROM d)
  WHERE rn = 1
), agg AS (
  SELECT fp, MIN(doc_id) AS golden_doc_id, COUNT(*) AS n_members,
         COUNT(DISTINCT source) AS n_sources,
         string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
  FROM d GROUP BY fp
)
SELECT a.fp, a.golden_doc_id, l.longest_doc_id, l.longest_len,
       a.langs, a.n_sources, a.n_members
FROM agg a JOIN longest l ON a.fp = l.fp
WHERE a.n_members >= 2
"""


def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str,
                              w: int = 3,
                              min_jaccard_ppm: int = 200_000) -> DataFrame:
    """SORTED-NEIGHBORHOOD METHOD blocking [EXT] (Hernández & Stolfo,
    SIGMOD'95) — the third classic dedup blocking family beside
    hash-banding (MinHash-LSH) and prefix blocking: sort the corpus by
    a blocking key (here the normalized text itself, so near-dup
    prefixes land adjacent), then compare each record only with its
    ``w`` nearest neighbors in sort order.  Pairs are verified by
    exact word-trigram Jaccard and kept above ``min_jaccard_ppm``.

    Scale: the global sort rank comes from
    ``scaleops.global_row_number`` (two-phase range-partition ranking
    — NO un-partitioned window), and the neighbor join is an
    EQUI-join on ``rn + k`` for literal k=1..w (an explode of w rows
    per doc, never an inequality join), so the candidate set is
    exactly n*w — the linear-candidate guarantee that makes SNM a
    100 TB method.  Verification joins are term-keyed like every
    pair family here."""
    from spark_kafka_airflow_pipeline_spark.operators.scaleops import (
        global_row_number,
    )

    d = table(spark, sf_dir, "documents")
    keyed = d.select("doc_id",
                     F.lower(F.trim(F.col("text"))).alias("key"))
    ranked = global_row_number(keyed, "key", "doc_id", out="rn") \
        .select("doc_id", "rn")
    offsets = F.explode(F.array(*[F.lit(k) for k in range(1, w + 1)]))
    a = ranked.select(F.col("doc_id").alias("doc_a"),
                      F.col("rn").alias("rn_a"),
                      offsets.alias("k"))
    b = ranked.select(F.col("doc_id").alias("doc_b"),
                      F.col("rn").alias("rn_b"))
    cand = (a.join(b, F.col("rn_b") == F.col("rn_a") + F.col("k"))
            .select("doc_a", "doc_b",
                    F.col("k").cast("int").alias("rank_gap")))

    toks = (d.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t"))
        .select("doc_id", F.explode(F.expr(
            "CASE WHEN size(t) <= 3 THEN array(array_join(t, ' ')) "
            "ELSE transform(sequence(0, size(t) - 3), "
            "i -> array_join(slice(t, i + 1, 3), ' ')) END")).alias("term"))
        .distinct())
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    ta = toks.select(F.col("doc_id").alias("doc_a"), "term")
    tb = toks.select(F.col("doc_id").alias("tb_doc"),
                     F.col("term").alias("term_b"))
    inter = (cand.join(ta, "doc_a")
             .join(tb, (F.col("doc_b") == F.col("tb_doc"))
                   & (F.col("term") == F.col("term_b")))
             .groupBy("doc_a", "doc_b", "rank_gap")
             .agg(F.count(F.lit(1)).alias("inter")))
    return (inter
            .join(sizes.withColumnRenamed("doc_id", "doc_a")
                  .withColumnRenamed("sz", "sz_a"), "doc_a")
            .join(sizes.withColumnRenamed("doc_id", "doc_b")
                  .withColumnRenamed("sz", "sz_b"), "doc_b")
            .select("doc_a", "doc_b", "rank_gap", "inter",
                    (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                    .alias("union_sz"),
                    F.expr("CAST(inter * 1000000 DIV"
                           " (sz_a + sz_b - inter) AS BIGINT)")
                    .alias("jaccard_ppm"))
            .filter(F.col("jaccard_ppm") >= min_jaccard_ppm)
            .orderBy("doc_a", "doc_b"))


SORTED_NEIGHBORHOOD_SQL = """
WITH keyed AS (
  SELECT doc_id, lower(trim(text)) AS key FROM documents
), ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY key, doc_id) AS rn
  FROM keyed
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(b.rn - a.rn AS INT) AS rank_gap
  FROM ranked a JOIN ranked b ON b.rn - a.rn BETWEEN 1 AND 3
), toks AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                ELSE list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
                END) AS term
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        FROM documents)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, c.rank_gap, COUNT(*) AS inter
  FROM cand c
  JOIN toks ta ON ta.doc_id = c.doc_a
  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.term = ta.term
  GROUP BY 1, 2, 3
)
SELECT i.doc_a, i.doc_b, i.rank_gap, i.inter,
       CAST(sa.sz + sb.sz - i.inter AS BIGINT) AS union_sz,
       CAST(i.inter * 1000000 // (sa.sz + sb.sz - i.inter) AS BIGINT)
         AS jaccard_ppm
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.inter * 1000000 // (sa.sz + sb.sz - i.inter) >= 200000
ORDER BY i.doc_a, i.doc_b
"""


QUERIES: dict[str, QueryFn] = {
    "sorted_neighborhood_pairs": sorted_neighborhood_pairs,
    "golden_record_merge": golden_record_merge,
    "containment_md5_pairs": containment_md5_pairs,
    "lsh_parameter_planner": lsh_parameter_planner,
    "sketch_family_pr_eval": sketch_family_pr_eval,
    "minhash_estimate_error": minhash_estimate_error,
    "split_leakage_audit": split_leakage_audit,
    "incremental_dedup_md5": incremental_dedup_md5,
    "doc_dup_scores": doc_dup_scores,
    "minhash_md5_pairs": minhash_md5_pairs,
    "blocking_quality_report": blocking_quality_report,
    "fellegi_sunter_weights": fellegi_sunter_weights,
    "ngram_jaccard_md5_pairs": ngram_jaccard_md5_pairs,
    "simhash_md5_pairs": simhash_md5_pairs,
    "dedup_clusters_md5": dedup_clusters_md5,
    "dedup_exact": dedup_exact,
    "dedup_fingerprint": dedup_fingerprint,
    "dedup_keep_best": dedup_keep_best,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "simhash_buckets": simhash_buckets,
    "simhash_near_dups": simhash_near_dups,
    "ngram_jaccard_dups": ngram_jaccard_dups,
    "dedup_clusters": dedup_clusters,
    "incremental_dedup_minhash": incremental_dedup_minhash,
}

# rows-only entries (murmur3 minhash/simhash/ngram) intentionally
# absent here; minhash_md5_pairs is the oracled algorithm proof
ORACLES: dict[str, str] = {
    "sorted_neighborhood_pairs": SORTED_NEIGHBORHOOD_SQL,
    "containment_md5_pairs": CONTAINMENT_MD5_SQL,
    "golden_record_merge": GOLDEN_RECORD_SQL,
    "lsh_parameter_planner": LSH_PLANNER_SQL,
    "sketch_family_pr_eval": SKETCH_PR_SQL,
    "minhash_estimate_error": MINHASH_ESTIMATE_SQL,
    "split_leakage_audit": SPLIT_LEAKAGE_SQL,
    "incremental_dedup_md5": INCREMENTAL_MD5_SQL,
    "doc_dup_scores": DOC_DUP_SCORES_SQL,
    "minhash_md5_pairs": MINHASH_MD5_SQL,
    "blocking_quality_report": BLOCKING_QUALITY_SQL,
    "fellegi_sunter_weights": FELLEGI_SUNTER_SQL,
    "ngram_jaccard_md5_pairs": NGRAM_MD5_SQL,
    "simhash_md5_pairs": SIMHASH_MD5_SQL,
    "dedup_clusters_md5": DEDUP_CLUSTERS_MD5_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_fingerprint": DEDUP_FINGERPRINT_SQL,
    "dedup_keep_best": DEDUP_KEEP_BEST_SQL,
}
