"""Corpus-level statistical scoring for training-data curation: TF-IDF
keyword extraction and a corpus-trained bigram language-model score.

These are the "statistical quality signal" half of a CCNet-style pipeline
(the rule-based half lives in :mod:`operators.text`): CCNet ranks
documents by the perplexity of a language model trained on a trusted
corpus; here the model is trained on the corpus itself (self-perplexity),
which flags documents whose token transitions are atypical for the
corpus — boilerplate, gibberish, wrong-language fragments.

Reference parity: the reference engine (dittofeed/clickhouse-segments-
tutorial) has no LLM-pipeline surface; these operators extend the engine
per the driver's training-data-pipeline mandate.

Scale design (100 TB):
- Everything is expressed as explode -> hash-aggregate -> shuffle join;
  no driver-side state, no O(n^2) step. Token explode multiplies rows by
  ~doc length, but each row is a short string and the first groupBy
  collapses it with map-side partial aggregation (Zipf head terms
  partial-aggregate extremely well: "the" collapses to one row per task
  before the shuffle).
- The document-frequency / bigram-count tables are O(vocab), not
  O(corpus); at web scale vocab is tens of millions of rows — a normal
  shuffle join, and AQE's skew-join handles the Zipf-head keys (the
  count row for "the" joins against millions of occurrence rows).
- The corpus-size / vocab-size scalars are one-row aggregates joined via
  broadcast crossJoin, never .collect() into the plan (partitioning- and
  retry-safe).

Cross-engine determinism (DuckDB oracles):
- ASCII-only lowercasing via translate() — java String.toLowerCase and
  DuckDB lower() disagree on locale-sensitive codepoints (Turkish I,
  combining marks); translate is byte-exact in both engines.
- Terms are restricted to ^[a-z0-9]+$ after stripping edge punctuation,
  so the vocab is identical across engines regardless of how either
  regex engine classifies non-ASCII word characters.
- ln() is libm-dependent in the last ulp, so every emitted score is
  rounded to 6 decimals; ranking ties are broken on exact integer /
  string keys (term asc) so row ordering never depends on float ulps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .exploding import select_exploded, select_posexploded
from .text import tokens

_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"


def _term(tok):
    """ASCII-lowercase a token and strip leading/trailing punctuation."""
    return F.regexp_replace(
        F.translate(tok, _UPPER, _LOWER), r"^[^a-z0-9]+|[^a-z0-9]+$", ""
    )


def _doc_token_arrays(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, _terms): each document's kept-term array — the ONE
    tokenize + term-normalize projection every term-stream consumer
    derives from (and the frame to persist when a plan needs the
    stream more than once: the arrays are map-only to re-fold, the
    tokenizer is the per-row cost)."""
    # NULL text behaves as empty (coalesce) — without it size/split
    # propagate NULL and the doc silently drops metrics downstream (the
    # r6-review redact_pii lesson applied here from the start).
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.transform(tokens(F.coalesce(F.col(text_col), F.lit(""))), _term),
            lambda t: t.rlike("^[a-z0-9]+$"),
        ).alias("_terms"),
    )


def doc_terms(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per (doc, position): the normalized term stream.

    Positions are 0-based over the kept terms (tokens that normalize to a
    pure-alnum ASCII term); tokens that normalize to '' or contain
    interior punctuation are dropped identically in Spark and DuckDB.
    """
    toks = _doc_token_arrays(docs, text_col, id_col)
    return select_posexploded(
        toks, "doc_id", arr="_terms", pos_alias="pos", alias="term"
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF.

    score = tf * (ln((N + 1) / (df + 1)) + 1), the sklearn-style smoothed
    idf (never negative, defined for df = N). Emitted rounded to 6
    decimals; top-k selection ranks on the SAME rounded value (with term
    asc as the tiebreak) — ranking on the raw float would let two terms
    with near-equal scores flip order under Spark's vs the oracle's libm
    ln() ulps even though the emitted score is ulp-stripped.

    Plan: explode -> two hash aggs (tf per (doc,term), df per term) ->
    one shuffle join on term -> per-doc top-k window. The window
    partitions by doc_id over at most |vocab∩doc| rows per doc — no
    skewed single-reducer key (contrast: a global ORDER BY would be).
    """
    terms = doc_terms(docs, text_col, id_col)
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n"))
    # pass the tf frame through: df_ already derives from it, and
    # letting tfidf_from_stats re-derive terms/tf would put the
    # corpus-sized explode+agg in the plan TWICE (r12 ADVICE)
    return tfidf_from_stats(
        docs, df_, n_docs, k=k, text_col=text_col, id_col=id_col, tf=tf
    )


def tfidf_from_stats(
    docs: DataFrame,
    df_table: DataFrame,
    n_docs: DataFrame,
    *,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    tf: DataFrame | None = None,
) -> DataFrame:
    """Score ``docs`` against a PRE-BUILT corpus model — ``df_table``
    (term, df) and ``n_docs`` (one row, ``_n``) — the ONE definition
    site of the TF-IDF math (:func:`tfidf_top_terms` derives the model
    from the docs themselves; the incremental twin rebuilds it from
    wave-count state — plans/corpus_stats_twins.py — and both paths
    produce bit-identical scores because this function is shared).
    tf is always recomputed from the docs being scored (it is per-doc,
    not corpus state).

    Terms ABSENT from the model score with df = 0 (left join +
    coalesce): the smoothed idf ln((N+1)/(0+1)) + 1 is exactly what the
    formula defines for an unseen term, so scoring docs OUTSIDE the
    training corpus is well-defined — an inner join would silently drop
    unseen terms from the top-k (r12 review finding 3). Same-corpus
    scoring (every registered query) never takes the coalesce branch,
    so batch results are unchanged.

    ``tf`` optionally supplies the per-(doc, term) counts when the
    caller already built them (tfidf_top_terms derives df FROM tf, so
    re-deriving here would duplicate the corpus-sized explode+agg in
    one plan — r12 ADVICE); when None it is derived from ``docs``."""
    if tf is None:
        terms = doc_terms(docs, text_col, id_col)
        tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    idf = F.log((F.col("_n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    scored = (
        tf.join(df_table, "term", "left")
        .withColumn("df", F.coalesce("df", F.lit(0)))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("_score", F.round(F.col("tf") * idf, 6))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("_score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "rank",
            "term",
            F.col("tf").cast("int").alias("tf"),
            F.col("df").cast("int").alias("df"),
            F.col("_score").alias("tfidf"),
        )
    )


def bigram_nll(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document average negative log-likelihood under an add-one-
    smoothed bigram LM trained on the corpus itself (CCNet-style
    perplexity filtering, with the corpus as its own training set).

    p(w2 | w1) = (C(w1 w2) + 1) / (C(w1 .) + V), V = |vocab|.
    avg_nll = -mean(ln p) over the doc's bigrams; documents with fewer
    than 2 kept terms are emitted with n_bigrams = 0 and NULL avg_nll
    (they have no transitions to score — dropping them would silently
    shrink the corpus).

    Scale: bigram counts are a hash agg over the exploded stream (Zipf
    partial-agg applies); scoring is two shuffle joins (bigram counts,
    then unigram-context counts) and one per-doc agg. V is a one-row
    broadcast. The decimal-exact sum of rounded per-bigram lns makes the
    per-doc mean independent of partitioning.
    """
    from pyspark import StorageLevel

    # The tokenize + term-normalize projection is the plan's dominant
    # per-row cost and is needed THREE times — the model's bigram
    # counts, the scoring join's bigram stream, and the vocab size.
    # Stage the (doc_id, _terms) arrays ONCE (guide §5: reused 3x,
    # corpus-sized to recompute; MEMORY_AND_DISK spills rather than
    # OOMs at scale); every consumer folds map-only off the cached
    # arrays with the exact expressions it always used, so counts,
    # vocab, and scores are bit-identical to the unshared form.
    toks = _doc_token_arrays(docs, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # The folded bigram stream is NOT separately persisted: its two
    # consumers (the count agg and the scoring join) re-run the map-only
    # zip fold off the cached arrays, which is cheaper than a second
    # corpus-sized cache materialization + read-back (r17 measured the
    # double persist as the suspect in the bigram_nll bench regression;
    # this is the "one cache instead of two" shape). The token-array
    # persist itself is unreachable from the caller — the one documented
    # exception to the never-leak-a-persist rule; repeated calls in a
    # long-lived session rely on the caller-side clearCache contract
    # (bench.py clears per sample).
    bigrams = _bigrams_from_token_arrays(toks)
    big_c = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    vocab = select_exploded(toks, arr="_terms", alias="term").agg(
        F.count_distinct("term").alias("_v")
    )
    return bigram_nll_from_counts(
        docs, big_c, vocab, text_col=text_col, id_col=id_col, bigrams=bigrams
    )


def doc_bigrams(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, w1, w2): each document's adjacent-term transitions, in
    order — the shared stream of :func:`bigram_nll` and its incremental
    twin's per-wave count pass.

    MAP-ONLY: adjacent pairs fold straight out of the per-doc term
    array (zip the array with itself shifted by one) — the previous
    posexplode + lead-window form paid a full corpus Exchange + sort
    just to rediscover adjacency the array already encodes (guide §2.4
    "remove shuffles outright"). Docs with < 2 kept terms produce no
    transitions either way (the when() yields NULL, explode drops it —
    exactly the rows the old isNotNull filter removed)."""
    return _bigrams_from_token_arrays(_doc_token_arrays(docs, text_col, id_col))


def _bigrams_from_token_arrays(toks: DataFrame) -> DataFrame:
    """The map-only adjacent-pair fold of :func:`doc_bigrams`, over an
    already-built (doc_id, _terms) frame — split out so a caller that
    staged the token arrays (bigram_nll) folds bigrams off the cache
    instead of re-tokenizing."""
    n1 = F.size("_terms") - 1
    return select_exploded(
        toks,
        "doc_id",
        arr=F.when(
            F.size("_terms") >= 2,
            F.zip_with(
                F.slice("_terms", 1, n1),
                F.slice("_terms", 2, n1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
        ),
        alias="_bg",
    ).select("doc_id", F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))


def bigram_nll_from_counts(
    docs: DataFrame,
    big_c: DataFrame,
    vocab: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bigrams: DataFrame | None = None,
) -> DataFrame:
    """Score ``docs`` against a PRE-BUILT bigram model — ``big_c``
    (w1, w2, c12) and ``vocab`` (one row, ``_v`` = |vocab|) — the ONE
    definition site of the smoothed-NLL math (:func:`bigram_nll`
    derives the counts from the docs themselves; the incremental twin
    rebuilds them from wave-count state and both paths share this
    scorer bit-for-bit). C(w1, .) always folds out of the bigram counts
    (vocab-sized agg, never a second corpus pass).

    Transitions ABSENT from the model score with c12 = 0 and an unseen
    context with c1 = 0 (left joins + coalesce): add-one smoothing
    p = (0+1)/(0+V) is exactly what the estimator defines for them, so
    scoring docs OUTSIDE the training corpus is well-defined — an inner
    join would silently drop unseen transitions from n_bigrams and the
    mean (r12 review finding 3). Same-corpus scoring (every registered
    query) never takes a coalesce branch, so batch results are
    unchanged.

    ``bigrams`` optionally supplies the (doc_id, w1, w2) stream when
    the caller already built it (:func:`bigram_nll` derives big_c FROM
    it, so re-deriving here would put the corpus-sized explode + window
    in one plan twice — the tfidf_from_stats ``tf`` precedent); when
    None it is derived from ``docs``."""
    if bigrams is None:
        bigrams = doc_bigrams(docs, text_col, id_col)
    # C(w1,.) folds out of the bigram counts — a vocab-sized aggregation —
    # instead of a second corpus-wide explode + shuffle over the raw stream.
    uni_c = big_c.groupBy("w1").agg(F.sum("c12").alias("c1"))
    # per-bigram ln rounded to 12 decimals BEFORE the sum: the summands are
    # then identical doubles in both engines (libm ulp noise removed), and
    # the decimal-exact accumulation makes the sum order-independent.
    ln_p = F.round(
        F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("_v"))), 12
    )
    scored = (
        bigrams.join(big_c, ["w1", "w2"], "left")
        .withColumn("c12", F.coalesce("c12", F.lit(0)))
        .join(uni_c, "w1", "left")
        .withColumn("c1", F.coalesce("c1", F.lit(0)))
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                -F.sum(ln_p.cast("decimal(28,14)")).cast("double")
                / F.count(F.lit(1))
            ).alias("_nll"),
        )
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("int").alias("n_bigrams"),
            F.round("_nll", 6).alias("avg_nll"),
        )
    )


def ngram_novelty(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    n-gram shingles that first appear in that document, attributing every
    distinct corpus gram to the lowest doc_id containing it.

    The "have we seen this content before" curation signal: near-1.0 docs
    contribute new text; near-0.0 docs are recombinations of earlier
    grams (templates, boilerplate, shuffled dups) even when no pairwise
    near-dup fires. Complements dedup (which needs a similar PAIR) — a
    doc assembled from a thousand earlier docs has no near-dup partner
    but novelty ~0.

    Shingling follows the dedup convention (dedup.shingle_hashes_from_tokens):
    empty doc -> no grams (absent from the output), 0 < len < n -> one
    whole-doc gram, else sliding n-grams, deduplicated per doc. Gram keys
    are full-width md5 of the space-joined gram — engine-portable (DuckDB
    md5) with identical collision behavior across engines.

    Scale (100 TB): explode distinct grams per doc (array_distinct before
    the explode keeps repeated boilerplate from multiplying rows) and
    hash-agg on the gram key for min-doc attribution (partial map-side);
    per-doc novelty then folds WITHOUT the gram-keyed join back — n_novel
    is a count over the (distinct-gram-sized) first-seen table keyed by
    its attributed doc, and n_grams a per-doc count of the same exploded
    stream whose map-side partial agg ships doc-count-sized rows. The
    old join-back shape shuffled the corpus-gram stream twice more (join
    probe + per-doc agg over the joined grams); this one shuffles grams
    once (the attribution agg) plus two doc-count-sized frames. No
    windows over the corpus, no driver state. Output is one row per
    non-empty doc: (doc_id, n_grams, n_novel, novelty) — value-identical
    to novelty_from_firsts over the same inputs (n_novel counts exactly
    the grams whose min-doc is this doc; n_grams equals the join-shape's
    per-doc count because the inner join kept every gram row — every
    gram has a first-seen attribution)."""
    sh = doc_gram_keys(docs, text_col=text_col, id_col=id_col, n=n)
    first_seen = sh.groupBy("_g").agg(F.min("doc_id").alias("_first"))
    novel = (
        first_seen.groupBy("_first")
        .agg(F.count(F.lit(1)).cast("int").alias("n_novel"))
        .withColumnRenamed("_first", "doc_id")
    )
    # per-doc gram count off the SAME exploded stream (map-side partial
    # agg folds each doc's rows inside its input partition, so the
    # exchange carries doc-count-sized rows). NOT a map-only
    # size(gram_array) projection: filtering on a size() of the computed
    # array re-inlines the whole gram build into a pushed-down filter
    # below the scan (the operators/exploding.py re-evaluation tax —
    # measured 2.3s -> 10.8s on this query), while the exploded stream
    # goes through select_exploded's protected form.
    counts = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_grams")
    )
    return (
        counts.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("int").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("int").alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0)) / F.col("n_grams"), 6
            ).alias("novelty"),
        )
    )


def doc_gram_keys(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(doc_id, _g): every DISTINCT n-gram shingle per doc as a full-width
    md5 key (dedup shingle convention: empty doc -> none, len < n -> one
    whole-doc gram). Shared by the batch and incremental novelty paths so
    the two cannot drift."""
    toks = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
    cnt = F.size("_t")
    whole = F.array(F.concat_ws(" ", F.col("_t")))
    many = F.transform(
        F.sequence(F.lit(0), cnt - n),
        lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i + 1, n)),
    )
    grams = (
        F.when(cnt == 0, F.array().cast("array<string>"))
        .when(cnt < n, whole)
        .otherwise(many)
    )
    return select_exploded(
        toks.select("doc_id", F.array_distinct(grams).alias("_ga")),
        "doc_id",
        arr=F.col("_ga"),
        alias="_g"
    ).select("doc_id", F.md5("_g").alias("_g"))


def novelty_from_firsts(sh: DataFrame, firsts: DataFrame) -> DataFrame:
    """Fold (doc_id, _g) x (_g, _first) into the per-doc novelty row —
    the aggregation half shared by the batch and incremental paths."""
    return (
        sh.join(firsts.select("_g", "_first"), "_g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_grams"),
            F.sum(
                F.when(F.col("_first") == F.col("doc_id"), 1).otherwise(0)
            ).cast("int").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"),
        )
    )


def perplexity_buckets(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    cuts: tuple[float, float] = (1 / 3, 2 / 3),
    mode: str = "exact",
    approx_accuracy: int = 10000,
) -> DataFrame:
    """CCNet's head/middle/tail quality bucketing: score every doc with
    the corpus-trained bigram-LM NLL (:func:`bigram_nll`), then split the
    scored corpus at the interpolated tercile cuts — 'head' is the
    most-fluent third (lowest NLL), the slice CCNet keeps preferentially
    for LM training; 'tail' the least. Docs with no bigrams (under two
    kept terms) have no defined perplexity and are excluded, as in CCNet.

    Scale: the cuts are ONE percentile aggregation over the
    (doc-count-sized, not token-sized) score table, broadcast back as a
    1-row scalar — same pattern as the vocab-count scalar inside
    bigram_nll.

    ``mode`` (r9 verdict item 5):
    - ``'exact'`` (default, the registered query): F.percentile buffers
      each partition's score set — fine to ~1e9 docs, and its linear
      interpolation matches DuckDB quantile_cont (proven by the
      order_value_percentiles oracle), so the output is value-oracled. A
      doc score can only equal a cut when the cut IS an order statistic,
      so an ulp of interpolation noise cannot flip a bucket.
    - ``'approx'``: F.approx_percentile (constant-memory t-digest-style
      sketch) for extreme doc counts. Bucket assignments can differ from
      exact ONLY for docs whose score falls between the true cut and the
      sketch's estimate — bounded by ``approx_accuracy`` (guaranteed
      rank error <= n/approx_accuracy per cut, i.e. <= 2n/accuracy docs
      over both cuts), measured at 1 flipped doc of 5000 on this corpus
      at sf0.1 with the default accuracy — exactly at the bound
      (BASELINE.md r10). Not value-oracled; use for scale, not parity.
    """
    if mode not in ("exact", "approx"):
        raise ValueError(f"mode must be 'exact' or 'approx', got {mode!r}")
    scored = bigram_nll(docs, text_col=text_col, id_col=id_col)
    valid = scored.filter(F.col("avg_nll").isNotNull())
    lo, hi = cuts
    if mode == "exact":
        cut_row = valid.agg(
            F.percentile(F.col("avg_nll"), F.lit(float(lo))).alias("_c1"),
            F.percentile(F.col("avg_nll"), F.lit(float(hi))).alias("_c2"),
        )
    else:
        cut_row = valid.agg(
            F.approx_percentile(
                F.col("avg_nll"), F.lit(float(lo)), F.lit(approx_accuracy)
            ).alias("_c1"),
            F.approx_percentile(
                F.col("avg_nll"), F.lit(float(hi)), F.lit(approx_accuracy)
            ).alias("_c2"),
        )
    return (
        valid.crossJoin(F.broadcast(cut_row))
        .select(
            "doc_id",
            "n_bigrams",
            "avg_nll",
            F.when(F.col("avg_nll") <= F.col("_c1"), "head")
            .when(F.col("avg_nll") <= F.col("_c2"), "middle")
            .otherwise("tail")
            .alias("ppl_bucket"),
        )
    )
