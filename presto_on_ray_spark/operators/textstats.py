"""Text analysis operators (SURVEY §2.11): language-ID, quality
scoring, token counting, document fingerprinting — all expressed with
built-in string/array functions (JVM-side; no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from presto_on_ray_spark import store as store_proto
from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.suite import query

_STOPWORDS = ["the", "a", "of", "and", "to"]


@query(
    "text_quality_scores",
    oracle="""
    SELECT doc_id,
           n_chars,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
           ROUND(CAST(LENGTH(text) AS DOUBLE) / LEN(STRING_SPLIT(text, ' ')), 4) AS avg_word_len,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> LIST_CONTAINS(['the','a','of','and','to'], w))) AS BIGINT) AS n_stopwords,
           ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> LIST_CONTAINS(['the','a','of','and','to'], w))) AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')), 4) AS stopword_ratio,
           CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_unique_words
    FROM documents
    """,
)
def text_quality_scores(spark, sf_dir):
    """Quality scoring: length, word count, avg word length, stopword
    ratio, vocabulary size — the filter features of a pretraining
    pipeline, all as codegen'd expressions."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    stop = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_words = F.size(words).cast("long")
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop, w))).cast("long")
    return d.select(
        "doc_id",
        "n_chars",
        n_words.alias("n_words"),
        F.round(F.length("text").cast("double") / n_words, 4).alias("avg_word_len"),
        n_stop.alias("n_stopwords"),
        F.round(n_stop.cast("double") / n_words, 4).alias("stopword_ratio"),
        F.size(F.array_distinct(words)).cast("long").alias("n_unique_words"),
    )


@query(
    "text_lang_id",
    oracle="""
    SELECT predicted_lang, COUNT(*) AS n,
           COUNT(*) FILTER (WHERE predicted_lang = lang) AS n_match
    FROM (
      SELECT lang,
             CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> LIST_CONTAINS(['the','a','of','and','to'], w))) >= 2
                  THEN 'en' ELSE 'other' END AS predicted_lang
      FROM documents
    )
    GROUP BY predicted_lang
    """,
)
def text_lang_id(spark, sf_dir):
    """Language-ID heuristic (stopword-hit count — the n-gram-heuristic
    family): deterministic expression, scored against the fixture's
    lang column."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    stop = F.array(*[F.lit(w) for w in _STOPWORDS])
    pred = F.when(
        F.size(F.filter(words, lambda w: F.array_contains(stop, w))) >= 2, "en"
    ).otherwise("other")
    return (
        d.select("lang", pred.alias("predicted_lang"))
        .groupBy("predicted_lang")
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.col("predicted_lang") == F.col("lang")).alias("n_match"),
        )
    )


@query(
    "text_token_count",
    oracle="""
    SELECT source,
           CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS whitespace_tokens,
           CAST(SUM(LEN(REGEXP_SPLIT_TO_ARRAY(text, '[^a-zA-Z0-9]+'))) AS BIGINT) AS bpe_ish_tokens,
           CAST(SUM(CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT)) AS BIGINT) AS char4_token_estimate
    FROM documents
    GROUP BY source
    """,
)
def text_token_count(spark, sf_dir):
    """Token counting three ways (whitespace, alnum-run "BPE-ish"
    regex, chars/4 estimate) aggregated per source — the budget
    accounting every training-data pipeline runs."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("whitespace_tokens"),
        F.sum(F.size(F.split("text", "[^a-zA-Z0-9]+"))).cast("long").alias("bpe_ish_tokens"),
        F.sum(F.ceil(F.length("text") / 4.0).cast("long")).cast("long").alias("char4_token_estimate"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' ')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprinting: canonical bag-of-words digest (sorted
    distinct words → md5). Word-order-insensitive, so shuffled near-dups
    collide — complementary to exact dedup."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.array_join(F.sort_array(F.array_distinct(F.split("text", " "))), " ")).alias(
            "fingerprint"
        ),
    )


@query(
    "text_tfidf_topk",
    oracle="""
    WITH terms AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms
      WHERE LENGTH(term) > 0 GROUP BY 1, 2
    ), docfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / docfreq.df), 4) AS score
      FROM tf JOIN docfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, score FROM (
      SELECT scored.*, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term) AS rn
      FROM scored
    ) ranked WHERE rn <= 3
    """,
)
def text_tfidf_topk(spark, sf_dir):
    """Corpus TF-IDF, top-3 terms per document. Shape at scale: the
    doc-frequency relation is vocabulary-sized (small), so it
    broadcasts; the per-(doc,term) tf relation never re-shuffles after
    its first groupBy. Scores are ranked on ROUND(·,4) with a term
    tie-break so both engines order identically (ln() can differ in the
    last ulp between libm and the JVM)."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    n_docs = d.count()  # one scalar, driver-side (bounded)
    terms = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.length("term") > 0)
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(docfreq), "term").select(
        "doc_id",
        "term",
        "tf",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "score")
    )


# Round-half-up of the decimal-summed log-prob mean, entirely in
# integer arithmetic ((2N + n) // 2n, then one exact /10^4) — shared
# VERBATIM by the text_lm_score and corpus_curation_pipeline oracles,
# which must stay bit-identical (see text_lm_score's docstring for why
# a double-typed ROUND(sum/n) diverges between engines).
LM_MEAN_SQL = (
    "((2 * CAST(SUM(CAST(lp AS DECIMAL(20,4))) * -10000 AS BIGINT)"
    " + COUNT(*)) // (2 * COUNT(*))) / 10000.0"
)


@query(
    "text_lm_score",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      ) x WHERE LENGTH(term) > 0
    ), unigram AS (
      SELECT term, COUNT(*) AS cnt FROM terms GROUP BY 1
    ), tot AS (SELECT COUNT(*) AS n FROM terms),
    scored AS (
      SELECT t.doc_id,
             ROUND(LN(CAST(u.cnt AS DOUBLE) / tot.n), 4) AS lp
      FROM terms t JOIN unigram u USING (term) CROSS JOIN tot
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           {LM_MEAN_SQL}
             AS cross_entropy
    FROM scored GROUP BY doc_id
    """,
)
def text_lm_score(spark, sf_dir):
    """Unigram language-model quality score: per-document cross-entropy
    under the corpus's own unigram distribution (the classic cheap
    perplexity filter — documents full of corpus-rare tokens score
    high, boilerplate scores low).

    Shape at scale: the unigram table is vocabulary-sized, so it
    broadcasts; the token relation shuffles once for the count and once
    for the per-doc mean. The corpus token total is folded INTO the
    plan (an unpartitioned window sum over the vocabulary-sized unigram
    aggregate — bounded, and it keeps the whole query lazy; ADVICE r4
    flagged the old eager terms.count() as a repeated full-scan driver
    action). Per-token log-probs are rounded to 4 places and
    decimal-summed so the distributed mean is order-independent; the
    FINAL per-document mean is computed and rounded entirely in
    integer arithmetic (round-half-up of N/n as (2N + n) div 2n, then
    one exact /10^4) — a double-typed ROUND(sum/n) was observed to
    flip the 4th decimal on 9/5000 documents at sf0.1 because Spark
    (BigDecimal half-up) and DuckDB (scaled-multiply) round the same
    double differently at half boundaries."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.length("term") > 0)
    # total tokens = sum of unigram counts: computed over the bounded
    # vocab aggregate, never a second scan of the token relation
    unigram = (
        terms.groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .withColumn("_tot", F.sum("cnt").over(Window.partitionBy()))
    )
    scored = terms.join(F.broadcast(unigram), "term").select(
        "doc_id",
        F.round(
            F.log(F.col("cnt").cast("double") / F.col("_tot").cast("double")), 4
        ).alias("lp"),
    )
    n_scaled = (F.sum(F.col("lp").cast("decimal(20,4)")) * -10000).cast("long")
    cnt = F.count("*")
    return scored.groupBy("doc_id").agg(
        cnt.alias("n_tokens"),
        (
            F.floor((2 * n_scaled + cnt) / (2 * cnt)).cast("long") / F.lit(10000.0)
        ).alias("cross_entropy"),
    )


# -- BM25 ranked retrieval ----------------------------------------------
# Okapi BM25 (Robertson & Zaragoza 2009) keyword search over the
# corpus: the retrieval twin of text_tfidf_topk's per-doc term
# weighting. Fixed small query set; k1/b at the textbook defaults.
_BM25_QUERIES = [
    (0, "data"), (0, "merge"),
    (1, "spark"), (1, "window"),
    (2, "customer"), (2, "slow"),
]
_BM25_TOPK = 10
# the shared scoring expression — kept textually identical between the
# Spark plan (F.expr) and the DuckDB oracle so both engines evaluate
# the same IEEE operation sequence; per-(doc, term) components are
# rounded to 4 places and decimal-summed so the per-doc score is
# order-independent (the text_lm_score discipline)
_BM25_COMP_SQL = (
    "ROUND(LN(1 + (n_docs - df + 0.5) / (df + 0.5))"
    " * ((tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4)"
)


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      ) x WHERE LENGTH(term) > 0
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY 1),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    q AS (
      SELECT CAST(qid AS BIGINT) AS qid, term
      FROM (VALUES {", ".join(f"({qid}, '{term}')" for qid, term in _BM25_QUERIES)})
        v(qid, term)
    ),
    comp AS (
      SELECT q.qid, tf.doc_id,
             {_BM25_COMP_SQL} AS comp
      FROM tf
      JOIN q USING (term)
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    ),
    scored AS (
      SELECT qid, doc_id, SUM(CAST(comp AS DECIMAL(20,4))) AS score_dec
      FROM comp GROUP BY 1, 2
    )
    SELECT qid, doc_id, CAST(score_dec AS DOUBLE) AS score
    FROM (SELECT qid, doc_id, score_dec,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY score_dec DESC, doc_id) AS rn
          FROM scored)
    WHERE rn <= {_BM25_TOPK}
    """,
)
def text_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-10 (= _BM25_TOPK) retrieval for a fixed query set
    (k1=1.2, b=0.75): score = sum over matched query terms of
    idf(term) * tf-saturation(term, doc), idf = ln(1 + (N - df + .5)
    / (df + .5)).

    Determinism: the per-(doc, term) component is one shared SQL
    expression string evaluated by BOTH engines (same IEEE operation
    sequence; ln() last-ulp skew absorbed by ROUND(·, 4) — the
    text_tfidf_topk convention), and the per-doc score sums the
    rounded components in DECIMAL, so it is order-independent; the
    top-k ranks on the exact decimal with a doc_id tie-break.

    Shape at scale: the query set and the vocabulary-sized df
    relation broadcast; corpus stats fold into ONE row (no driver
    count); the tf relation is pre-shrunk by the query-term semi-join
    before it ever joins the per-doc lengths. One shuffle for tf, one
    for dl, one for the per-(qid, doc) sum."""
    d = t(spark, sf_dir, "documents")
    qterms = spark.createDataFrame(_BM25_QUERIES, "qid long, term string")
    return bm25_topk(d, qterms)


def bm25_topk(docs, qterms, topk: int = _BM25_TOPK):
    """BM25 top-k over arbitrary (doc_id, text) docs and (qid, term)
    queries — the query body of text_bm25_topk (see its docstring for
    the determinism and scale design). The query relation is
    deduplicated defensively: a repeated (qid, term) row would
    silently double that term's contribution to the score."""
    from pyspark.sql import Window

    qterms = qterms.distinct()
    terms = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.length("term") > 0)
    dl = terms.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # df only for the QUERY terms: semi-joining the broadcast query set
    # first keeps the broadcast relation query-sized — broadcasting the
    # full vocabulary df would collect a corpus-vocabulary relation to
    # the driver at scale (review finding, round 12)
    dfreq = (
        tf.join(F.broadcast(qterms.select("term").distinct()), "term", "left_semi")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    comp = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("qid", "doc_id", F.expr(_BM25_COMP_SQL).alias("comp"))
    )
    scored = comp.groupBy("qid", "doc_id").agg(
        F.sum(F.col("comp").cast("decimal(20,4)")).alias("score_dec")
    )
    w = Window.partitionBy("qid").orderBy(F.col("score_dec").desc(), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select("qid", "doc_id", F.col("score_dec").cast("double").alias("score"))
    )


# -- model-based quality filtering (hashing-trick linear classifier) ----
# The fastText/CCNet-style quality filter: featurize each document as
# hashed unigram counts (the hashing trick — no vocabulary table at
# 100 TB, just h % B), dot against a weight vector stored AS DATA
# (bucket, wnum), keep docs scoring above the threshold. Inference
# only: weights arrive from an offline trainer. Everything is integer
# arithmetic until one final division, so the scores — not just the
# verdicts — are bit-identical across engines with NO rounding tricks.
_CLF_BUCKETS = 4096
_CLF_WSCALE = 1000  # weights are integers in [-1000, 1000], i.e. w*1000


def hashed_features(docs):
    """(doc_id, text) -> (doc_id, bucket, tf): hashed-unigram counts,
    bucket = portable-60-bit-hash(term) % 4096 (= _CLF_BUCKETS). One explode +
    one map-side-combined groupBy; the feature space is fixed-width by
    construction, which is the hashing trick's 100 TB point."""
    from presto_on_ray_spark.operators.sketch_ops import _portable_h60

    terms = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.length("term") > 0)
    return terms.groupBy(
        "doc_id", (_portable_h60(F.col("term")) % _CLF_BUCKETS).alias("bucket")
    ).agg(F.count("*").alias("tf"))


def classifier_score(docs, weights):
    """Score (doc_id, text) docs against a linear model stored as a
    (bucket, wnum) relation with integer weights scaled by
    1000 (= _CLF_WSCALE): logit = sum(tf * wnum) / (1000 (= _CLF_WSCALE) * n_tokens)
    (length-normalized dot product), keep = unnormalized sum >= 0
    (an EXACT integer comparison — the verdict can never flip on
    floating-point noise). Returns (doc_id, n_tokens, logit, keep).
    ``weights`` must cover every bucket in [0, 4096 (= _CLF_BUCKETS)) —
    hashing-trick models are dense over the bucket range by
    construction (zero-weight buckets carry wnum=0 rows).

    Shape at scale: the weight table is 4096 (= _CLF_BUCKETS) rows —
    broadcast; features never re-shuffle after their first groupBy;
    the per-doc sum is one more map-combined aggregate. Docs with no
    tokens have no features and are absent (nothing to score)."""
    feats = hashed_features(docs)
    # n_tokens = sum(tf) over the feature relation — the token explode
    # runs once; no second corpus scan for lengths. A bucket missing
    # from the weight table would silently drop its tf from BOTH the
    # dot product and the length, so require total weight coverage.
    z = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("wnum")).alias("zint"),
            F.sum("tf").alias("dl"),
        )
    )
    return z.select(
        "doc_id",
        F.col("dl").alias("n_tokens"),
        F.expr(f"CAST(zint AS DOUBLE) / ({_CLF_WSCALE}.0 * dl)").alias("logit"),
        (F.col("zint") >= 0).alias("keep"),
    )


def demo_weights(spark):
    """The suite key's stand-in model: one deterministic integer
    weight per bucket, derived from the portable hash of the bucket
    id — pseudo-random, reproducible in SQL, zero training. A real
    deployment loads trained weights from a table; the inference
    plumbing (broadcast join, integer dot, exact verdict) is
    identical."""
    from presto_on_ray_spark.operators.sketch_ops import _portable_h60

    return spark.range(_CLF_BUCKETS).select(
        F.col("id").alias("bucket"),
        (
            _portable_h60(F.lit("w"), F.col("id")) % (2 * _CLF_WSCALE + 1)
            - _CLF_WSCALE
        ).alias("wnum"),
    )


def _classifier_oracle() -> str:
    from presto_on_ray_spark.operators.sketch_ops import _h60_sql

    return f"""
    WITH terms AS (
      SELECT doc_id, term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      ) x WHERE LENGTH(term) > 0
    ),
    feats AS (
      SELECT doc_id, {_h60_sql('term')} % {_CLF_BUCKETS} AS bucket,
             COUNT(*) AS tf
      FROM terms GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY 1),
    w AS (
      SELECT b AS bucket,
             ({_h60_sql("concat_ws('|', 'w', b)")} % {2 * _CLF_WSCALE + 1})
               - {_CLF_WSCALE} AS wnum
      FROM (SELECT UNNEST(RANGE(0, {_CLF_BUCKETS})) AS b)
    ),
    z AS (
      SELECT f.doc_id, SUM(f.tf * w.wnum) AS zint
      FROM feats f JOIN w USING (bucket) GROUP BY 1
    )
    SELECT z.doc_id, dl.dl AS n_tokens,
           CAST(zint AS DOUBLE) / ({_CLF_WSCALE}.0 * dl.dl) AS logit,
           zint >= 0 AS keep
    FROM z JOIN dl USING (doc_id)
    """


# -- classifier TRAINING: distill a heuristic into the hashed model ----
# The missing half of the quality-filter story (inference-only since
# round 12): train the 4096-bucket linear model IN the engine with a
# POCKET batch perceptron (Gallant 1990) over hashed features plus one
# bias feature, weak-supervised by an existing heuristic rule (here
# the lang-id stopword test — the standard bootstrap: distill a cheap
# rule into a deployable model, then iterate on labels). Pocket =
# train E epochs, return the epoch whose weights make the FEWEST
# training mistakes (earliest-epoch ties): the batch update is known
# to oscillate (measured here: the plain chain sat at 0.776 agreement
# for six epochs, touched 0.918, then collapsed to 0.504), and the
# pocket selection turns that into a monotone best-so-far. The bias
# feature is what lets the model represent the rule's threshold
# ("± offset" is not expressible through the origin).
#
# Everything is int64 arithmetic — weights, gradients, dots, error
# counts — so training is bit-reproducible across engines and
# partitionings (integer sums commute), a chained-CTE oracle replays
# every epoch exactly, and a NumPy twin pins the algorithm. Scale
# shape (r15): the feature relation is persisted hash-partitioned and
# sorted by doc_id, so each epoch is one broadcast of the fixed-width
# weight relation + ONE exchange-free windowed pass over the cache
# (per-doc dot + mistake filter) feeding the tiny per-bucket gradient
# aggregate — the only shuffle left per epoch moves <= 4097 rows per
# partition.

_TRAIN_EPOCHS = 8
_CLF_BIAS = _CLF_BUCKETS  # the reserved bias bucket id (4096)


def langid_labels(docs):
    """Weak-supervision labels (doc_id, y): y = +1 iff the lang-id
    stopword heuristic fires (>= 2 stopword tokens — exactly
    text_lang_id's predicate), else -1."""
    words = F.split("text", " ")
    stop = F.array(*[F.lit(w) for w in _STOPWORDS])
    y = (
        F.when(
            F.size(F.filter(words, lambda w: F.array_contains(stop, w))) >= 2,
            1,
        )
        .otherwise(-1)
        .cast("long")
    )
    return docs.select("doc_id", y.alias("y"))


def biased_features(docs):
    """hashed_features plus one bias row (bucket 4096 (= _CLF_BIAS),
    tf=1) per featured doc — the constant feature that lets a linear
    model through the origin carry a threshold.

    The bias rows come from the doc relation with the featured-doc
    predicate applied directly (EXISTS one term of length > 0 — exactly
    the rows hashed_features' explode+filter+groupBy emits a doc for):
    deriving them from the feature relation itself, as before r15,
    made Catalyst expand the self-reference into a SECOND full
    explode + per-term hash + aggregate subtree under the union — a
    whole corpus pass computing md5s only to be projected away (guide
    §2.3 'don't compute what you throw away'; plan diff in plans/r15/
    text_classifier_distilled_*.txt: the union's second branch lost
    its Exchange + Generate). Callers pass unique-doc_id relations
    (the corpus or a split of it), which is what keeps the two
    derivations row-for-row equal."""
    feats = hashed_features(docs)
    has_term = F.exists(
        F.split("text", " "), lambda w: F.length(w) > 0
    )
    bias = docs.filter(has_term).select(
        "doc_id", F.lit(_CLF_BIAS).cast("long").alias("bucket"),
        F.lit(1).cast("long").alias("tf"),
    )
    return feats.select(
        "doc_id", F.col("bucket").cast("long").alias("bucket"), "tf"
    ).unionByName(bias)


def classifier_score_biased(docs, weights):
    """classifier_score for a bias-trained model: the dot runs over
    biased_features (so the bias weight participates), while n_tokens
    and the length-normalized logit divide by the REAL token count
    (the bias row's tf is excluded from dl). Same exact-integer keep
    verdict."""
    return _score_biased_feats(biased_features(docs), weights)


def _score_biased_feats(feats, weights):
    """classifier_score_biased over a PREBUILT biased-feature relation
    (doc_id, bucket, tf) — the reuse seam (r16, VERDICT r15 #6): the
    holdout keys score the corpus right after training on a split of
    it, and the split's features already sit in the trainer's persisted
    _train_features cache; unioning that cache with freshly featurized
    held-out docs skips re-exploding/re-hashing the training split
    (~80-90% of the corpus). Row order and union branch boundaries are
    irrelevant: the per-doc groupBy sums integers."""
    z = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("wnum")).alias("zint"),
            F.sum(
                F.when(F.col("bucket") != _CLF_BIAS, F.col("tf")).otherwise(0)
            ).alias("dl"),
        )
    )
    return z.select(
        "doc_id",
        F.col("dl").alias("n_tokens"),
        F.expr(f"CAST(zint AS DOUBLE) / ({_CLF_WSCALE}.0 * dl)").alias("logit"),
        (F.col("zint") >= 0).alias("keep"),
    )


def _train_features(docs, labels):
    """The per-epoch scan relation: biased features joined with labels,
    hash-partitioned AND sorted by doc_id before the persist so every
    epoch's per-doc dot (a doc_id-partitioned window) runs with ZERO
    exchanges and zero sorts against the cache — the partitioning and
    ordering survive InMemoryTableScan and the broadcast weight join
    (which preserves the streamed side's distribution). One exchange is
    paid once at materialization instead of two per epoch (r15
    optimization; guide §2.4 'two operations keyed the same way share
    one exchange')."""
    return (
        biased_features(docs)
        .join(labels, "doc_id")
        .repartition("doc_id")
        .sortWithinPartitions("doc_id")
    )


def classifier_train(docs, labels, epochs: int = _TRAIN_EPOCHS,
                     pocket_docs=None, trace: list | None = None,
                     fl=None, vfl=None):
    """Pocket batch integer perceptron over hashed+bias features:
    start from zero weights; per epoch add to each bucket the sum of
    y*tf over the docs the CURRENT weights misclassify (y*zint <= 0 —
    zero counts as a mistake, so epoch 1 trains on every featured
    doc); return the epoch whose weights make the fewest training
    mistakes (earliest epoch on ties) as a DENSE (bucket, wnum)
    relation over [0, 4097) — buckets 0..4095 plus the bias row.

    ``pocket_docs`` (r14, VERDICT r13 #7): when given, the pocket
    epoch is selected by the error on THIS doc relation (a held-out
    validation split) instead of the training mistakes — the
    train-mistake pocket overfits by construction (it is the quantity
    the updates minimize), while a val pocket picks the epoch that
    generalizes. Costs one extra bounded job per epoch (score the val
    features under the current broadcast weights); the gradient path
    and the early train-separation break are unchanged (once training
    error hits 0 the weights stop moving, so later val errors tie and
    the earliest epoch wins regardless of pocket source).

    Orchestration: the MODEL is driver data (4097 int64s — the Lloyd-
    centroid/kcenter pattern: fixed-width by the hashing trick, so the
    per-epoch gradient collect is bounded by construction), while
    every corpus-sized relation stays distributed — each epoch is ONE
    job over the persisted feature relation: broadcast-literal dot →
    per-doc verdict → mistake filter → per-bucket gradient, with the
    epoch's ERROR COUNT read off the gradient relation itself (every
    mistaken doc carries exactly one bias row with tf=1, so the bias
    bucket's contributing-row count IS the mistake count — no second
    scoring job). A fully relational epoch chain was measured and
    rejected: each epoch's logical tree embeds its predecessor's TWICE
    (scoring + update), so analysis cost grows 2^epochs — the same
    lineage cliff the kcenter loop hit, here fatal well before
    execution.

    ``trace`` (r15, VERDICT r14 #1a): when a list is passed, one dict
    per epoch is appended — {e, err, wsum, wdot} where err is the
    pocket metric the epoch was judged on and wsum/wdot are exact
    integer checksums of the weights the epoch SCORED with
    (sum(w) and sum(w[b]*(b+1))). After an early separation break the
    remaining epochs are padded analytically (the gradient is empty so
    the weights — and both checksums — are constant, and any pocket
    metric ties), so the trace always has ``epochs`` rows and replays
    the oracle's full w{e}/err{e} CTE chain without extra jobs. A
    driver mismatch on the trace key then localizes to an epoch
    instead of a 4097-row weight blob.

    ``fl`` (r15): the persisted _train_features(docs, labels) relation,
    when the caller already holds it — the distilled/published keys
    audit over the same docs they train on, so passing fl here lets the
    audit reuse the one cached feature build instead of re-featurizing
    the corpus. Default None builds (and tracks) it internally.

    ``vfl`` (r16): the persisted _train_features(pocket_docs, labels)
    relation, when the caller already holds it — the val-pocket holdout
    key scores the val split again after training, so passing vfl lets
    it reuse this cache there too. Only consulted when ``pocket_docs``
    is given; default None builds it internally."""
    from pyspark.sql import Window

    from presto_on_ray_spark.caching import tracked_persist

    spark = docs.sparkSession
    if fl is None:
        fl = tracked_persist(_train_features(docs, labels))
    if pocket_docs is None:
        vfl = None
    elif vfl is None:
        vfl = tracked_persist(_train_features(pocket_docs, labels))
    # epoch 1: w0 = 0 → every featured doc is a mistake, so the first
    # gradient needs no scoring pass. Bounded collect: <= 4097 rows
    # (the fixed-width model), like refine_cells' centroid collects.
    w = [0] * (_CLF_BUCKETS + 1)
    for r in (
        fl.groupBy("bucket")
        .agg(F.sum(F.col("y") * F.col("tf")).alias("g"))
        .collect()
    ):
        w[int(r["bucket"])] = int(r["g"])
    best_err, best_w = None, None
    # the per-doc dot as a doc_id-partitioned window over fl's cache
    # partitioning (r15): zero exchanges and zero sorts up to the
    # mistake filter — y and zint are constant across a doc's rows, so
    # filtering the SCORED ROWS directly replaces the old
    # groupBy(doc_id) + semi-join-back (two extra exchanges per epoch);
    # the integer sums are order-independent, so the relation is
    # unchanged. The only shuffle left per epoch is the tiny per-bucket
    # gradient aggregate (<= 4097 rows per partition after partial
    # aggregation).
    zin = F.sum(F.col("tf") * F.col("wnum")).over(Window.partitionBy("doc_id"))
    for epoch in range(1, epochs + 1):
        wdf = F.broadcast(
            spark.createDataFrame(
                list(enumerate(w)), "bucket long, wnum long"
            )
        )
        # one job: mistakes' per-bucket gradient + per-bucket row count
        # (bounded collect, <= 4097 rows); err = the bias bucket's row
        # count, since every mistaken doc has exactly one bias row
        g = (
            fl.join(wdf, "bucket")
            .withColumn("zint", zin)
            .filter(F.col("y") * F.col("zint") <= 0)
            .groupBy("bucket")
            .agg(
                F.sum(F.col("y") * F.col("tf")).alias("g"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        train_err = next((int(r["n"]) for r in g if r["bucket"] == _CLF_BIAS), 0)
        if vfl is None:
            err = train_err
        else:
            # pocket on the held-out split: one scalar count per epoch —
            # the same windowed dot; every featured doc carries exactly
            # one bias row, so counting mistaken BIAS ROWS counts
            # mistaken docs without a per-doc aggregate
            err = (
                vfl.join(wdf, "bucket")
                .withColumn("zint", zin)
                .filter(
                    (F.col("bucket") == _CLF_BIAS)
                    & (F.col("y") * F.col("zint") <= 0)
                )
                .count()
            )
        if trace is not None:
            trace.append({
                "e": epoch, "err": int(err),
                "wsum": sum(w),
                "wdot": sum(wv * (b + 1) for b, wv in enumerate(w)),
            })
        if best_err is None or err < best_err:
            best_err, best_w = err, list(w)
        if train_err == 0:
            # perfect separation: the weights stop moving, so later
            # epochs tie on any pocket metric and lose to this one;
            # pad the trace analytically (constant weights, tied err)
            if trace is not None:
                for e2 in range(epoch + 1, epochs + 1):
                    trace.append({**trace[-1], "e": e2})
            break
        for r in g:
            w[int(r["bucket"])] += int(r["g"])
    return spark.createDataFrame(
        list(enumerate(best_w)), "bucket long, wnum long"
    )


def _train_ctes(
    epochs: int, docs_src: str = "documents", pocket_src: str | None = None
) -> str:
    """The chained-CTE replay of classifier_train: feats (with bias
    rows) over ``docs_src`` (the TRAINING doc relation — "documents"
    for the whole-corpus keys, a split CTE for the holdout key),
    labels over the full documents table (the inner feats⋈lab join
    restricts training to docs_src exactly like the Spark side), then
    per epoch a (w, s, err) triple and the final pocket selection —
    wbest is the returned relation.

    ``pocket_src`` (r14): a doc relation to select the pocket epoch on
    (classifier_train's pocket_docs — the validation split). When set,
    per-epoch verr CTEs score the pocket relation under that epoch's
    weights and best orders by the VAL error; the train err CTEs are
    not emitted (nothing references them)."""
    from presto_on_ray_spark.operators.sketch_ops import _h60_sql

    stoplist = "[" + ",".join(f"'{w}'" for w in _STOPWORDS) + "]"
    parts = [
        f"""terms AS MATERIALIZED (
      SELECT doc_id, term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {docs_src}
      ) x WHERE LENGTH(term) > 0
    ),
    hfeats AS MATERIALIZED (
      SELECT doc_id, {_h60_sql('term')} % {_CLF_BUCKETS} AS bucket,
             COUNT(*) AS tf
      FROM terms GROUP BY 1, 2
    ),
    feats AS MATERIALIZED (
      SELECT doc_id, bucket, tf FROM hfeats
      UNION ALL
      SELECT DISTINCT doc_id, {_CLF_BIAS} AS bucket, 1 AS tf FROM hfeats
    ),
    lab AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                          w -> LIST_CONTAINS({stoplist}, w))) >= 2
                  THEN 1 ELSE -1 END AS y
      FROM documents
    ),
    fl AS MATERIALIZED (SELECT f.doc_id, f.bucket, f.tf, l.y
           FROM feats f JOIN lab l USING (doc_id)),
    allb AS MATERIALIZED (SELECT UNNEST(RANGE(0, {_CLF_BUCKETS + 1})) AS bucket),
    g1 AS MATERIALIZED (SELECT bucket, SUM(y * tf) AS g FROM fl GROUP BY 1),
    w1 AS MATERIALIZED (SELECT allb.bucket, COALESCE(g1.g, 0) AS wnum
           FROM allb LEFT JOIN g1 USING (bucket))"""
    ]
    if pocket_src is not None:
        parts.append(
            f"""vterms AS MATERIALIZED (
      SELECT doc_id, term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {pocket_src}
      ) x WHERE LENGTH(term) > 0
    ),
    vhfeats AS MATERIALIZED (
      SELECT doc_id, {_h60_sql('term')} % {_CLF_BUCKETS} AS bucket,
             COUNT(*) AS tf
      FROM vterms GROUP BY 1, 2
    ),
    vfeats AS MATERIALIZED (
      SELECT doc_id, bucket, tf FROM vhfeats
      UNION ALL
      SELECT DISTINCT doc_id, {_CLF_BIAS} AS bucket, 1 AS tf FROM vhfeats
    ),
    vfl AS MATERIALIZED (SELECT f.doc_id, f.bucket, f.tf, l.y
           FROM vfeats f JOIN lab l USING (doc_id))"""
        )
    err_src = "vfl" if pocket_src is not None else None
    for e in range(1, epochs + 1):
        parts.append(
            f"""s{e} AS MATERIALIZED (
      SELECT fl.doc_id, MIN(fl.y) AS y, SUM(fl.tf * w{e}.wnum) AS zint
      FROM fl JOIN w{e} USING (bucket) GROUP BY 1
    )"""
        )
        if err_src is None:
            parts.append(
                f"""err{e} AS MATERIALIZED (SELECT {e} AS e, COUNT(*) FILTER (WHERE y * zint <= 0) AS err
               FROM s{e})"""
            )
        else:
            parts.append(
                f"""err{e} AS MATERIALIZED (
      SELECT {e} AS e, COUNT(*) FILTER (WHERE y * zint <= 0) AS err
      FROM (SELECT {err_src}.doc_id, MIN({err_src}.y) AS y,
                   SUM({err_src}.tf * w{e}.wnum) AS zint
            FROM {err_src} JOIN w{e} USING (bucket) GROUP BY 1))"""
            )
        if e < epochs:
            parts.append(
                f"""g{e + 1} AS MATERIALIZED (
      SELECT fl.bucket, SUM(fl.y * fl.tf) AS g
      FROM fl JOIN s{e} USING (doc_id)
      WHERE s{e}.y * s{e}.zint <= 0
      GROUP BY 1
    ),
    w{e + 1} AS MATERIALIZED (
      SELECT w{e}.bucket, w{e}.wnum + COALESCE(g{e + 1}.g, 0) AS wnum
      FROM w{e} LEFT JOIN g{e + 1} USING (bucket)
    )"""
            )
    union_err = " UNION ALL ".join(
        f"SELECT * FROM err{e}" for e in range(1, epochs + 1)
    )
    union_w = " UNION ALL ".join(
        f"SELECT {e} AS e, bucket, wnum FROM w{e}" for e in range(1, epochs + 1)
    )
    parts.append(
        f"""best AS MATERIALIZED (
      SELECT e FROM ({union_err}) ORDER BY err, e LIMIT 1
    ),
    wbest AS MATERIALIZED (
      SELECT wt.bucket, wt.wnum FROM ({union_w}) wt JOIN best USING (e)
    )"""
    )
    return ",\n    ".join(parts)


@query(
    "text_classifier_train",
    oracle=f"""
    WITH {_train_ctes(_TRAIN_EPOCHS)}
    SELECT bucket, CAST(wnum AS BIGINT) AS wnum FROM wbest
    """,
)
def text_classifier_train(spark, sf_dir):
    """Train the hashed quality classifier IN the engine: 8 epochs of
    the pocket batch integer perceptron (hashed + bias features),
    weak-supervised by the lang-id stopword rule, returning the
    best-epoch dense 4097-row (bucket, wnum) weight relation —
    int64-exact, so the chained-CTE oracle replays every epoch and the
    pocket selection bit-for-bit (the NumPy twin in
    tests/test_classifier_train.py pins the algorithm a third way).

    The r14 driver hash mismatch root cause: DuckDB's SUM(BIGINT)
    returns HUGEINT, which propagates through the epoch w-CTEs into
    wbest.wnum and converts to float64 in fetchdf() — value-equal but
    type-skewed vs Spark's int64, so a type-sensitive value hash
    diverges while the type-forgiving local compare (123 == 123.0)
    passes. Fixed by CAST(wnum AS BIGINT) in the final projection;
    tests/test_oracle_dtype_parity.py now audits every oracle's
    fetchdf dtypes against the Spark schema so this class cannot
    recur silently."""
    d = t(spark, sf_dir, "documents")
    return classifier_train(d, langid_labels(d))


def _trace_oracle(epochs: int) -> str:
    """Per-epoch replay of the training loop: for every epoch e, the
    pocket metric err{e} plus two exact integer checksums of w{e}
    (sum(wnum), sum(wnum*(bucket+1))) and whether e is the pocket
    winner. Every column CAST to BIGINT/BOOLEAN so DuckDB's HUGEINT
    sums can't skew the fetchdf dtypes (the r14 lesson)."""
    rows = " UNION ALL ".join(
        f"""SELECT {e} AS e, (SELECT err FROM err{e}) AS err,
            (SELECT SUM(wnum) FROM w{e}) AS wsum,
            (SELECT SUM(wnum * (bucket + 1)) FROM w{e}) AS wdot"""
        for e in range(1, epochs + 1)
    )
    return f"""
    WITH {_train_ctes(epochs)},
    tr AS ({rows})
    SELECT CAST(t.e AS BIGINT) AS e, CAST(t.err AS BIGINT) AS err,
           CAST(t.wsum AS BIGINT) AS wsum, CAST(t.wdot AS BIGINT) AS wdot,
           t.e = (SELECT e FROM best) AS best
    FROM tr t
    """


@query("text_classifier_train_trace", oracle=_trace_oracle(_TRAIN_EPOCHS))
def text_classifier_train_trace(spark, sf_dir):
    """Epoch-level debug surface for the in-engine trainer (VERDICT
    r14 #1a): one row per epoch — (e, err, wsum, wdot, best) where err
    is the pocket metric, wsum/wdot are exact integer checksums of the
    epoch's scoring weights, and best marks the pocket winner. The
    rows come out of the SAME classifier_train loop the production
    keys run (via the trace hook), so a driver-side divergence on any
    classifier key localizes here to the first bad epoch."""
    d = t(spark, sf_dir, "documents")
    tr: list = []
    classifier_train(d, langid_labels(d), trace=tr)
    best_e = min(tr, key=lambda r: (r["err"], r["e"]))["e"]
    return spark.createDataFrame(
        [(r["e"], r["err"], r["wsum"], r["wdot"], r["e"] == best_e)
         for r in tr],
        "e long, err long, wsum long, wdot long, best boolean",
    )


# shared by the distilled key and the published-store key (r14): the
# published store is FRESH when the key runs, so scoring through it
# equals scoring the in-session weights relation — one oracle pins both
# (the corpus_health_report_saved precedent).
_DISTILLED_ORACLE = f"""
    WITH {_train_ctes(_TRAIN_EPOCHS)},
    zf AS (
      SELECT f.doc_id, SUM(f.tf * w.wnum) AS zint,
             SUM(CASE WHEN f.bucket <> {_CLF_BIAS} THEN f.tf ELSE 0 END) AS dl
      FROM feats f JOIN wbest w USING (bucket) GROUP BY 1
    )
    SELECT z.doc_id, l.y AS label,
           CAST(z.zint AS DOUBLE) / ({_CLF_WSCALE}.0 * z.dl) AS logit,
           z.zint >= 0 AS keep,
           (z.zint >= 0) = (l.y = 1) AS agree
    FROM zf z JOIN lab l USING (doc_id)
    """


def _distill_audit(d, lab, weights):
    """The distillation-audit relation (doc_id, label, logit, keep,
    agree) for a trained weight relation — shared by the in-session
    and published-store keys."""
    s = classifier_score_biased(d, weights)
    return s.join(lab, "doc_id").select(
        "doc_id",
        F.col("y").alias("label"),
        "logit",
        "keep",
        (F.col("keep") == (F.col("y") == 1)).alias("agree"),
    )


def _distill_audit_fl(fl, weights):
    """_distill_audit computed from the trainer's persisted
    _train_features relation instead of re-featurizing the corpus
    (r15): the distilled/published keys train and audit over the SAME
    docs, so the audit is one broadcast weight join + one per-doc
    aggregate over the cache — the second explode/hash/aggregate pass
    (and its label re-join) disappears. Same relation: fl carries
    exactly the biased feature rows with each doc's label, and the
    integer dot/verdict arithmetic is unchanged."""
    z = (
        fl.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.min("y").alias("y"),
            F.sum(F.col("tf") * F.col("wnum")).alias("zint"),
            F.sum(
                F.when(F.col("bucket") != _CLF_BIAS, F.col("tf")).otherwise(0)
            ).alias("dl"),
        )
    )
    return z.select(
        "doc_id",
        F.col("y").alias("label"),
        F.expr(f"CAST(zint AS DOUBLE) / ({_CLF_WSCALE}.0 * dl)").alias("logit"),
        (F.col("zint") >= 0).alias("keep"),
        ((F.col("zint") >= 0) == (F.col("y") == 1)).alias("agree"),
    )


@query("text_classifier_distilled", oracle=_DISTILLED_ORACLE)
def text_classifier_distilled(spark, sf_dir):
    """Score the corpus with the ENGINE-TRAINED pocket weights and
    audit the distillation: (doc_id, label, logit, keep, agree) where
    label is the weak-supervision target and agree marks verdict
    equality — the relation a pipeline reviews before swapping the
    heuristic for the model. Inference is classifier_score_biased
    (broadcast weight table, exact integer verdict, bias row joined
    in), so deploying the trained model is the
    text_quality_classifier plan plus one bias feature."""
    from presto_on_ray_spark.caching import tracked_persist

    d = t(spark, sf_dir, "documents")
    lab = langid_labels(d)
    fl = tracked_persist(_train_features(d, lab))
    return _distill_audit_fl(fl, classifier_train(d, lab, fl=fl))


# -- published-weights store (round 14) -----------------------------------
# VERDICT r13 #4 + What's-wrong #5: a deployment reads PUBLISHED
# weights, it does not retrain per query. The store is the shared
# generation-flip protocol (store.publish_generation): train → publish
# flips _CURRENT onto a fresh numbered generation; scorers read the
# live generation (streaming: per trigger, so a mid-stream publish
# changes verdicts exactly at a trigger boundary — pinned in
# tests/test_classifier_store.py) or pin one for reproducibility.
# Model rollback = pointing at the kept predecessor.

_WEIGHTS_REL = "weights"
_WEIGHTS_STORE = "classifier weights store"
# the marker keeps the counts store's name: the weights store was
# first published through the counts code, and a marker stranded by
# that code must still block
_WEIGHTS_WRITING = "_COUNTS_WRITING"
_WEIGHTS_RETAIN = 1  # keep the predecessor: the reader grace window


def _weights_paths(path: str) -> tuple:
    return store_proto.local_paths(
        path, _WEIGHTS_STORE,
        "the generation flip is a filesystem rename; on an object store "
        "keep the weights in a transactional table format",
    )


def save_classifier_weights(weights, path: str, force: bool = False) -> None:
    """Publish a trained (bucket, wnum) relation as a fresh generation
    of the weights store at ``path`` (atomic _CURRENT flip,
    single-writer marker released on every exit, predecessor kept for
    the reader grace window; ``force=True`` takes over a crashed
    writer's marker)."""
    path, os_path = _weights_paths(path)
    with store_proto.WriterMarker(
        os_path, _WEIGHTS_WRITING, _WEIGHTS_STORE,
        "If none is live, retry with force=True (the takeover is safe: "
        "the pointer only ever references complete generations).",
        force=force,
    ):
        store_proto.publish_generation(
            os_path,
            lambda gen: weights.write.mode("overwrite").parquet(
                f"{path}/{gen}/{_WEIGHTS_REL}"
            ),
            _WEIGHTS_RETAIN,
        )


def load_classifier_weights(spark, path: str, generation: str | None = None):
    """Read the live generation's weights (or a pinned ``generation``
    directly — the TOCTOU-free read for callers that captured
    weights_live_generation(); the kept predecessor stays readable
    through one concurrent publish)."""
    path, os_path = _weights_paths(path)
    if generation is None:
        generation = store_proto.current_generation(os_path, _WEIGHTS_STORE)
    return spark.read.parquet(f"{path}/{generation}/{_WEIGHTS_REL}")


def weights_live_generation(path: str) -> str:
    """The live generation id of a weights store (the _CURRENT
    pointer's value) — capture it when deriving anything from the
    store; a later save flips it."""
    _, os_path = _weights_paths(path)
    return store_proto.current_generation(os_path, _WEIGHTS_STORE)


@query("text_classifier_published", oracle=_DISTILLED_ORACLE)
def text_classifier_published(spark, sf_dir):
    """The publish→deploy lifecycle end-to-end, hash-verified: train
    the pocket perceptron, PUBLISH the weights as a fresh generation
    of the stable scratch store, then produce the distillation audit
    by scoring THROUGH the published generation (pinned read — never
    the in-session relation). Because the store is fresh, the relation
    equals text_classifier_distilled's, so the same oracle pins the
    whole store round-trip (the corpus_health_report_saved recipe).
    The scratch store is the stable per-(user, corpus) location the
    governance key uses — re-publishes land new generations into the
    same store and the sweep bounds it at ~2 generations."""
    import getpass
    import hashlib
    import os
    import tempfile

    d = t(spark, sf_dir, "documents")
    lab = langid_labels(d)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    store = os.path.join(
        tempfile.gettempdir(),
        f"por_spark_clf_weights_{getpass.getuser()}_{tag}",
    )
    # shared scratch store: two parallel runs' saves landing between
    # this publish and the pinned read can sweep the captured
    # generation — the key only needs A fresh round-trip, so retry
    # the publish+pin once (ADVICE r14)
    from pyspark.errors import AnalysisException

    from presto_on_ray_spark.caching import tracked_persist

    fl = tracked_persist(_train_features(d, lab))
    wtrained = classifier_train(d, lab, fl=fl)
    for attempt in (0, 1):
        save_classifier_weights(wtrained, store, force=True)
        try:
            w = load_classifier_weights(
                spark, store, generation=weights_live_generation(store)
            )
            break
        except (ValueError, AnalysisException):
            # only the documented race shapes: a concurrent save
            # flipping _CURRENT away (ValueError from the pointer
            # read) or sweeping the captured generation's directory
            # (PATH_NOT_FOUND at bind). Anything else propagates.
            if attempt:
                raise
    return _distill_audit_fl(fl, w)


def _holdout_oracle(val_pocket: bool = False) -> str:
    """Held-out evaluation, composed from the suite's own verified
    CTE pieces: the leakage-safe split (recursive CC closure + Knuth
    bucket of the cluster representative), the pocket-perceptron
    training chain RESTRICTED to the train split (docs_src="tdocs"),
    and whole-corpus scoring under the trained weights, aggregated
    per split. ``val_pocket`` (r14) selects the pocket epoch by the
    VAL split's error (pocket_src="vdocs") instead of the training
    mistakes."""
    from presto_on_ray_spark.operators.dedup import _CC_CTE_BODY
    from presto_on_ray_spark.operators.pipeline_prep import _bucket_sql
    from presto_on_ray_spark.operators.sketch_ops import _h60_sql

    b = _bucket_sql("rep_id")
    agree = "(z.zint >= 0) = (lab.y = 1)"
    vdocs = """
    vdocs AS MATERIALIZED (
      SELECT d.* FROM documents d JOIN sp USING (doc_id)
      WHERE sp.split = 'val'
    ),""" if val_pocket else ""
    train = _train_ctes(
        _TRAIN_EPOCHS,
        docs_src="tdocs",
        pocket_src="vdocs" if val_pocket else None,
    )
    return f"""
    WITH RECURSIVE {_CC_CTE_BODY},
    comp AS (SELECT node AS doc_id, MIN(lbl) AS rep_id FROM reach GROUP BY node),
    rep AS (
      SELECT d.doc_id, COALESCE(c.rep_id, d.doc_id) AS rep_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    sp AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN {b} < 80 THEN 'train'
                  WHEN {b} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM rep
    ),
    tdocs AS MATERIALIZED (
      SELECT d.* FROM documents d JOIN sp USING (doc_id)
      WHERE sp.split = 'train'
    ),{vdocs}
    {train},
    aterms AS MATERIALIZED (
      SELECT doc_id, term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      ) x WHERE LENGTH(term) > 0
    ),
    ahfeats AS MATERIALIZED (
      SELECT doc_id, {_h60_sql('term')} % {_CLF_BUCKETS} AS bucket,
             COUNT(*) AS tf
      FROM aterms GROUP BY 1, 2
    ),
    afeats AS MATERIALIZED (
      SELECT doc_id, bucket, tf FROM ahfeats
      UNION ALL
      SELECT DISTINCT doc_id, {_CLF_BIAS} AS bucket, 1 AS tf FROM ahfeats
    ),
    zf AS (
      SELECT f.doc_id, SUM(f.tf * w.wnum) AS zint
      FROM afeats f JOIN wbest w USING (bucket) GROUP BY 1
    )
    SELECT sp.split,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE {agree}) AS n_agree,
           ROUND(CAST(COUNT(*) FILTER (WHERE {agree}) AS DOUBLE)
                 / COUNT(*), 4) AS accuracy
    FROM zf z JOIN lab USING (doc_id) JOIN sp USING (doc_id)
    GROUP BY sp.split
    """


@query("text_classifier_holdout", oracle=_holdout_oracle())
def text_classifier_holdout(spark, sf_dir):
    """HELD-OUT evaluation of the distilled classifier — the actual
    data-centric ML loop, composed from this round's own operators:
    train the pocket perceptron ONLY on split_leakage_safe's train
    split (so evaluation docs are unseen, and near-duplicates of
    training docs can never leak into val/test by the split's
    construction), score the WHOLE corpus under the trained weights,
    and report per-split agreement with the weak labels:
    (split, n_docs, n_agree, accuracy). The gap between the train
    row's accuracy and the val/test rows' is the honest
    generalization readout a pipeline gates deployment on.

    Hash-exact end-to-end: the oracle composes the recursive-CC split
    closure, the MATERIALIZED training chain restricted to the train
    split, and whole-corpus scoring — every piece already verified by
    its own key.

    Scoring reuses the trainer's persisted feature cache for the train
    split and featurizes only the held-out docs (r16, VERDICT r15 #6):
    the splits partition the corpus, featurization is per-row, and the
    per-doc sums are order-independent, so the union equals
    biased_features(documents) row-for-row — pinned by the unchanged
    whole-corpus-scoring oracle and
    tests/test_classifier_train.py::test_holdout_scoring_feature_reuse."""
    from presto_on_ray_spark.caching import tracked_persist
    from presto_on_ray_spark.operators.pipeline_prep import (
        split_leakage_safe,
    )

    d = t(spark, sf_dir, "documents")
    splits = split_leakage_safe(spark, sf_dir).select("doc_id", "split")
    lab = langid_labels(d)
    train_docs = d.join(
        splits.filter(F.col("split") == "train").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    fl = tracked_persist(_train_features(train_docs, lab))
    w = classifier_train(train_docs, lab, fl=fl)
    held_out = d.join(
        splits.filter(F.col("split") != "train").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    s = _score_biased_feats(
        fl.select("doc_id", "bucket", "tf").unionByName(
            biased_features(held_out)
        ),
        w,
    )
    agree = F.col("keep") == (F.col("y") == 1)
    return (
        s.join(lab, "doc_id")
        .join(splits, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_if(agree).alias("n_agree"),
        )
        .select(
            "split",
            "n_docs",
            "n_agree",
            F.round(
                F.col("n_agree").cast("double") / F.col("n_docs"), 4
            ).alias("accuracy"),
        )
    )


@query("text_classifier_holdout_val", oracle=_holdout_oracle(val_pocket=True))
def text_classifier_holdout_val(spark, sf_dir):
    """text_classifier_holdout with VALIDATION-based pocket selection
    (VERDICT r13 #7): the pocket epoch is the one with the fewest
    mistakes on the VAL split — the train-mistake pocket is the
    quantity the perceptron updates minimize, so it overfits by
    construction; selecting on held-out error is the standard fix and
    the test row stays untouched by the selection (val selects, test
    reports). Same relation shape (split, n_docs, n_agree, accuracy);
    the oracle extends the chained training CTEs with per-epoch
    val-split scoring (verr CTEs) and pockets on those — hash-exact
    at sf0.01 and sf1. The frozen train-pocket key is unchanged."""
    from presto_on_ray_spark.operators.pipeline_prep import (
        split_leakage_safe,
    )

    d = t(spark, sf_dir, "documents")
    splits = split_leakage_safe(spark, sf_dir).select("doc_id", "split")
    lab = langid_labels(d)
    train_docs = d.join(
        splits.filter(F.col("split") == "train").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    val_docs = d.join(
        splits.filter(F.col("split") == "val").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    # r16 (VERDICT r15 #6): score from the trainer's persisted train-
    # and val-split feature caches + freshly featurized test docs —
    # same union-equality argument as text_classifier_holdout (the
    # three splits partition the corpus).
    from presto_on_ray_spark.caching import tracked_persist

    fl = tracked_persist(_train_features(train_docs, lab))
    vfl = tracked_persist(_train_features(val_docs, lab))
    w = classifier_train(train_docs, lab, pocket_docs=val_docs, fl=fl,
                         vfl=vfl)
    test_docs = d.join(
        splits.filter(F.col("split") == "test").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    s = _score_biased_feats(
        fl.select("doc_id", "bucket", "tf")
        .unionByName(vfl.select("doc_id", "bucket", "tf"))
        .unionByName(biased_features(test_docs)),
        w,
    )
    agree = F.col("keep") == (F.col("y") == 1)
    return (
        s.join(lab, "doc_id")
        .join(splits, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_if(agree).alias("n_agree"),
        )
        .select(
            "split",
            "n_docs",
            "n_agree",
            F.round(
                F.col("n_agree").cast("double") / F.col("n_docs"), 4
            ).alias("accuracy"),
        )
    )


@query("text_quality_classifier", oracle=_classifier_oracle())
def text_quality_classifier(spark, sf_dir):
    """Hashing-trick linear quality classifier over the corpus
    (inference only, weights as data): hashed-unigram features x a
    broadcast 4096 (= _CLF_BUCKETS)-bucket integer weight table, length-
    normalized logit, keep verdict on the EXACT integer dot product.
    Hash-exact end-to-end — including the logit doubles — because the
    only floating-point operation is one final correctly-rounded
    division."""
    return classifier_score(t(spark, sf_dir, "documents"), demo_weights(spark))
