"""Training-data preparation operators: deterministic splits,
stratified sampling, sequence packing, PII redaction.

The reference stack's purpose is large-scale SQL over training corpora
(reference README.md:7-12 positions it as an analytics layer); these
are the four prep operations every LLM data pipeline runs downstream
of dedup/quality filtering (SURVEY §2.11 extensions):

- **split_train_test** — assign every document to train/val/test by a
  DETERMINISTIC multiplicative hash of its id (Knuth 2654435761 mix,
  high bits). Never ``rand()``: retried tasks and re-runs must land
  each doc in the same split, and the split must be reproducible
  across engines. Pure arithmetic in the BIGINT-safe range, so DuckDB
  computes bit-identical buckets.
- **stratified_sample_exact** — exactly k docs per stratum, chosen by
  the same hash order (row_number ≤ k per stratum). Per-stratum
  shuffle + bounded window slice; Spark plans the rank filter as
  WindowGroupLimit, so no stratum ever materializes fully.
- **sequence_packing** — concat-and-chunk packing (the GPT-style
  pretraining layout): within each language, documents are laid
  head-to-tail by a running token offset and sliced into fixed
  ``PACK_CAPACITY``-token chunks; each doc reports the chunk span it
  lands in. One window partition per language — at 100 TB the pack
  group would be (language, shard) so no partition exceeds executor
  memory; the arithmetic is identical.
- **pii_redact** — regex redaction of emails/phones with match
  accounting. Patterns stay inside the Java∩RE2 common dialect
  (SURVEY §7 risk 3) so both engines agree; the corpus text carries a
  synthetic contact line (deterministic per doc) so the redaction path
  is actually exercised.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from presto_on_ray_spark import store as store_proto
from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.suite import query

# Knuth multiplicative hash: id · 2654435761 mod 2³²; ids ≤ ~2³⁰ keep
# the product < 2⁶³ (no BIGINT overflow on either engine — both run
# ANSI/checked arithmetic). Bucket = high bits (· 100 / 2³²).
_MIX = 2654435761
_MOD = 4294967296  # 2^32


def _bucket_sql(id_expr: str) -> str:
    return f"(({id_expr} * {_MIX}) % {_MOD}) * 100 // {_MOD}"


def _bucket_col(c):
    return ((c * F.lit(_MIX)) % F.lit(_MOD)) * 100 / F.lit(_MOD)


@query(
    "split_train_test",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, n_chars, {_bucket_sql('doc_id')} AS bucket FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY 1
    """,
)
def split_train_test(spark, sf_dir):
    """80/10/10 deterministic hash split of the corpus. The bucket is a
    pure function of doc_id — stable under retries, re-runs, engine
    swaps, and repartitioning (the properties rand()-based splits
    lack). Narrow projection + one aggregation; no shuffle before the
    final (3-row) groupBy."""
    d = t(spark, sf_dir, "documents")
    bucket = F.floor(_bucket_col(F.col("doc_id"))).cast("long")
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "doc_id", "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_SAMPLE_K = 5


@query(
    "stratified_sample_exact",
    oracle=f"""
    SELECT source, doc_id, rn FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ({_bucket_sql('doc_id')}), doc_id) AS rn
      FROM documents
    ) ranked WHERE rn <= {_SAMPLE_K}
    """,
)
def stratified_sample_exact(spark, sf_dir):
    """Exactly {k} documents per source stratum, picked by deterministic
    hash order (pseudo-random but reproducible; doc_id tie-break makes
    the pick unique). The rank-filter plans as a per-partition top-k
    (WindowGroupLimit) — each stratum streams, never materializes."""
    d = t(spark, sf_dir, "documents")
    order_key = F.floor(_bucket_col(F.col("doc_id"))).cast("long")
    w = Window.partitionBy("source").orderBy(order_key, "doc_id")
    return (
        d.select("source", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SAMPLE_K)
    )


PACK_CAPACITY = 512  # tokens per packed training sequence


@query(
    "sequence_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens
      FROM documents
    ), laid AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS off
      FROM toks
    )
    SELECT doc_id, lang, n_tokens, CAST(off AS BIGINT) AS offset,
           CAST(off // {PACK_CAPACITY} AS BIGINT) AS first_chunk,
           CAST((off + n_tokens - 1) // {PACK_CAPACITY} AS BIGINT)
             AS last_chunk,
           CAST((off + n_tokens - 1) // {PACK_CAPACITY}
                - off // {PACK_CAPACITY} + 1 AS BIGINT) AS n_chunks
    FROM laid
    """,
)
def sequence_packing(spark, sf_dir):
    """Concat-and-chunk sequence packing: per language, lay documents
    head-to-tail (whitespace-token running offset, doc_id order) and
    slice into {cap}-token chunks; report each doc's chunk span. The
    whole layout is one window prefix-sum + arithmetic — no shuffle
    beyond the per-language partition, and chunk ids are pure functions
    of the offsets (reproducible across engines and re-runs)."""
    d = t(spark, sf_dir, "documents")
    n_tokens = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    ).alias("n_tokens")
    toks = d.select("doc_id", "lang", n_tokens)
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    laid = toks.withColumn("offset", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    cap = F.lit(PACK_CAPACITY)
    first = F.floor(F.col("offset") / cap).cast("long")
    last = F.floor((F.col("offset") + F.col("n_tokens") - 1) / cap).cast("long")
    return laid.select(
        "doc_id",
        "lang",
        "n_tokens",
        "offset",
        first.alias("first_chunk"),
        last.alias("last_chunk"),
        (last - first + 1).alias("n_chunks"),
    )


# Java ∩ RE2 patterns (no backrefs, no lookaround).
_EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+"
_PHONE_RE = r"\+1-555-[0-9]{4}"


@query(
    "pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' Contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.' AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(LENGTH(regexp_extract_all(text, '{_EMAIL_RE}')) AS INTEGER)
             AS n_emails,
           CAST(LENGTH(regexp_extract_all(text, '{_PHONE_RE}')) AS INTEGER)
             AS n_phones,
           regexp_replace(
             regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
             '{_PHONE_RE}', '[PHONE]', 'g') AS redacted
    FROM aug
    """,
)
def pii_redact(spark, sf_dir):
    """PII scrub with match accounting: append a deterministic synthetic
    contact line per document (the corpus itself is synthetic and
    PII-free), then count and redact email/phone matches. Pure
    JVM-side regex — a narrow map over the scan, embarrassingly
    parallel; the patterns sit in the Java∩RE2 common subset so DuckDB
    and Spark agree byte-for-byte."""
    d = t(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("."),
        ).alias("text"),
    )
    return aug.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"),
            _PHONE_RE,
            "[PHONE]",
        ).alias("redacted"),
    )


_DECON_N = 8  # contamination n-gram width (rare enough to be meaningful)


def _win_terms_sql(n: int) -> str:
    """The n-word window expression starting at ``i`` — shared by the
    lambda form (_gram_sql, where ``i`` is the lambda variable) and
    the positional form (decontaminate_cut_spans' oracle, where ``i``
    is an outer column), so the two oracle window shapes cannot
    desynchronize."""
    return " || ' ' || ".join(f"STRING_SPLIT(text,' ')[i+{j}]" for j in range(n))


def _gram_sql(n: int) -> str:
    """DuckDB n-gram list over STRING_SPLIT(text,' ') (same construction
    as the dedup oracles)."""
    return (
        f"LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(STRING_SPLIT(text,' ')) - {n - 1}, 0) + 1), i -> {_win_terms_sql(n)}))"
    )


@query(
    "decontaminate_train_eval",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text, {_bucket_sql('doc_id')} AS bucket FROM documents
    ),
    train_sh AS (
      SELECT doc_id, UNNEST({_gram_sql(_DECON_N)}) AS sh
      FROM b WHERE bucket < 80
    ),
    eval_sh AS (
      SELECT doc_id, UNNEST({_gram_sql(_DECON_N)}) AS sh
      FROM b WHERE bucket >= 90
    )
    SELECT t.doc_id AS train_doc_id,
           COUNT(DISTINCT t.sh) AS n_shared_shingles,
           COUNT(DISTINCT e.doc_id) AS n_eval_docs_hit
    FROM train_sh t JOIN eval_sh e ON t.sh = e.sh
    GROUP BY t.doc_id
    """,
)
def decontaminate_train_eval(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    {n}-word shingle with the held-out eval split (the standard
    n-gram-overlap contamination check). Composes the deterministic
    hash split with the dedup shingle machinery: both sides explode
    DISTINCT hashed shingles (dedup.shingles — xxhash64 i64s, so the
    equi-join shuffles 8-byte keys, never strings; at corpus scale the
    10% eval side broadcasts). 8-gram rarity keeps the join skew-free
    where stop-word 3-grams would hot-spot. Counts match the string
    oracle because xxhash64 collisions are vanishing at fixture scale
    (same contract as dedup_ngram_jaccard)."""
    from presto_on_ray_spark.operators.dedup import shingles

    d = t(spark, sf_dir, "documents")
    bucket = F.floor(_bucket_col(F.col("doc_id"))).cast("long")
    base = d.select("doc_id", "text", bucket.alias("bucket")).filter(
        F.size(F.split("text", " ")) >= _DECON_N
    )
    grams = shingles(F.col("text"), n=_DECON_N)
    train = (
        base.filter(F.col("bucket") < 80)
        .select("doc_id", F.explode(grams).alias("sh"))
    )
    eval_ = (
        base.filter(F.col("bucket") >= 90)
        .select(F.col("doc_id").alias("eval_doc_id"), F.explode(grams).alias("sh"))
    )
    return (
        train.join(eval_, "sh")
        .groupBy(F.col("doc_id").alias("train_doc_id"))
        .agg(
            F.count_distinct("sh").alias("n_shared_shingles"),
            F.count_distinct("eval_doc_id").alias("n_eval_docs_hit"),
        )
    )


def _win_at_sql(n: int) -> str:
    """DuckDB n-word window STARTING at the outer column ``i`` (the
    positional form of _gram_sql — no lambda, so no variable-capture
    hazard against the column it reads)."""
    return _win_terms_sql(n)


@query(
    "decontaminate_cut_spans",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text, {_bucket_sql('doc_id')} AS bucket FROM documents
      WHERE text IS NOT NULL
    ),
    train AS (SELECT doc_id, text FROM b WHERE bucket < 80),
    egr AS (
      SELECT DISTINCT UNNEST({_gram_sql(_DECON_N)}) AS win
      FROM b WHERE bucket >= 90
    ),
    tpos AS (
      SELECT doc_id, i, {_win_at_sql(_DECON_N)} AS win
      FROM (SELECT doc_id, text,
                   UNNEST(RANGE(1, GREATEST(LEN(STRING_SPLIT(text,' '))
                                            - {_DECON_N - 1}, 0) + 1)) AS i
            FROM train)
    ),
    dup AS (SELECT t.doc_id, t.i FROM tpos t JOIN egr e ON t.win = e.win),
    runs AS (
      SELECT doc_id, MIN(i) AS a, MAX(i) AS b
      FROM (SELECT doc_id, i,
                   i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS g
            FROM dup)
      GROUP BY doc_id, g
    ),
    words AS (
      SELECT doc_id, i, (STRING_SPLIT(text,' '))[i] AS wd
      FROM (SELECT doc_id, text,
                   UNNEST(RANGE(1, LEN(STRING_SPLIT(text,' ')) + 1)) AS i
            FROM train)
    ),
    covered AS (
      SELECT DISTINCT doc_id, UNNEST(RANGE(a, b + {_DECON_N})) AS i FROM runs
    ),
    keptagg AS (
      SELECT wo.doc_id, STRING_AGG(wo.wd, ' ' ORDER BY wo.i) AS clean_text
      FROM words wo LEFT JOIN covered c
        ON c.doc_id = wo.doc_id AND c.i = wo.i
      WHERE c.i IS NULL
      GROUP BY wo.doc_id
    )
    SELECT d.doc_id, COALESCE(k.clean_text, '') AS clean_text
    FROM train d LEFT JOIN keptagg k ON k.doc_id = d.doc_id
    """,
)
def decontaminate_cut_spans(spark, sf_dir):
    """Span-level benchmark decontamination (the action to
    decontaminate_train_eval's verdict): every TRAIN document with the
    word spans covered by any eval-set {n}-gram CUT OUT — the
    production policy that salvages a contaminated document's clean
    remainder instead of dropping it (the Lee et al. ExactSubstr cut,
    pointed at a reference corpus instead of the corpus itself).

    Composition of audited pieces: positional {n}-word windows on the
    train side (hashed to 8-byte keys, the dedup substring-family
    contract), a left-semi join against the eval set's DISTINCT gram
    hashes — benchmark suites are tiny next to a 100 TB corpus, so
    that side is broadcast: the corpus never shuffles — then
    gaps-and-islands to maximal spans (_dup_runs) and the shared
    bounded-span cut (_cut_spans: per-row exists() in codegen, words
    never exploded into rows; the only grouped buffer is two longs
    per maximal span). Train docs with no contaminated window pass
    through verbatim."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    bucket = F.floor(_bucket_col(F.col("doc_id"))).cast("long")
    base = d.select("doc_id", "text", bucket.alias("bucket"))
    return decontaminate_cut(
        base.filter(F.col("bucket") < 80).select("doc_id", "text"),
        base.filter(F.col("bucket") >= 90).select("doc_id", "text"),
        _DECON_N,
    )


def decontaminate_cut(train, eval_docs, n: int = _DECON_N, keep=None):
    """Span-level decontamination over arbitrary (doc_id, text)
    DataFrames (the query body of decontaminate_cut_spans): cut from
    every train doc the word spans covered by any n-gram that occurs
    anywhere in eval_docs. keep= overrides the persist lifecycle
    (defaults to the session cache registry)."""
    from presto_on_ray_spark.caching import tracked_persist
    from presto_on_ray_spark.operators.dedup import (
        _cut_spans,
        _dup_runs,
        _rolling_windows,
    )
    from presto_on_ray_spark.operators.sketch_ops import _portable_h60

    keep = keep or tracked_persist
    train = keep(train.filter(F.col("text").isNotNull()))
    eval_grams = F.broadcast(
        eval_docs.filter(F.col("text").isNotNull())
        .select(F.explode(_rolling_windows(F.col("text"), n)).alias("win"))
        .select(_portable_h60(F.col("win")).alias("h"))
        .distinct()
    )
    tpos = train.select(
        "doc_id",
        F.posexplode(_rolling_windows(F.col("text"), n)).alias("p", "win"),
    ).select(
        "doc_id",
        (F.col("p") + 1).cast("long").alias("i"),
        _portable_h60(F.col("win")).alias("h"),
    )
    dup = tpos.join(eval_grams, "h", "left_semi").select("doc_id", "i")
    return _cut_spans(train, _dup_runs(dup), n)


@query(
    "text_repetition",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             GREATEST(LEN(STRING_SPLIT(text,' ')) - 2, 0) AS n_trigrams,
             LEN({_gram_sql(3)}) AS n_distinct
      FROM documents
    )
    SELECT doc_id, n_trigrams, n_distinct,
           CASE WHEN n_trigrams > 0
                THEN ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_trigrams, 6)
                ELSE 0.0 END AS rep_ratio
    FROM g
    """,
)
def text_repetition(spark, sf_dir):
    """Intra-document repetition score (Gopher-style quality signal):
    fraction of word trigrams that are repeats of an earlier trigram in
    the same document. Pure higher-order-function pipeline — the
    trigram array, its distinct form, and the ratio are all computed
    inside one projection (no explode, no shuffle, no UDF): the
    embarrassingly-parallel shape a 100 TB quality pass needs."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_tri = F.greatest(F.size(words) - 2, F.lit(0))
    # words bound as a lambda variable so split runs once per row, not
    # once per trigram index (see dedup.shingles).
    grams = F.flatten(F.transform(
        F.array(words),
        lambda ws: F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(ws) - 2, F.lit(1))),
            lambda i: F.array_join(F.slice(ws, i, 3), " "),
        ),
    ))
    n_distinct = F.when(n_tri > 0, F.size(F.array_distinct(grams))).otherwise(0)
    return d.select(
        "doc_id",
        n_tri.cast("long").alias("n_trigrams"),
        n_distinct.cast("long").alias("n_distinct"),
        F.when(
            n_tri > 0,
            F.round(
                F.lit(1.0) - n_distinct.cast("double") / n_tri.cast("double"), 6
            ),
        )
        .otherwise(0.0)
        .alias("rep_ratio"),
    )


_WEIGHTED_K = 20


@query(
    "weighted_sample_exact",
    oracle=f"""
    WITH keyed AS (
      SELECT lang, doc_id, n_chars AS weight,
             ROUND(LN((((doc_id * {_MIX}) % {_MOD}) + 0.5) / {_MOD})
                   / n_chars, 9) AS sample_key
      FROM documents
    )
    SELECT lang, doc_id, weight, sample_key, rn FROM (
      SELECT keyed.*, ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY sample_key DESC, doc_id) AS rn
      FROM keyed
    ) ranked WHERE rn <= {_WEIGHTED_K}
    """,
)
def weighted_sample_exact(spark, sf_dir):
    """Deterministic weighted sampling (Efraimidis-Spirakis A-Res in the
    log domain): each doc gets key = ln(u)/w for a hash-derived uniform
    u and weight w (n_chars); the top-k keys per language are the
    weighted sample. A pure function of (doc_id, weight) — reproducible
    across retries, engines, and repartitioning, unlike rand()-based
    weighted sampling. The rank filter plans as WindowGroupLimit, so
    per-partition state is k rows; keys are ranked on ROUND(·,9) with a
    doc_id tie-break so both engines order identically."""
    d = t(spark, sf_dir, "documents")
    u = (((F.col("doc_id") * F.lit(_MIX)) % F.lit(_MOD)) + 0.5) / F.lit(_MOD)
    key = F.round(F.log(u) / F.col("n_chars"), 9)
    keyed = d.select(
        "lang", "doc_id", F.col("n_chars").alias("weight"), key.alias("sample_key")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("sample_key").desc(), "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _WEIGHTED_K)
    )


@query(
    "winsorize_clip",
    oracle="""
    WITH bounds AS (
      SELECT event_type,
             ROUND(quantile_cont(value, 0.05), 4) AS lo,
             ROUND(quantile_cont(value, 0.95), 4) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           CASE WHEN e.value < b.lo THEN b.lo
                WHEN e.value > b.hi THEN b.hi
                ELSE e.value END AS clipped,
           e.value < b.lo OR e.value > b.hi AS was_clipped
    FROM events e JOIN bounds b USING (event_type)
    """,
)
def winsorize_clip(spark, sf_dir):
    """Winsorization: clip each event's value to its type's exact
    [p05, p95] band — the standard outlier treatment before a numeric
    feature feeds training. Exact interpolated percentiles (both
    engines use the same (1-f)·a + f·b rule over the sorted run),
    rounded to 4 places before clipping so the keep/clip decision is
    bit-stable. The bounds relation is |event_types| rows — broadcast
    to the clip join; one shuffle total (the percentile groupBy)."""
    ev = t(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05)"), 4).alias("lo"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("hi"),
    )
    clipped = (
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
    )
    return ev.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        "value",
        clipped.alias("clipped"),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
            "was_clipped"
        ),
    )


@query(
    "text_chunking",
    oracle="""
    WITH w AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
    ),
    c AS (
      SELECT doc_id, ws,
             UNNEST(RANGE(GREATEST(CAST(CEIL((LEN(ws) - 16) / 48.0) AS BIGINT), 1)))
               AS chunk_id
      FROM w
    )
    SELECT doc_id, chunk_id,
           LEN(ws[CAST(chunk_id * 48 + 1 AS BIGINT):CAST(chunk_id * 48 + 64 AS BIGINT)])
             AS n_words,
           MD5(ARRAY_TO_STRING(
             ws[CAST(chunk_id * 48 + 1 AS BIGINT):CAST(chunk_id * 48 + 64 AS BIGINT)],
             ' ')) AS chunk_md5
    FROM c
    """,
)
def text_chunking(spark, sf_dir):
    """Sliding-window document chunking (SURVEY §2.11 train-prep): the
    context-window preparation step between curation and tokenization —
    64-word chunks with 16-word overlap (stride 48), 0-based chunk ids,
    every document yielding at least one chunk. Chunk identity is
    pinned by md5 of the chunk text, so the oracle verifies the exact
    split boundaries, not just counts.

    Pure higher-order functions: split once per row (lambda-bound, see
    operators/dedup.shingles), chunk starts from a sequence, slices
    explode to rows. No UDF, no shuffle before the explode — at 100 TB
    this is a map-only stage whose output feeds groupBy-free
    tokenization; the overlap factor (4/3 here) is the only data
    amplification."""
    chunk, overlap = 64, 16
    stride = chunk - overlap
    d = t(spark, sf_dir, "documents")
    # flatten(transform(array(split), ...)) binds the split array as a
    # lambda variable so it is tokenized ONCE per row (the dedup.shingles
    # pattern), then one explode yields a row per chunk.
    chunks = F.flatten(
        F.transform(
            F.array(F.split("text", " ")),
            lambda ws: F.transform(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.greatest(
                        F.ceil((F.size(ws) - overlap) / F.lit(stride)),
                        F.lit(1).cast("long"),
                    )
                    - 1,
                ),
                lambda i: F.struct(
                    i.alias("chunk_id"),
                    F.slice(ws, i.cast("int") * stride + 1, chunk).alias("chunk_words"),
                ),
            ),
        )
    )
    out = d.select("doc_id", F.explode(chunks).alias("ch"))
    return out.select(
        "doc_id",
        F.col("ch.chunk_id").alias("chunk_id"),
        F.size("ch.chunk_words").alias("n_words"),
        F.md5(F.array_join("ch.chunk_words", " ")).alias("chunk_md5"),
    )


# -- deterministic corpus shuffle + sharding (round 7) -----------------
# The last step of every epoch-data pipeline: "shuffle the corpus with
# a seed and write N near-equal shards". The scale-correct form is NOT
# a global ORDER BY rand() + row_number (a single-partition window — a
# scale killer, and rand() is neither retry- nor engine-stable): shard
# assignment is a pure hash bucket of (seed, doc_id) — near-uniform by
# the law of large numbers, embarrassingly parallel — and the training
# order WITHIN a shard is the same hash, so the whole layout is one
# narrow projection plus one per-shard window (row_number partitioned
# by shard: bounded state, no global sort anywhere). Re-running with
# the same seed reproduces the exact permutation on any cluster size;
# changing the seed is a fresh epoch order. The md5-derived 60-bit key
# (sketch_ops._portable_h60) makes the DuckDB oracle bit-exact.

_SHUFFLE_SEED = "epoch7"
_N_SHARDS = 8


def _shuffle_oracle() -> str:
    from presto_on_ray_spark.operators.sketch_ops import _h60_sql

    h = _h60_sql(f"concat_ws('|', '{_SHUFFLE_SEED}', doc_id)")
    return f"""
        SELECT doc_id, shard, CAST(ROW_NUMBER() OVER (
                 PARTITION BY shard ORDER BY okey, doc_id) AS BIGINT) AS pos
        FROM (SELECT doc_id, okey, CAST(okey % {_N_SHARDS} AS INTEGER) AS shard
              FROM (SELECT doc_id, {h} AS okey FROM documents))
        ORDER BY shard, pos
        """


@query("corpus_shuffle_shards", oracle=_shuffle_oracle())
def corpus_shuffle_shards(spark, sf_dir):
    """Seeded deterministic corpus shuffle into near-equal shards:
    shard = h60(seed, doc_id) % N, in-shard position = rank of the
    same hash. One hash + one per-shard window; no global sort, no
    rand(), identical permutation on re-run at any parallelism."""
    from presto_on_ray_spark.operators.sketch_ops import _portable_h60

    d = t(spark, sf_dir, "documents")
    okey = _portable_h60(F.lit(_SHUFFLE_SEED), F.col("doc_id"))
    w = Window.partitionBy("shard").orderBy("okey", "doc_id")
    return (
        d.select("doc_id", okey.alias("okey"))
        .withColumn("shard", (F.col("okey") % _N_SHARDS).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


# -- deterministic source mixing (round 7) -----------------------------
# Pretraining pipelines mix heterogeneous sources at TARGET proportions
# ("50% web, 30% books, 20% code"). The scale-correct deterministic
# form: per-source counts fix the largest total budget B that the
# scarcest source can support at its target share, integer arithmetic
# picks per-source quotas k_s, and membership is the portable-hash
# order (rank <= k_s per source) — no rand(), no global sort, identical
# sample on re-run at any parallelism. All ratios are integer (weights
# are tenths), so the DuckDB oracle is bit-exact.

_MIX_WEIGHTS = {"src0": 5, "src1": 3, "src2": 2}  # tenths; sum = 10
_MIX_SEED = "mix7"


def _mix_oracle() -> str:
    from presto_on_ray_spark.operators.sketch_ops import _h60_sql

    h = _h60_sql(f"concat_ws('|', '{_MIX_SEED}', doc_id)")
    srcs = ", ".join(f"'{s}'" for s in _MIX_WEIGHTS)
    vals = ", ".join(f"('{s}', {w})" for s, w in _MIX_WEIGHTS.items())
    return f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS c FROM documents
      WHERE source IN ({srcs}) GROUP BY source
    ),
    budget AS (
      SELECT MIN((COALESCE(c, 0) * 10) // w) AS b
      FROM (VALUES {vals}) AS t(source, w) LEFT JOIN counts USING (source)
    ),
    quota AS (
      SELECT t.source, (b * w) // 10 AS k
      FROM (VALUES {vals}) AS t(source, w), budget
    ),
    ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY {h}, doc_id) AS rn
      FROM documents WHERE source IN ({srcs})
    )
    SELECT doc_id, source, CAST(rn AS BIGINT) AS pick_rank
    FROM ranked JOIN quota USING (source)
    WHERE rn <= k
    ORDER BY source, pick_rank
    """


# okey buckets per source for the mix-membership refinement: the
# 60-bit hash is uniform, so bucket = okey >> 50 splits every source
# into ~1024 equal slices and no window partition ever spans more
# than ~1/1024 of a source (VERDICT r8 scale flag: the previous
# PARTITION BY source window single-task-sorted each ENTIRE source —
# a ~33 TB sort per source at 100 TB).
_MIX_BUCKETS_SHIFT = 50


@query("corpus_mix_sources", oracle=_mix_oracle())
def corpus_mix_sources(spark, sf_dir):
    """Deterministic source mixing to target proportions (5:3:2 over
    three sources): integer-exact budget B = min_s (10·c_s) div w_s,
    per-source quota k_s = (B·w_s) div 10, membership = portable-hash
    rank ≤ k_s within each source.

    Scale shape (okey-histogram threshold refinement, the
    corpus_budget_select pattern): bucket = top 10 bits of the uniform
    60-bit okey; one (source, bucket) histogram (≤ 3·1024 rows out of
    the map-side partial agg), cumulative counts over that bounded
    relation, then rank ONLY inside buckets whose exclusive prefix is
    below the quota — pick_rank = bucket prefix + rank within (source,
    bucket), identical to the per-source rank because the bucket order
    IS the okey order. No window partition spans more than ~1/1024 of
    a source; no global sort, no rand(); the mix is reproducible on
    any cluster size and the proportions are as close to target as the
    scarcest source allows (the standard epoch-mix contract)."""
    from presto_on_ray_spark.caching import tracked_persist
    from presto_on_ray_spark.operators.sketch_ops import _portable_h60

    d = t(spark, sf_dir, "documents").filter(
        F.col("source").isin(*_MIX_WEIGHTS)
    )
    w = spark.createDataFrame(
        list(_MIX_WEIGHTS.items()), "source STRING, w INT"
    )
    okey = _portable_h60(F.lit(_MIX_SEED), F.col("doc_id"))
    # persisted FIRST so the source counts, the bucket histogram and
    # the ranking pass all read the cached 4-narrow-column relation —
    # the documents parquet is scanned exactly once
    docs = tracked_persist(d.select(
        "doc_id", "source", okey.alias("okey"),
        F.shiftright(okey, _MIX_BUCKETS_SHIFT).alias("bkt"),
    ))
    counts = docs.groupBy("source").agg(F.count("*").alias("c"))
    # budget = min over sources — an unpartitioned window over the
    # ALREADY-AGGREGATED per-source relation (one row per mixed
    # source, bounded by the weight dict's size by construction), so
    # no cross join and no scalar collect reach the plan. The join is
    # LEFT from the WEIGHTS side with c coalesced to 0: a configured
    # source with zero documents must force budget 0 (empty mix), not
    # silently drop out of the min.
    quota = (
        w.join(counts, "source", "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
        .withColumn(
            "b",
            F.min(F.expr("(c * 10) div w")).over(Window.partitionBy(F.lit(1))),
        )
        .select("source", F.expr("(b * w) div 10").alias("k"))
    )
    return _pick_by_quota(docs, quota)


def _pick_by_quota(docs, quota):
    """The shared okey-bucket selection tail: given a persisted
    (doc_id, source, okey, bkt) relation and a per-source (source, k)
    quota, pick the k hash-smallest docs per source with pick_rank —
    via the bounded bucket-histogram refinement (no window partition
    spans more than ~1/1024 of a source)."""
    wcum = (
        Window.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # bucket relation: ≤1024 rows per source, so the per-source
    # cumulative window is over a bounded relation
    binfo = (
        docs.groupBy("source", "bkt").agg(F.count("*").alias("c"))
        .withColumn("cum_excl", F.coalesce(F.sum("c").over(wcum), F.lit(0)))
        .join(quota, "source")
        .filter(F.col("cum_excl") < F.col("k"))
        .select("source", "bkt", "cum_excl", "k")
    )
    wb = Window.partitionBy("source", "bkt").orderBy("okey", "doc_id")
    return (
        docs.join(F.broadcast(binfo), ["source", "bkt"])
        .withColumn(
            "pick_rank",
            (F.col("cum_excl") + F.row_number().over(wb)).cast("long"),
        )
        .filter(F.col("pick_rank") <= F.col("k"))
        .select("doc_id", "source", "pick_rank")
        .orderBy("source", "pick_rank")
    )


# -- token-budget corpus selection (round 8) ----------------------------
# "Fill a token budget with the highest-quality documents" is the
# selection step of every curated pretraining mix (quality-pruned
# corpora are specified as token budgets, not document counts). The
# scale-correct form is NOT a global quality sort + running token sum
# (a single-partition window over the whole corpus — the same scale
# killer corpus_shuffle_shards avoids): bucket documents by an integer
# quality score, pick whole buckets from the top via a cumulative sum
# over the ~101-row bucket relation, and resolve ONLY the boundary
# bucket with a per-doc running sum — a window over one bucket
# (~1/|buckets| of the corpus), never the whole corpus. Membership is
# deterministic (portable-hash order inside the boundary bucket), so
# the epoch is reproducible on any cluster size and the DuckDB oracle
# is bit-exact.

_BUDGET_SEED = "budget8"
_BUDGET_TENTHS = 3  # budget = 30% of corpus tokens


def _budget_oracle() -> str:
    from presto_on_ray_spark.operators.sketch_ops import _h60_sql

    h = _h60_sql(f"concat_ws('|', '{_BUDGET_SEED}', doc_id)")
    return f"""
    WITH d AS (
      SELECT doc_id,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             (100 * LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))))
               // LEN(STRING_SPLIT(text, ' ')) AS score,
             {h} AS okey
      FROM documents
    ),
    bsum AS (SELECT score, SUM(n_tokens) AS bt FROM d GROUP BY score),
    binfo AS (
      SELECT score, bt,
             COALESCE(SUM(bt) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_excl,
             (SUM(bt) OVER () * {_BUDGET_TENTHS}) // 10 AS b
      FROM bsum
    ),
    kept AS (
      SELECT score, s_excl + bt <= b AS full_bucket, b - s_excl AS rem
      FROM binfo WHERE s_excl <= b
    ),
    boundary AS (
      SELECT d.doc_id, d.score, d.n_tokens,
             SUM(d.n_tokens) OVER (PARTITION BY d.score
               ORDER BY d.okey, d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             kept.rem
      FROM d JOIN kept USING (score) WHERE NOT kept.full_bucket
    )
    SELECT doc_id, score, n_tokens
    FROM d JOIN kept USING (score) WHERE kept.full_bucket
    UNION ALL
    SELECT doc_id, score, n_tokens FROM boundary WHERE cum <= rem
    ORDER BY score DESC, doc_id
    """


@query("corpus_budget_select", oracle=_budget_oracle())
def corpus_budget_select(spark, sf_dir):
    """Token-budget quality selection: take the highest-quality
    documents until a token budget (30% of corpus tokens) is filled.

    Contract (identical in both engines, integer arithmetic only):
    quality score = (100 * unique_words) div n_tokens (vocabulary
    diversity, 0..100); whole score buckets are taken from the top
    while they fit the budget; the single boundary bucket is filled in
    portable-hash order by an inclusive running token sum. Plan shape:
    one bucket aggregation, one window over the <=101-row bucket
    relation, one broadcast join back, and one window over the
    boundary bucket only — no global sort, no driver-side scalar, no
    corpus-wide running sum."""
    from presto_on_ray_spark.caching import tracked_persist
    from presto_on_ray_spark.operators.sketch_ops import _portable_h60

    words = F.split("text", " ")
    n_tokens = F.size(words).cast("long")
    score = F.expr("(100 * n_unique) div n_tokens")
    # persisted: three consumers (bucket sums, full-bucket branch,
    # boundary branch) would otherwise each re-tokenize and re-hash the
    # corpus; the persisted relation is 4 narrow columns, never text
    d = tracked_persist(
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            F.size(F.array_distinct(words)).cast("long").alias("n_unique"),
            _portable_h60(F.lit(_BUDGET_SEED), F.col("doc_id")).alias("okey"),
        )
        .select("doc_id", "n_tokens", score.alias("score"), "okey")
    )
    bsum = d.groupBy("score").agg(F.sum("n_tokens").alias("bt"))
    # both windows run over the ALREADY-AGGREGATED bucket relation —
    # bounded at 101 rows by the score's construction, so the
    # unpartitioned frame is safe at any corpus size
    wdesc = (
        Window.partitionBy(F.lit(1))
        .orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wtot = Window.partitionBy(F.lit(1))
    kept = (
        bsum.withColumn("s_excl", F.coalesce(F.sum("bt").over(wdesc), F.lit(0)))
        .withColumn("tot", F.sum("bt").over(wtot))
        .withColumn("b", F.expr(f"(tot * {_BUDGET_TENTHS}) div 10"))
        .filter(F.col("s_excl") <= F.col("b"))
        .select(
            "score",
            (F.col("s_excl") + F.col("bt") <= F.col("b")).alias("full_bucket"),
            (F.col("b") - F.col("s_excl")).alias("rem"),
        )
    )
    joined = d.join(F.broadcast(kept), "score")
    full = joined.filter("full_bucket").select("doc_id", "score", "n_tokens")
    wb = (
        Window.partitionBy("score")
        .orderBy("okey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    boundary = (
        joined.filter(~F.col("full_bucket"))
        .withColumn("cum", F.sum("n_tokens").over(wb))
        .filter(F.col("cum") <= F.col("rem"))
        .select("doc_id", "score", "n_tokens")
    )
    return full.unionAll(boundary).orderBy(F.col("score").desc(), "doc_id")


# -- sequence length bucketing (round 8) --------------------------------
# The padded-batch counterpart of sequence_packing: group documents
# into K token-length buckets of near-equal document mass so batches
# pad to the bucket max instead of the corpus max — the standard
# length-bucketing trick that cuts padding waste in training loaders.
# The scale-correct form computes bucket boundaries on the token-count
# HISTOGRAM (bounded cardinality — distinct token counts, not
# documents), so the only corpus-wide work is one groupBy and one
# broadcast join back; no document-level sort or quantile pass.

_LEN_BUCKETS = 8


def _length_bucket_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    hist AS (SELECT tok, COUNT(*) AS c FROM d GROUP BY tok),
    cum AS (
      SELECT tok,
             SUM(c) OVER (ORDER BY tok
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_incl,
             SUM(c) OVER () AS n
      FROM hist
    ),
    buckets AS (
      SELECT tok, ((cum_incl - 1) * {_LEN_BUCKETS}) // n AS bucket FROM cum
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           COUNT(*) AS n_docs,
           MIN(d.tok) AS min_tokens,
           MAX(d.tok) AS max_tokens,
           CAST(SUM(d.tok) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) * MAX(d.tok) - SUM(d.tok) AS BIGINT)
             AS padded_tokens
    FROM d JOIN buckets USING (tok)
    GROUP BY bucket
    ORDER BY bucket
    """


@query("sequence_length_buckets", oracle=_length_bucket_oracle())
def sequence_length_buckets(spark, sf_dir):
    """Token-length bucketing for padded batching: documents are
    assigned to 8 (= _LEN_BUCKETS) buckets of near-equal document count by
    token length (bucket = ((cumulative docs at this length - 1) * K)
    div N — integer-exact, identical in both engines), and each bucket
    reports its padding waste (docs x bucket-max - total tokens): the
    number a data loader reads to size its batch groups.

    Plan shape: one histogram aggregation (distinct token counts —
    bounded regardless of corpus size), two windows over that bounded
    relation, one broadcast join back to assign buckets, and the final
    bucket aggregation. No corpus-wide sort, no per-document window."""
    words = F.split("text", " ")
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(words).cast("long").alias("tok")
    )
    hist = d.groupBy("tok").agg(F.count("*").alias("c"))
    wcum = (
        Window.partitionBy(F.lit(1))
        .orderBy("tok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(F.lit(1))
    buckets = (
        hist.withColumn("cum_incl", F.sum("c").over(wcum))
        .withColumn("n", F.sum("c").over(wtot))
        .select(
            "tok",
            F.expr(f"((cum_incl - 1) * {_LEN_BUCKETS}) div n").alias("bucket"),
        )
    )
    return (
        d.join(F.broadcast(buckets), "tok")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("tok").alias("min_tokens"),
            F.max("tok").alias("max_tokens"),
            F.sum("tok").alias("total_tokens"),
            (F.count("*") * F.max("tok") - F.sum("tok")).alias("padded_tokens"),
        )
        .orderBy("bucket")
    )


# -- cross-corpus boilerplate removal (aligned-segment dedup) -----------
# The corpus-wide sibling of text_repetition (within-doc) and
# decontaminate_cut (train-vs-eval): segments whose exact text recurs
# across more than _BP_MAX_DF distinct documents — license footers,
# navigation chrome, templated headers (Gopher / MassiveText drop
# repeated lines by document frequency; the synthetic corpus has no
# newlines, so the unit here is the aligned _BP_W-word block) — are
# cut from every document, and each document is reassembled from its
# surviving words in order.

_BP_W = 4  # words per aligned segment
_BP_MAX_DF = 1  # segments in more than this many distinct docs are cut


def _segments(d, w: int):
    """(doc_id, g, h): one row per aligned full w-word segment — a
    map-side posexplode of a per-doc 60-bit hash array (the text never
    shuffles for counting; the trailing partial block is never a
    candidate)."""
    from presto_on_ray_spark.operators.sketch_ops import _portable_h60

    arr = F.split("text", " ")
    nfull = F.floor(F.size(arr) / F.lit(w)).cast("int")
    # words bound as a lambda variable so split() runs once per row,
    # not once per segment index (the text_repetition / dedup.shingles
    # discipline — an embedded split re-evaluates per element)
    seg_hashes = F.when(
        nfull > 0,
        F.flatten(F.transform(
            F.array(arr),
            lambda ws: F.transform(
                F.sequence(F.lit(0), nfull - 1),
                lambda g: _portable_h60(
                    F.array_join(F.slice(ws, g * w + 1, w), " ")
                ),
            ),
        )),
    ).otherwise(F.array().cast("array<long>"))
    return d.select("doc_id", F.posexplode(seg_hashes).alias("g", "h"))


def segment_counts(df, w: int = _BP_W):
    """(doc_id, text) -> (h, df): aligned-segment DOCUMENT-frequency
    counts — boilerplate detection's maintainable artifact (8-byte
    keys, corpus-vocabulary-sized). Two-level groupBy (distinct
    (h, doc) then count per h) with map-side partials."""
    segs = _segments(df.filter(F.col("text").isNotNull()), w)
    return (
        segs.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("df"))
    )


def merge_segment_counts(counts, batch, w: int = _BP_W):
    """Fold a NEW batch's segment counts into a maintained (h, df)
    relation: one union + re-aggregate over count rows — O(batch +
    artifact), the corpus text is never rescanned. Valid only when the
    batch's doc_ids are disjoint from every earlier contribution (the
    standing ingest contract — a re-submitted doc would double-count
    its segments' document frequency); under that contract
    merge(counts(A), B) == counts(A UNION B) exactly (pinned in
    tests/test_boilerplate.py)."""
    return (
        counts.unionByName(segment_counts(batch, w))
        .groupBy("h")
        .agg(F.sum("df").alias("df"))
    )


def boilerplate_strip_against(
    docs, counts, w: int = _BP_W, max_df: int = _BP_MAX_DF, keep=None
):
    """Cut every segment whose document frequency in ``counts`` (a
    segment_counts / merge_segment_counts artifact) exceeds
    ``max_df`` out of ``docs`` — the ingest-time form: arriving docs
    are stripped against the MAINTAINED corpus-wide counts without
    rescanning the corpus. The word-level cut never leaves the row —
    an array_contains probe of the bounded per-doc cut-index list
    inside whole-stage codegen, exactly the _cut_spans discipline
    (dedup.py); the per-doc grouped buffer is <= words/w longs,
    strictly smaller than the word array split() materializes per
    row in the same operator."""
    from presto_on_ray_spark.caching import tracked_persist

    keep = keep or tracked_persist
    d = keep(docs.filter(F.col("text").isNotNull()))
    freq = counts.filter(F.col("df") > max_df).select("h")
    cuts = (
        _segments(d, w)
        .join(freq, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list(F.col("g").cast("long")).alias("cut_gs"))
    )
    arr = F.split("text", " ")
    kept = F.filter(
        arr,
        lambda wd, i: ~F.array_contains(F.col("cut_gs"), F.floor(i / F.lit(w))),
    )
    return (
        d.join(cuts, "doc_id", "left")
        .withColumn("cut_gs", F.coalesce("cut_gs", F.array().cast("array<bigint>")))
        .select(
            "doc_id",
            F.size("cut_gs").cast("long").alias("n_cut_segments"),
            F.array_join(kept, " ").alias("clean_text"),
        )
    )


def boilerplate_strip(df, w: int = _BP_W, max_df: int = _BP_MAX_DF, keep=None):
    """Cross-corpus boilerplate strip over an arbitrary (doc_id, text)
    DataFrame: hash every aligned full ``w``-word segment, count each
    hash's document frequency, and cut every segment occurring in more
    than ``max_df`` distinct documents out of every document that
    carries it — the one-shot composition of segment_counts +
    boilerplate_strip_against over the same relation."""
    from presto_on_ray_spark.caching import tracked_persist

    keep = keep or tracked_persist
    d = keep(df.filter(F.col("text").isNotNull()))
    return boilerplate_strip_against(
        d, segment_counts(d, w), w=w, max_df=max_df, keep=lambda x: x
    )


def _boilerplate_oracle() -> str:
    from presto_on_ray_spark.operators.sketch_ops import _h60_sql

    w, maxdf = _BP_W, _BP_MAX_DF
    return f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
    rawsegs AS (
      SELECT doc_id, g,
             ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[(g*{w}+1):(g*{w}+{w})], ' ')
               AS seg
      FROM d, UNNEST(RANGE(0, LEN(STRING_SPLIT(text, ' ')) // {w})) AS t(g)
    ),
    segs AS (SELECT doc_id, g, {_h60_sql("seg")} AS h FROM rawsegs),
    freq AS (
      SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY 1)
      WHERE df > {maxdf}
    ),
    cuts AS (
      SELECT doc_id, LIST(g) AS cut_gs FROM segs JOIN freq USING (h)
      GROUP BY doc_id
    ),
    words AS (
      SELECT doc_id,
             STRING_SPLIT(text, ' ')[CAST(p AS INTEGER)] AS wd,
             p
      FROM d, UNNEST(RANGE(1, LEN(STRING_SPLIT(text, ' ')) + 1)) AS t(p)
    )
    SELECT wo.doc_id,
           CAST(COALESCE(MAX(LEN(c.cut_gs)), 0) AS BIGINT) AS n_cut_segments,
           COALESCE(STRING_AGG(wo.wd, ' ' ORDER BY wo.p)
             FILTER (WHERE c.cut_gs IS NULL
                     OR NOT LIST_CONTAINS(c.cut_gs, (wo.p - 1) // {w})), '')
             AS clean_text
    FROM words wo LEFT JOIN cuts c USING (doc_id)
    GROUP BY wo.doc_id
    """


@query("corpus_boilerplate_strip", oracle=_boilerplate_oracle())
def corpus_boilerplate_strip(spark, sf_dir):
    """Corpus-wide boilerplate removal: cut every aligned 4 (= _BP_W)-word
    segment that occurs in more than 1 (= _BP_MAX_DF) distinct documents
    (exact text match on the portable 60-bit digest) out of every
    document, reassembling each from its surviving words in order.
    The frequency unit is DOCUMENT frequency, not occurrence count —
    a segment repeated inside one doc is text_repetition's business,
    not boilerplate."""
    return boilerplate_strip(t(spark, sf_dir, "documents"))


# -- leakage-safe splits (near-dup-cluster-aware) -----------------------
# Hash-splitting doc_ids leaks: two near-duplicate documents can land
# one in train and one in test, and the eval set silently scores
# memorization. The leakage-safe split buckets by the near-dup
# CLUSTER representative, so every member of a cluster — and every
# singleton, via its own id — lands in the same split by construction.


def _leakage_safe_oracle() -> str:
    from presto_on_ray_spark.operators.dedup import _CC_CTE_BODY

    return (
        "WITH RECURSIVE "
        + _CC_CTE_BODY
        + f""",
    comp AS (SELECT node AS doc_id, MIN(lbl) AS rep_id FROM reach GROUP BY node),
    rep AS (
      SELECT d.doc_id, COALESCE(c.rep_id, d.doc_id) AS rep_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, rep_id,
           CASE WHEN {_bucket_sql('rep_id')} < 80 THEN 'train'
                WHEN {_bucket_sql('rep_id')} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM rep
    """
    )


@query("split_leakage_safe", oracle=_leakage_safe_oracle())
def split_leakage_safe(spark, sf_dir, target_recall: float | None = None):
    """80/10/10 deterministic hash split keyed by the near-dup cluster
    representative instead of the raw doc_id: ngram-Jaccard pairs →
    connected components (min-id representative), singletons represent
    themselves, and the split bucket is the same Knuth multiplicative
    hash as split_train_test applied to rep_id — so near-duplicates
    can NEVER straddle a split boundary (the train/test contamination
    mode raw id-hash splits have), while singleton assignment stays
    bit-identical to the plain split.

    Shape at scale: the component relation comes from the ADAPTIVE
    tier dispatch (dedup_neardup_adaptive) — the exact AllPairs prefix
    join below the shingle-saturation threshold, banded MinHash-LSH
    at/above it, where the exact tier's candidate join is the measured
    df² cliff (first measured here: the fixed exact tier put this key
    at 20× wall at 10× data on the saturated sf1 rung; the dispatch is
    the escape, same trade as dedup_ingest_adaptive). ``target_recall``
    threads to the dispatcher's recall-bounded LSH dial (None = its
    0.98 default) — the r12 emergent 17/50000 rep_id flips at sf1 are
    now governed by a stated per-pair bound. On every fixture SF the
    statistic dispatches to the exact tier, so the recursive-CTE
    oracle holds verbatim. The split itself adds one left join against
    the component relation (which carries only docs that HAVE a
    near-duplicate) and a map-side bucket expression."""
    from presto_on_ray_spark.operators.dedup import (
        _LSH_TARGET_RECALL,
        dedup_neardup_adaptive,
    )

    comp = dedup_neardup_adaptive(
        spark,
        sf_dir,
        target_recall=(
            _LSH_TARGET_RECALL if target_recall is None else target_recall
        ),
    ).select("doc_id", F.col("component_id").alias("rep"))
    d = t(spark, sf_dir, "documents").select("doc_id")
    rep = d.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("rep", F.col("doc_id")).alias("rep_id")
    )
    bucket = F.floor(_bucket_col(F.col("rep_id"))).cast("long")
    return rep.select(
        "doc_id",
        "rep_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


# -- content-defined chunking (rolling-hash boundaries) -----------------
# text_chunking slices at FIXED offsets, so inserting one word early in
# a document shifts every later chunk and changes every chunk hash —
# the classic fixed-window weakness. Content-defined chunking (the
# Rabin/CDC technique storage dedup uses; LLM pipelines use it for
# edit-stable chunk identity) cuts where a rolling hash of the local
# g-gram hits a divisor class: boundaries depend only on nearby words,
# so an edit disturbs at most its neighboring chunks and every other
# chunk keeps its identity (hash) — pinned by the locality test.

_CDC_G = 3  # words per rolling gram
_CDC_D = 16  # divisor: expected chunk length ~= _CDC_D words


def content_defined_chunks(docs, g: int = _CDC_G, d: int = _CDC_D, keep=None):
    """Chunk (doc_id, text) docs at content-defined boundaries: word
    position p (1-based) ENDS a chunk when p >= g and the portable
    60-bit hash of words[p-g+1..p] ≡ 0 (mod d); the remainder forms
    the final chunk. Returns (doc_id, chunk_id, n_words, chunk_md5)
    with chunk_id contiguous from 0 in document order.

    Shape at scale: the boundary flags are a row-local HOF array (one
    hash per word position, no corpus-window join); the only shuffle
    is the per-document prefix-sum window + the (doc, chunk) span
    aggregate, and chunk text is re-sliced from the document row —
    never carried through the explode."""
    from presto_on_ray_spark.caching import tracked_persist
    from presto_on_ray_spark.operators.sketch_ops import _portable_h60

    keep = keep or tracked_persist
    dd = keep(docs.filter(F.col("text").isNotNull()))
    arr = F.split("text", " ")
    # words bound as a lambda variable: the embedded split would
    # otherwise re-evaluate once per word position (O(words^2) text
    # work per row — the text_repetition / dedup.shingles discipline)
    flags = F.flatten(F.transform(
        F.array(arr),
        lambda ws: F.transform(
            F.sequence(F.lit(1), F.size(ws)),
            lambda p: F.when(
                (p >= g)
                & (
                    _portable_h60(F.array_join(F.slice(ws, p - g + 1, g), " "))
                    % d
                    == 0
                ),
                F.lit(1),
            ).otherwise(F.lit(0)),
        ),
    ))
    pos = dd.select("doc_id", F.posexplode(flags).alias("p0", "bnd"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("p0")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunks = pos.select(
        "doc_id",
        (F.col("p0") + 1).alias("p"),
        F.coalesce(F.sum("bnd").over(w), F.lit(0)).cast("long").alias("chunk_id"),
    )
    spans = chunks.groupBy("doc_id", "chunk_id").agg(
        F.min("p").alias("a"), F.max("p").alias("b")
    )
    return spans.join(dd, "doc_id").select(
        "doc_id",
        "chunk_id",
        (F.col("b") - F.col("a") + 1).cast("long").alias("n_words"),
        F.md5(
            F.array_join(
                F.slice(arr, F.col("a"), F.col("b") - F.col("a") + 1), " "
            )
        ).alias("chunk_md5"),
    )


def _cdc_oracle() -> str:
    from presto_on_ray_spark.operators.sketch_ops import _h60_sql

    g, d = _CDC_G, _CDC_D
    return f"""
    WITH w AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    pos AS (
      SELECT doc_id, p,
             CASE WHEN p >= {g} AND {_h60_sql("segtxt")} % {d} = 0
                  THEN 1 ELSE 0 END AS bnd
      FROM (
        SELECT doc_id, p,
               CASE WHEN p >= {g}
                    THEN ARRAY_TO_STRING(ws[(p-{g - 1}):(p)], ' ')
                    ELSE '' END AS segtxt
        FROM w, UNNEST(RANGE(1, LEN(ws) + 1)) AS t(p)
      )
    ),
    chunks AS (
      SELECT doc_id, p,
             COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
      FROM pos
    ),
    spans AS (
      SELECT doc_id, chunk_id, MIN(p) AS a, MAX(p) AS b
      FROM chunks GROUP BY 1, 2
    )
    SELECT s.doc_id, CAST(s.chunk_id AS BIGINT) AS chunk_id,
           CAST(b - a + 1 AS BIGINT) AS n_words,
           MD5(ARRAY_TO_STRING(w.ws[CAST(a AS INTEGER):CAST(b AS INTEGER)], ' '))
             AS chunk_md5
    FROM spans s JOIN w USING (doc_id)
    """


@query("text_chunking_cdc", oracle=_cdc_oracle())
def text_chunking_cdc(spark, sf_dir):
    """Content-defined chunking of the corpus (3 (= _CDC_G)-gram rolling
    hash, divisor 16 (= _CDC_D) — expected chunk ~16 (= _CDC_D) words): chunk
    boundaries depend only on local content, so document edits keep
    every untouched chunk's hash stable (the dedup-friendly property
    fixed-offset text_chunking lacks; locality pinned in
    tests/test_cdc_chunking.py). Hash-exact against a DuckDB replay
    of the whole boundary/prefix-sum/slice pipeline."""
    return content_defined_chunks(t(spark, sf_dir, "documents"))


# -- saved segment-counts lifecycle (generation flips) ------------------
# The boilerplate artifact's on-disk form. Unlike the dedup base index
# (five relations, in-place appends under a mutation window), segment
# counts are ONE vocabulary-sized relation, so every mutation can
# afford a full fresh generation + atomic pointer flip
# (store.publish_generation) with none of the append machinery: a
# crash before the flip leaves the old generation live and readable,
# the partial generation is unreferenced litter the next successful
# writer sweeps, and there is no torn-append state to diagnose at all.
# What is counts-specific is only the _BATCHES admission record.

_COUNTS_STORE = "saved segment counts"
_COUNTS_WRITING = "_COUNTS_WRITING"
_COUNTS_BATCHES = "_BATCHES"  # admitted stream-batch ids, per generation
# superseded generations each publish keeps: the predecessor, so a
# lazy reader survives one concurrent commit
_COUNTS_RETAIN = 1


def _counts_paths(path: str) -> tuple:
    """(spark_path, os_path) of a LOCAL counts-store location."""
    return store_proto.local_paths(
        path, _COUNTS_STORE,
        "the generation flip is a filesystem rename; on an object store "
        "keep counts in a transactional table format",
    )


def _counts_writer(os_path: str, force: bool):
    """The store's single-writer marker, released on every exit — the
    pointer only ever references complete generations, so no failure
    leaves anything a reader could see torn."""
    return store_proto.WriterMarker(
        os_path, _COUNTS_WRITING, _COUNTS_STORE,
        "If none is live, retry with force=True (the takeover is safe: "
        "the pointer only ever references complete generations).",
        force=force,
    )


def _publish_counts(path: str, os_path: str, counts, admitted: frozenset) -> None:
    """Publish ``counts`` as a fresh generation, with the ``admitted``
    batch record inside it when non-empty."""
    import os

    def write(gen: str) -> None:
        counts.write.mode("overwrite").parquet(f"{path}/{gen}/counts")
        if admitted:
            with open(
                os.path.join(os_path, gen, _COUNTS_BATCHES), "w",
                encoding="utf-8",
            ) as fh:
                fh.write("\n".join(str(b) for b in sorted(admitted)))

    store_proto.publish_generation(os_path, write, _COUNTS_RETAIN)


def _counts_read_batches(os_path: str, gen: str) -> frozenset:
    import os

    f = os.path.join(os_path, gen, _COUNTS_BATCHES)
    if not os.path.exists(f):
        return frozenset()
    with open(f, encoding="utf-8") as fh:
        return frozenset(int(x) for x in fh.read().split())


def save_segment_counts(
    counts, path: str, force: bool = False, reset_batches: bool = False
) -> None:
    """Save a (h, df) counts relation as a fresh generation under
    ``path`` and flip the _CURRENT pointer atomically. Single-writer
    (``_COUNTS_WRITING`` marker, released on every exit; ``force=True``
    takes over a crashed writer's). A rebuild onto a STREAM-FED store
    carries the live generation's admitted-batch record forward by
    default — dropping it would re-open the exactly-once window (a
    re-delivered batch would merge twice); pass ``reset_batches=True``
    only when the new counts deliberately start a fresh admission
    lineage."""
    path, os_path = _counts_paths(path)
    with _counts_writer(os_path, force):
        admitted: frozenset = frozenset()
        live = store_proto.current_generation(os_path)
        if not reset_batches and live is not None:
            admitted = _counts_read_batches(os_path, live)
        _publish_counts(path, os_path, counts, admitted)


class StaleSegmentCounts(ValueError):
    """The saved counts store's live generation is not the one the
    caller pinned (expect_generation) — the store was merged/saved
    since the caller last looked. Reload the generation id (or drop
    the pin) and retry; the store itself is intact."""


def counts_live_generation(path: str) -> str:
    """The live generation id of a saved counts store (the _CURRENT
    pointer's value) — the freshness token consumers pin: capture it
    when deriving anything from the store, pass it back as
    expect_generation to guard against concurrent merges (see
    governance.corpus_health_report_from_counts)."""
    _, os_path = _counts_paths(path)
    return store_proto.current_generation(os_path, _COUNTS_STORE)


def load_segment_counts(spark, path: str):
    """Read the live generation's (h, df) relation. No marker check is
    needed (the pointer flips atomically onto complete generations
    only) and readers get a ONE-mutation grace window: each commit
    keeps the immediately superseded generation on disk
    (_COUNTS_RETAIN), so a lazy plan bound here survives one
    concurrent merge/save but fails with a missing-file error if it
    outlives two — re-load for long-lived handles. (The dedup index's
    in-place appends need the stronger marker protocol; this store's
    full generations do not.)"""
    path, os_path = _counts_paths(path)
    gen = store_proto.current_generation(os_path, _COUNTS_STORE)
    return spark.read.parquet(f"{path}/{gen}/counts")


def load_segment_counts_generation(spark, path: str, generation: str):
    """Read a SPECIFIC generation's (h, df) relation, bypassing the
    live pointer. This is the TOCTOU-free read for callers that pinned
    a generation (ADVICE r13, governance.corpus_health_report_from_
    counts): checking the pointer and then re-resolving it in
    load_segment_counts leaves a window where a concurrent merge/save
    silently binds the plan to the NEW generation while the caller
    believes the pin held. Binding to the pinned directory directly is
    safe for exactly one concurrent mutation — each commit keeps the
    immediately superseded generation on disk (_COUNTS_RETAIN)."""
    path, _ = _counts_paths(path)
    return spark.read.parquet(f"{path}/{generation}/counts")


def admitted_count_batches(path: str) -> frozenset:
    """The admitted stream-batch ids recorded in the LIVE generation
    (empty for stores never fed by the streaming admit loop). The
    record travels INSIDE the generation directory, so it is published
    by the same atomic flip as the counts themselves — see
    stream_segment_counts_admit."""
    _, os_path = _counts_paths(path)
    return _counts_read_batches(
        os_path, store_proto.current_generation(os_path, _COUNTS_STORE)
    )


def merge_into_saved_segment_counts(
    spark,
    path: str,
    batch,
    w: int = _BP_W,
    force: bool = False,
    admit_batch_id: int | None = None,
) -> None:
    """Fold a new batch of (doc_id, text) documents into a saved
    counts store: load the live generation, merge (O(batch +
    artifact), disjoint-doc-ids contract — see merge_segment_counts),
    write the result as the next generation, flip. A crash anywhere
    before the flip leaves the previous generation live; there is no
    partially-merged readable state.

    ``admit_batch_id`` records a stream-batch id in the new
    generation's "_BATCHES" (= _COUNTS_BATCHES) file (carrying the old
    generation's record forward either way) — because the record is
    part of the generation, counts and the admission mark publish in
    ONE atomic flip: there is no crash window in which the merge
    applied but the admission went unrecorded (the gap the dedup
    index's in-place appends must bridge with a commit-token
    handshake)."""
    path, os_path = _counts_paths(path)
    with _counts_writer(os_path, force):
        cur = store_proto.current_generation(os_path, _COUNTS_STORE)
        admitted = _counts_read_batches(os_path, cur)
        if admit_batch_id is not None:
            admitted |= {int(admit_batch_id)}
        merged = merge_segment_counts(
            spark.read.parquet(f"{path}/{cur}/counts"), batch, w
        )
        _publish_counts(path, os_path, merged, admitted)


# -- temperature-scaled source mixing -----------------------------------
# corpus_mix_sources hits CONFIGURED proportions; multilingual /
# multi-source pretraining more often rebalances by a temperature on
# the NATURAL sizes: sampling weight ∝ count^(1/T) (T=2 → sqrt — the
# up-weight-the-tails rule in multilingual pretraining). The sqrt
# weights are snapped to integers (ROUND(SQRT(c)·10^6) — both engines
# compute the identical double, so the snap is bit-stable) and
# everything after is pure integer arithmetic: no float sums anywhere
# near a floor boundary.

_TEMP_SEED = "temp12"
_TEMP_SCALE = 1_000_000
_TEMP_TENTHS = 3  # sample 30% of corpus docs


def _temperature_oracle() -> str:
    from presto_on_ray_spark.operators.sketch_ops import _h60_sql

    h = _h60_sql(f"concat_ws('|', '{_TEMP_SEED}', doc_id)")
    return f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS c FROM documents GROUP BY source
    ),
    weighted AS (
      SELECT source, c,
             CAST(ROUND(SQRT(c) * {_TEMP_SCALE}, 0) AS BIGINT) AS s,
             SUM(CAST(ROUND(SQRT(c) * {_TEMP_SCALE}, 0) AS BIGINT)) OVER () AS tot,
             SUM(c) OVER () AS n
      FROM counts
    ),
    quota AS (
      SELECT source,
             LEAST(c, ((n * {_TEMP_TENTHS}) // 10) * s // tot) AS k
      FROM weighted
    ),
    ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY {h}, doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, source, CAST(rn AS BIGINT) AS pick_rank
    FROM ranked JOIN quota USING (source)
    WHERE rn <= k
    ORDER BY source, pick_rank
    """


@query("corpus_mix_temperature", oracle=_temperature_oracle())
def corpus_mix_temperature(spark, sf_dir):
    """Temperature-rebalanced epoch mix: per-source quota ∝ sqrt of
    the source's natural size (T=2), budget 3 (= _TEMP_TENTHS)0% of the
    corpus, capped at availability (an over-weighted tail source can
    never owe more docs than it has), membership = portable-hash rank
    within each source.

    Integer-exact end to end: the ONLY float op is one SQRT per
    source row, snapped to a scaled integer both engines compute
    bit-identically; the weight total, budget, and quotas are pure
    integer sums/divisions over the bounded per-source relation, so
    no floor ever sits on a float boundary. Selection reuses
    corpus_mix_sources' okey-bucket refinement (_pick_by_quota): no
    window partition spans more than ~1/1024 of a source."""
    return mix_temperature(t(spark, sf_dir, "documents"))


def mix_temperature(d, tenths: int = _TEMP_TENTHS, keep=None):
    """The temperature-mix body over an arbitrary (doc_id, source)
    DataFrame — see corpus_mix_temperature for the design."""
    from presto_on_ray_spark.caching import tracked_persist
    from presto_on_ray_spark.operators.sketch_ops import _portable_h60

    keep = keep or tracked_persist
    okey = _portable_h60(F.lit(_TEMP_SEED), F.col("doc_id"))
    docs = keep(d.select(
        "doc_id", "source", okey.alias("okey"),
        F.shiftright(okey, _MIX_BUCKETS_SHIFT).alias("bkt"),
    ))
    # unpartitioned windows over the ALREADY-AGGREGATED per-source
    # relation (bounded by the source count, the corpus_mix_sources
    # budget pattern) — never over documents
    wall = Window.partitionBy(F.lit(1))
    s = F.round(F.sqrt(F.col("c")) * _TEMP_SCALE, 0).cast("long")
    quota = (
        docs.groupBy("source").agg(F.count("*").alias("c"))
        .withColumn("s", s)
        .withColumn("tot", F.sum("s").over(wall))
        .withColumn("n", F.sum("c").over(wall))
        .select(
            "source",
            F.least(
                F.col("c"),
                F.expr(f"((n * {tenths}) div 10) * s div tot"),
            ).alias("k"),
        )
    )
    return _pick_by_quota(docs, quota)
