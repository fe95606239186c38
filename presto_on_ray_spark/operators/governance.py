"""Corpus governance report (SURVEY §2.11 extension): the per-source
health dashboard a training-data pipeline reviews before a run —
volume, duplication, boilerplate exposure, model-filter outcomes, and
distribution drift, in ONE relation. Composes the governance tier's
own building blocks (exact-digest dedup, aligned-segment counts, the
hashing-trick classifier, PSI drift), so the oracle is assembled from
the same CTE pieces the member keys already verify.

Every column is an exact integer or an already-exact double (the
drift key's decimal-summed PSI), so the composed report is hash-exact
with no new determinism machinery.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.operators.drift import corpus_drift_psi
from presto_on_ray_spark.operators.pipeline_prep import (
    _BP_MAX_DF,
    _BP_W,
    _segments,
    segment_counts,
)
from presto_on_ray_spark.operators.textstats import (
    classifier_score,
    demo_weights,
)
from presto_on_ray_spark.suite import query


def _gov_oracle() -> str:
    from presto_on_ray_spark.operators.drift import _PSI_TERM_SQL
    from presto_on_ray_spark.operators.pipeline_prep import _bucket_sql
    from presto_on_ray_spark.operators.sketch_ops import _h60_sql
    from presto_on_ray_spark.operators.textstats import (
        _CLF_BUCKETS,
        _CLF_WSCALE,
    )

    w, maxdf = _BP_W, _BP_MAX_DF
    return f"""
    WITH d AS (
      SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL
    ),
    vol AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                      __t -> LENGTH(__t) > 0))) AS BIGINT)
               AS total_tokens
      FROM d GROUP BY source
    ),
    dig AS (SELECT doc_id, source, MD5(text) AS dg FROM d),
    dupdig AS (
      SELECT dg FROM dig GROUP BY dg HAVING COUNT(*) > 1
    ),
    dups AS (
      SELECT source, COUNT(*) AS n_exact_dup_docs
      FROM dig JOIN dupdig USING (dg) GROUP BY source
    ),
    rawsegs AS (
      SELECT doc_id, g,
             ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[(g*{w}+1):(g*{w}+{w})], ' ')
               AS seg
      FROM d, UNNEST(RANGE(0, LEN(STRING_SPLIT(text, ' ')) // {w})) AS tt(g)
    ),
    segs AS (SELECT doc_id, {_h60_sql("seg")} AS h FROM rawsegs),
    freq AS (
      SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY 1)
      WHERE df > {maxdf}
    ),
    bp AS (
      SELECT d.source, COUNT(DISTINCT s.doc_id) AS n_boilerplate_docs
      FROM segs s JOIN freq USING (h) JOIN d ON d.doc_id = s.doc_id
      GROUP BY d.source
    ),
    terms AS (
      SELECT doc_id, term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM d
      ) x WHERE LENGTH(term) > 0
    ),
    feats AS (
      SELECT doc_id, {_h60_sql('term')} % {_CLF_BUCKETS} AS bucket,
             COUNT(*) AS tf
      FROM terms GROUP BY 1, 2
    ),
    wt AS (
      SELECT b AS bucket,
             ({_h60_sql("concat_ws('|', 'w', b)")} % {2 * _CLF_WSCALE + 1})
               - {_CLF_WSCALE} AS wnum
      FROM (SELECT UNNEST(RANGE(0, {_CLF_BUCKETS})) AS b)
    ),
    z AS (
      SELECT f.doc_id, SUM(f.tf * wt.wnum) AS zint
      FROM feats f JOIN wt USING (bucket) GROUP BY 1
    ),
    keeps AS (
      SELECT d.source, COUNT(*) FILTER (WHERE z.zint >= 0) AS n_keep
      FROM z JOIN d USING (doc_id) GROUP BY d.source
    ),
    snap AS (
      SELECT source AS grp, n_chars AS val,
             {_bucket_sql('doc_id')} < 50 AS is_ref
      FROM documents
    ),
    r AS (
      SELECT grp, val // 64 AS bin, COUNT(*) AS rc
      FROM snap WHERE is_ref GROUP BY 1, 2
    ),
    c AS (
      SELECT grp, val // 64 AS bin, COUNT(*) AS cc
      FROM snap WHERE NOT is_ref GROUP BY 1, 2
    ),
    aligned AS (
      SELECT COALESCE(r.grp, c.grp) AS grp,
             COALESCE(rc, 0) AS rc, COALESCE(cc, 0) AS cc
      FROM r FULL OUTER JOIN c ON r.grp = c.grp AND r.bin = c.bin
    ),
    pterms AS (
      SELECT grp, rc, cc,
             SUM(rc) OVER (PARTITION BY grp) AS rt,
             SUM(cc) OVER (PARTITION BY grp) AS ct,
             COUNT(*) OVER (PARTITION BY grp) AS b
      FROM aligned
    ),
    psi AS (
      SELECT grp AS source,
             CAST(SUM(CAST({_PSI_TERM_SQL} AS DECIMAL(20,6))) AS DOUBLE) AS psi
      FROM pterms GROUP BY grp
    )
    SELECT vol.source, vol.n_docs, vol.total_tokens,
           COALESCE(dups.n_exact_dup_docs, 0) AS n_exact_dup_docs,
           COALESCE(bp.n_boilerplate_docs, 0) AS n_boilerplate_docs,
           COALESCE(keeps.n_keep, 0) AS n_keep,
           psi.psi
    FROM vol
    LEFT JOIN dups USING (source)
    LEFT JOIN bp USING (source)
    LEFT JOIN keeps USING (source)
    JOIN psi USING (source)
    """


def _health_report(spark, sf_dir, counts):
    """The shared dashboard body: every component except the
    boilerplate document-frequency relation is an unavoidable per-doc
    aggregate; ``counts`` supplies that (h, df) relation — computed
    inline by corpus_health_report, read from the maintained saved
    store by corpus_health_report_from_counts."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.filter(F.split("text", " "), lambda x: F.length(x) > 0)
    vol = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("total_tokens"),
    )
    dig = d.select("doc_id", "source", F.md5("text").alias("dg"))
    dupdig = dig.groupBy("dg").agg(F.count("*").alias("k")).filter("k > 1")
    dups = (
        dig.join(dupdig.select("dg"), "dg", "left_semi")
        .groupBy("source")
        .agg(F.count("*").alias("n_exact_dup_docs"))
    )
    freq = counts.filter(F.col("df") > _BP_MAX_DF).select("h")
    bp = (
        _segments(d, _BP_W)
        .join(freq, "h", "left_semi")
        .select("doc_id")
        .distinct()
        .join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count("*").alias("n_boilerplate_docs"))
    )
    keeps = (
        classifier_score(d, demo_weights(spark))
        .join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count_if(F.col("keep")).alias("n_keep"))
    )
    psi = corpus_drift_psi(spark, sf_dir).select("source", "psi")
    return (
        vol.join(dups, "source", "left")
        .join(bp, "source", "left")
        .join(keeps, "source", "left")
        .join(psi, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.coalesce("n_exact_dup_docs", F.lit(0)).alias("n_exact_dup_docs"),
            F.coalesce("n_boilerplate_docs", F.lit(0)).alias("n_boilerplate_docs"),
            F.coalesce("n_keep", F.lit(0)).alias("n_keep"),
            "psi",
        )
    )


@query("corpus_health_report", oracle=_gov_oracle())
def corpus_health_report(spark, sf_dir):
    """Per-source governance dashboard, one row per source: document
    and token volume, exact-duplicate documents (corpus-global digest
    groups counted per source), documents carrying over-threshold
    boilerplate segments, classifier keeps, and hash-half PSI drift —
    the composed pre-run review over the governance tier's own
    verified members. The segment document frequencies are recomputed
    INLINE per run; a pipeline maintaining the saved counts store
    should use corpus_health_report_from_counts instead (VERDICT r12
    #4 — same relation when the store is fresh, by the oracle-equality
    test and the shared _health_report body).

    Shape at scale: five independent per-source aggregates (each the
    member operator's own audited shape) joined on the tiny source
    dimension; nothing here adds corpus-scale work beyond the members
    themselves."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return _health_report(spark, sf_dir, segment_counts(d, _BP_W))


def corpus_health_report_from_counts(
    spark, sf_dir, counts_path: str, expect_generation: str | None = None
):
    """The dashboard over the MAINTAINED saved counts store: identical
    relation to corpus_health_report when the store is fresh (holds
    exactly the corpus's segment_counts — oracle-equality pinned by
    test), but the corpus-wide segment document-frequency aggregate —
    the report's one index-sized term — is replaced by a read of the
    generation-flip store merge_into_saved_segment_counts maintains,
    so the incremental cost of the dashboard is O(sources) over
    maintained relations plus the unavoidable per-doc aggregates.

    ``expect_generation`` pins freshness with the store's own
    generation machinery: pass counts_live_generation(counts_path)
    captured when you last reconciled the store with the corpus, and
    this raises StaleSegmentCounts if a concurrent merge/save flipped
    the pointer since — the guard against silently reporting
    boilerplate exposure from counts that no longer describe the
    corpus being reported on. When the pin holds, the read binds to
    the PINNED generation directory directly (never re-resolving the
    live pointer — ADVICE r13's TOCTOU: a merge landing between the
    check and the read would otherwise silently bind the report to
    the new generation); the store's one-mutation reader grace window
    keeps the pinned generation on disk through one concurrent
    commit."""
    from presto_on_ray_spark.operators.pipeline_prep import (
        StaleSegmentCounts,
        counts_live_generation,
        load_segment_counts,
        load_segment_counts_generation,
    )

    if expect_generation is not None:
        live = counts_live_generation(counts_path)
        if live != expect_generation:
            raise StaleSegmentCounts(
                f"saved segment counts at {counts_path!r}: live generation "
                f"{live!r} != pinned {expect_generation!r} — the store was "
                f"merged/saved since the caller reconciled it; re-capture "
                f"counts_live_generation() (or drop the pin) and re-run"
            )
        return _health_report(
            spark,
            sf_dir,
            load_segment_counts_generation(spark, counts_path, expect_generation),
        )
    return _health_report(
        spark, sf_dir, load_segment_counts(spark, counts_path)
    )


@query("corpus_health_report_saved", oracle=_gov_oracle())
def corpus_health_report_saved(spark, sf_dir):
    """The saved-store dashboard end-to-end, hash-verified: save the
    corpus's segment counts as a fresh generation store (the lifecycle
    a real pipeline maintains incrementally via
    merge_into_saved_segment_counts), then report THROUGH the store
    with the generation pinned. Because the store is fresh, the
    relation equals corpus_health_report's, so the same composed
    oracle pins the whole read-through path — store round-trip
    included.

    The scratch store is a STABLE per-(user, corpus) location reused
    across invocations — not a fresh mkdtemp per run (ADVICE r13: as
    a registered suite key this is re-run by every bench/correctness
    pass, and per-run mkdtemps accumulated unboundedly). Re-saves
    publish new generations into the same store and the publish
    sweep (store.publish_generation, retaining _COUNTS_RETAIN = 1)
    keeps only the live generation plus its predecessor, so
    disk stays bounded at ~2 generations no matter how many times the
    key runs. force=True takes over the writer marker a killed prior
    run may have left (safe: the pointer only ever references
    complete generations, and the subsequent read is pinned)."""
    import getpass
    import hashlib
    import os
    import tempfile

    from presto_on_ray_spark.operators.pipeline_prep import (
        StaleSegmentCounts,
        counts_live_generation,
        save_segment_counts,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    tmp = os.path.join(
        tempfile.gettempdir(),
        f"por_spark_health_counts_{getpass.getuser()}_{tag}",
    )
    # the store is shared across concurrent suite runs (deliberately —
    # that's what bounds the tmp-dir population); a parallel run's
    # save landing between this save and the pinned read raises
    # StaleSegmentCounts. The key only needs A fresh round-trip, so
    # retry the save+pin once (ADVICE r14).
    for attempt in (0, 1):
        save_segment_counts(segment_counts(d, _BP_W), tmp, force=True)
        try:
            return corpus_health_report_from_counts(
                spark, sf_dir, tmp,
                expect_generation=counts_live_generation(tmp),
            )
        except StaleSegmentCounts:
            if attempt:
                raise
