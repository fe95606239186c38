"""Self-consistency invariants for the non-SQL-expressible dedup ops
(SURVEY §5.2: LSH/minhash get rows-only driver checks + these)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from presto_on_ray_spark import suite
from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.operators.dedup import exact_dedup_keep

suite.load_all()


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return t(spark, sf_dir, "documents").cache()


def test_exact_dedup_keep_removes_only_dupes(spark, sf_dir, docs):
    total = docs.count()
    deduped = exact_dedup_keep(docs, "text", "doc_id")
    n_unique = docs.select(F.md5("text")).distinct().count()
    assert deduped.count() == n_unique <= total
    # keeper is the min doc_id of its digest group
    keeper_check = (
        deduped.select(F.md5("text").alias("d"), "doc_id")
        .join(
            docs.groupBy(F.md5("text").alias("d")).agg(F.min("doc_id").alias("m")),
            "d",
        )
        .filter(F.col("doc_id") != F.col("m"))
    )
    assert keeper_check.count() == 0


def test_minhash_lsh_finds_all_exact_duplicates(spark, sf_dir, docs):
    """An exact duplicate pair has identical shingle sets → identical
    signatures → collides in every band. LSH candidates must therefore
    be a superset of exact-duplicate pairs."""
    dupes = (
        docs.alias("x")
        .join(docs.alias("y"), F.col("x.text") == F.col("y.text"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
    )
    n_dupes = dupes.count()
    candidates = suite.QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    missed = dupes.join(candidates, ["doc_a", "doc_b"], "left_anti")
    assert missed.count() == 0, f"{missed.count()}/{n_dupes} exact dupes missed by LSH"


def test_minhash_lsh_candidates_have_high_jaccard_enrichment(spark, sf_dir):
    """Candidate pairs should be enriched for true near-dups: verify a
    sample of candidates against exact 3-gram Jaccard and require the
    high-similarity fraction to beat the random-pair baseline."""
    candidates = suite.QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    exact = suite.QUERIES["dedup_ngram_jaccard"](spark, sf_dir)  # pairs with J>=0.6
    n_cand = candidates.count()
    if n_cand == 0:
        pytest.skip("no candidates at this sf")
    hits = candidates.join(exact, ["doc_a", "doc_b"], "inner").count()
    n_exact = exact.count()
    if n_exact == 0:
        pytest.skip("no true near-dup pairs at this sf")
    recall = hits / n_exact
    assert recall >= 0.8, f"LSH recall vs J>=0.6 truth too low: {recall}"


def test_simhash_identical_texts_same_hash(spark, sf_dir, docs):
    sim = suite.QUERIES["dedup_simhash"](spark, sf_dir)
    joined = (
        docs.select("doc_id", "text")
        .join(sim, "doc_id")
        .groupBy("text")
        .agg(F.countDistinct("simhash").alias("k"))
        .filter(F.col("k") > 1)
    )
    assert joined.count() == 0, "same text produced different simhashes"


def test_minhash_clusters_group_exact_duplicates(spark, sf_correct):
    """Every candidate-connected pair shares a cluster (transitive
    propagation), keepers are cluster minima, and any exact duplicates
    present land in one cluster (they collide in all LSH bands)."""
    from pyspark.sql import functions as F

    from presto_on_ray_spark.caching import release_cached
    from presto_on_ray_spark.operators.dedup import (
        dedup_minhash_clusters,
        dedup_minhash_lsh,
    )

    pairs = [(r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, sf_correct).collect()]
    clusters = {
        r.doc_id: (r.component_id, r.is_keeper)
        for r in dedup_minhash_clusters(spark, sf_correct).collect()
    }
    release_cached()
    assert pairs, "fixture should produce LSH candidate pairs"

    # connectivity: both endpoints of every candidate pair share a component
    for a, b in pairs:
        assert clusters[a][0] == clusters[b][0], (a, b)

    # keeper = min doc in its component, exactly one per component
    by_comp = {}
    for doc, (comp, _) in clusters.items():
        by_comp.setdefault(comp, []).append(doc)
    for comp, members in by_comp.items():
        assert comp == min(members)
        for doc in members:
            assert clusters[doc][1] == (doc == comp)

    # exact duplicates (when the fixture has them) always cluster together
    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    dup_groups = (
        docs.groupBy(F.md5("text").alias("d"))
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .collect()
    )
    for g in dup_groups:
        comps = {clusters[i][0] for i in g.ids if i in clusters}
        assert len(comps) <= 1, f"exact dups split across clusters: {g.ids}"


def test_lsh_candidates_cover_all_true_pairs(spark, sf_dir):
    """The oracle precondition for dedup_lsh_keepers: the 8x4 banding's
    candidate set must contain EVERY exact-Jaccard >= 0.6 pair, so that
    LSH-candidates -> exact-verify -> CC equals the exact keeper
    relation. (If a fixture or banding change ever breaks this, the
    dedup_lsh_keepers oracle would go red — this test localizes it.)"""
    exact = {
        (r.doc_a, r.doc_b)
        for r in suite.QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    cand = {
        (r.doc_a, r.doc_b)
        for r in suite.QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    missed = exact - cand
    assert not missed, f"LSH banding missed true pairs: {sorted(missed)[:10]}"


def test_lsh_keepers_equal_exact_keepers(spark, sf_dir):
    """dedup_lsh_keepers (MinHash-LSH path) and dedup_neardup_clusters
    (prefix-filtered ngram path) must produce the identical keeper
    relation — two independent algorithms, one answer."""
    lsh = {
        (r.doc_id, r.component_id, r.is_keeper)
        for r in suite.QUERIES["dedup_lsh_keepers"](spark, sf_dir).collect()
    }
    exact = {
        (r.doc_id, r.component_id, r.is_keeper)
        for r in suite.QUERIES["dedup_neardup_clusters"](spark, sf_dir).collect()
    }
    assert lsh == exact


def test_substring_windows_dup_span_semantics(spark):
    """Pin dedup_substring_windows' decisions on a synthetic corpus
    (VERDICT r8 #1c): two docs sharing an 8+-word span each get one
    duplicated window per shared position; a doc whose second half
    repeats its first half flags exactly the repeated window; docs
    shorter than W words produce ZERO windows (no row) instead of the
    r8 sequence(1,0)->slice(0) crash."""
    from presto_on_ray_spark.operators.dedup import substring_window_stats

    shared = "one two three four five six seven eight"  # exactly W=8 words
    docs = spark.createDataFrame(
        [
            (1, shared + " tail1 tail2"),           # 10 words, shared at pos 1
            (2, "head " + shared + " tail3"),        # 10 words, shared at pos 2
            (3, "a b c d e f g h a b c d e f g h"),  # internal repetition
            (4, "too short"),                        # < W words
            (5, None),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["n_windows"], r["dup_windows"])
        for r in substring_window_stats(docs, 8).collect()
    }
    # 10-word docs have 3 windows each; exactly the shared one is dup.
    assert out[1] == (3, 1)
    assert out[2] == (3, 1)
    # 16 words = 9 windows; positions 1 and 9 are the identical phrase.
    assert out[3] == (9, 2)
    # short / NULL docs: no windows -> no output row (both engines agree)
    assert 4 not in out and 5 not in out


def test_shingles_short_doc_is_empty_not_crash(spark):
    """shingles() shares the _window_starts guard: a doc shorter than n
    words has NO n-gram shingles — the unguarded sequence(1, 0) form
    descended to [1, 0] and slice(ws, 0, n) threw at runtime."""
    from presto_on_ray_spark.operators.dedup import shingles

    rows = (
        spark.createDataFrame([("ab",), ("a b",), ("a b c",)], "text string")
        .select(F.size(shingles(F.col("text"), 3)).alias("n"))
        .collect()
    )
    assert [r["n"] for r in rows] == [0, 0, 1]


def test_substring_spans_run_semantics(spark):
    """Pin dedup_substring_spans' run-length semantics: a shared 9-word
    span is a run of TWO consecutive duplicated windows (span = 9
    words); two disjoint duplicated windows are two spans; a single
    shared window is one W-word span; clean/short docs produce no row."""
    from presto_on_ray_spark.operators.dedup import substring_dup_spans

    span9 = "al be ga de ep ze et th io"  # 9 words
    shared8 = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, span9 + " x"),                       # run at pos 1-2
            (2, "w " + span9),                        # run at pos 2-3
            (3, shared8 + " t1 t2"),                  # single dup window
            (4, "h1 " + shared8 + " t3"),             # single dup window
            (5, "a b c d e f g h a b c d e f g h"),   # two disjoint runs
            (6, "unique words only here nothing repeats at all"),
            (7, "too short"),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["n_spans"], r["max_span_words"], r["dup_span_words"])
        for r in substring_dup_spans(docs, 8).collect()
    }
    assert out[1] == (1, 9, 9)
    assert out[2] == (1, 9, 9)
    assert out[3] == (1, 8, 8)
    assert out[4] == (1, 8, 8)
    # positions 1 and 9 duplicated, position gap between -> two spans
    # (word ranges [1,8] and [9,16] touch but do not overlap: 16)
    assert out[5] == (2, 8, 16)
    assert 6 not in out and 7 not in out


def test_substring_spans_coverage_is_interval_union(spark):
    """dup_span_words is TRUE word coverage, not summed span lengths:
    two runs separated by one non-duplicated window position overlap
    by w - 2 words, and the overlap must be counted once (ADVICE r9).
    Doc 1's windows at positions 1 and 3 are duplicated (in docs 2 and
    3 respectively) but position 2 is unique, so the spans cover words
    [1,8] u [3,10] = 10 words — a naive sum would report 16 (> the
    document's own 10 words)."""
    from presto_on_ray_spark.operators.dedup import substring_dup_spans

    ws = [f"w{k}" for k in range(1, 11)]  # w1..w10
    docs = spark.createDataFrame(
        [
            (1, " ".join(ws)),                                # 3 windows
            (2, " ".join(ws[:8] + ["zz1", "zz2"])),           # shares win@1
            (3, " ".join(["yy1", "yy2"] + ws[2:])),           # shares win@3
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["n_spans"], r["max_span_words"], r["dup_span_words"])
        for r in substring_dup_spans(docs, 8).collect()
    }
    assert out[1] == (2, 8, 10)  # union coverage, not 16
    assert out[2] == (1, 8, 8)
    assert out[3] == (1, 8, 8)
    # the span-list relation pins the same geometry in coordinates
    from presto_on_ray_spark.operators.dedup import _dup_positions, _dup_runs

    spans = {
        (r["doc_id"], r["a"], r["b"] + 7)
        for r in _dup_runs(_dup_positions(docs, 8)).collect()
    }
    assert spans == {(1, 1, 8), (1, 3, 10), (2, 1, 8), (3, 3, 10)}


def test_substring_keep_verdicts(spark):
    """Pin dedup_substring_keep's decisions: the verdict is
    coverage * 2 <= doc_words in integer form, so EXACTLY half
    coverage keeps; full self-repetition drops; clean and short docs
    keep with coverage 0 (and still appear in the output)."""
    from presto_on_ray_spark.operators.dedup import substring_keep_verdicts

    shared = "one two three four five six seven eight"  # 8 words
    docs = spark.createDataFrame(
        [
            (1, shared + " t1 t2 t3 t4 t5 t6 t7 t8"),   # 16 words, cov 8 = half
            (2, shared + " u1"),                         # 9 words, cov 8 > half
            (3, "a b c d e f g h a b c d e f g h"),      # cov 16 = all -> drop
            (4, "clean words that appear nowhere else at all"),
            (5, "too short"),
            (6, None),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["doc_words"], r["dup_span_words"], r["keep"])
        for r in substring_keep_verdicts(docs, 8).collect()
    }
    assert out[1] == (16, 8, True)   # boundary: exactly half keeps
    assert out[2] == (9, 8, False)
    assert out[3] == (16, 16, False)
    assert out[4] == (8, 0, True)
    assert out[5] == (2, 0, True)
    assert 6 not in out


def test_substring_cut_semantics(spark):
    """Pin dedup_substring_cut: covered word positions are removed and
    the remainder re-joined in order; a fully-covered doc yields ''
    (a row, not a missing doc); clean/short docs pass through
    unchanged; overlapping spans cut their union once."""
    from presto_on_ray_spark.operators.dedup import substring_cut

    shared = "one two three four five six seven eight"
    ws = [f"w{k}" for k in range(1, 11)]  # w1..w10
    docs = spark.createDataFrame(
        [
            (1, shared + " t1 t2"),                     # cut words 1-8
            (2, "h1 " + shared + " t3"),                # cut words 2-9
            (3, "a b c d e f g h a b c d e f g h"),     # fully covered
            (4, "clean words that appear nowhere else at all"),
            (5, "too short"),
            # overlap: spans [1,8] and [3,10] cut words 1-10 once
            (6, " ".join(ws)),
            (7, " ".join(ws[:8] + ["zz1", "zz2"])),     # shares win@1
            (8, " ".join(["yy1", "yy2"] + ws[2:])),     # shares win@3
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r["clean_text"] for r in substring_cut(docs, 8).collect()}
    assert out[1] == "t1 t2"
    assert out[2] == "h1 t3"
    assert out[3] == ""
    assert out[4] == "clean words that appear nowhere else at all"
    assert out[5] == "too short"
    assert out[6] == ""                   # union of [1,8] and [3,10]
    assert out[7] == "zz1 zz2"
    assert out[8] == "yy1 yy2"


def test_incremental_ingest_all_three_statuses(spark):
    """Pin the tier semantics of dedup_incremental_ingest on a
    synthetic base/batch: exact digest match wins over near, near
    requires 3-gram Jaccard >= 3/5 against the BASE only, and batch
    docs never match each other (the incremental contract)."""
    from presto_on_ray_spark.operators.dedup import incremental_ingest_status

    ten = "a b c d e f g h i j"
    base = spark.createDataFrame(
        [
            (1, ten),
            (2, ten),                       # second exact copy in base
            (3, "p q r s t u v w x y"),
            (4, "completely different base words here padding more"),
        ],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, ten),                       # exact: matches docs 1+2
            (20, "a b c d e f g h i k"),     # near: J = 7/9 vs docs 1,2
            (30, "nothing like any base doc at all truly"),  # new
            (40, "zz yy xx ww vv uu tt ss"),                 # new
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["status"], r["n_base_matches"])
        for r in incremental_ingest_status(batch, base).collect()
    }
    assert out[10] == ("exact", 2)
    assert out[20] == ("near", 2)
    assert out[30] == ("new", 0)
    assert out[40] == ("new", 0)


def test_incremental_ingest_index_reuse_equals_recompute(spark):
    """The two-phase API (build_base_index once, ingest_batch per
    batch) must classify every batch exactly as a from-scratch
    recompute does — the persisted index changes candidate
    generation order, never the exact-verified result (VERDICT r9
    #4). Two different batches are ingested against ONE prebuilt
    index and compared to fresh one-shot runs."""
    from presto_on_ray_spark.operators.dedup import (
        build_base_index,
        incremental_ingest_status,
        ingest_batch,
    )

    ten = "a b c d e f g h i j"
    base = spark.createDataFrame(
        [
            (1, ten),
            (2, "p q r s t u v w x y"),
            (3, "completely different base words here padding more"),
        ],
        "doc_id int, text string",
    )
    batch_a = spark.createDataFrame(
        [(10, ten), (20, "a b c d e f g h i k"), (30, "all fresh tokens one")],
        "doc_id int, text string",
    )
    batch_b = spark.createDataFrame(
        [(50, "p q r s t u v w x y"), (60, "zz yy xx ww vv uu tt ss")],
        "doc_id int, text string",
    )
    from presto_on_ray_spark.caching import release_cached

    # the fresh-recompute comparison runs over an equal-rows TWIN of
    # base: Spark's CacheManager keys cache entries by canonicalized
    # plan, so a tracked recompute over the very same base DataFrame
    # would alias the caller-owned index's cache entries and
    # release_cached() would clobber them.
    base_twin = spark.createDataFrame(base.collect(), base.schema)

    # tracked=False: the index is caller-owned and survives the
    # release_cached() every query/bench iteration performs — the
    # cross-query reuse the two-phase API exists for.
    idx = build_base_index(base, tracked=False)
    try:
        for batch in (batch_a, batch_b):
            reused = {
                r["doc_id"]: (r["status"], r["n_base_matches"])
                for r in ingest_batch(batch, idx).collect()
            }
            fresh = {
                r["doc_id"]: (r["status"], r["n_base_matches"])
                for r in incremental_ingest_status(batch, base_twin).collect()
            }
            assert reused == fresh
            release_cached()  # must not unpersist the caller-owned index
            assert idx.prefix.storageLevel.useMemory
    finally:
        idx.release()
    assert not idx.prefix.storageLevel.useMemory
    # sanity: the shared index produced real classifications
    assert reused[50] == ("exact", 1) and reused[60] == ("new", 0)


def test_base_index_parquet_round_trip(spark, tmp_path):
    """save_base_index/load_base_index: a parquet-materialized index
    (the 100 TB production form) classifies a batch exactly as the
    in-session index it was saved from."""
    from presto_on_ray_spark.operators.dedup import (
        build_base_index,
        ingest_batch,
        load_base_index,
        save_base_index,
    )

    ten = "a b c d e f g h i j"
    base = spark.createDataFrame(
        [(1, ten), (2, "p q r s t u v w x y")], "doc_id int, text string"
    )
    batch = spark.createDataFrame(
        [(10, ten), (20, "a b c d e f g h i k"), (30, "all new words here")],
        "doc_id int, text string",
    )
    idx = build_base_index(base, tracked=False)
    try:
        save_base_index(idx, str(tmp_path / "bidx"))
        live = {
            r["doc_id"]: (r["status"], r["n_base_matches"])
            for r in ingest_batch(batch, idx).collect()
        }
    finally:
        idx.release()
    loaded = load_base_index(spark, str(tmp_path / "bidx"))
    reloaded = {
        r["doc_id"]: (r["status"], r["n_base_matches"])
        for r in ingest_batch(batch, loaded).collect()
    }
    assert reloaded == live
    assert reloaded[10] == ("exact", 1)
    assert reloaded[20] == ("near", 1)
    assert reloaded[30] == ("new", 0)


def _merge_fixture(spark):
    ten = "a b c d e f g h i j"
    base = spark.createDataFrame(
        [
            (1, ten),
            (2, "p q r s t u v w x y"),
            (3, "unrelated filler words sit here still"),
        ],
        "doc_id int, text string",
    )
    admitted = spark.createDataFrame(
        [
            # shares shingles with doc 1 -> df drift reorders doc 1's ranks
            (4, "a b c d e f zz ww vv uu"),
            (5, "brand new admitted content entirely"),
            (6, None),  # null text: excluded by the ingest contract
        ],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, ten),  # exact vs original base doc 1
            (20, "a b c d e f zz ww vv uu"),  # exact vs ADMITTED doc 4
            (30, "a b c d e f zz ww vv qq"),  # near vs admitted doc 4 (c=7: 8*7 >= 3*16)
            (40, "all fresh tokens only here"),  # new
        ],
        "doc_id int, text string",
    )
    return ten, base, admitted, batch


def test_merge_into_base_index_equals_rebuild(spark):
    """classify-after-merge == classify-after-rebuild (VERDICT r10 #1)
    — and stronger: with the strict re-rank policy the merged index is
    RELATION-FOR-RELATION multiset-equal to a from-scratch rebuild
    over base + admitted, so the AllPairs prefix guarantee is intact
    by construction, not by luck of candidate generation."""
    from presto_on_ray_spark.operators.dedup import (
        BaseIndex,
        build_base_index,
        ingest_batch,
        merge_into_base_index,
    )

    ten, base, admitted, batch = _merge_fixture(spark)
    # rebuild runs over a fresh TWIN of base+admitted rows: the
    # CacheManager keys cache entries by canonicalized plan, so a
    # rebuild over the same frames could alias the merged index's
    # entries (round-10 playbook trap).
    full_rows = base.collect() + [r for r in admitted.collect() if r["text"]]
    full_twin = spark.createDataFrame(full_rows, base.schema)

    idx = build_base_index(base, tracked=False)
    merged = merge_into_base_index(idx, admitted, tracked=False, eager=True)
    rebuilt = build_base_index(full_twin, tracked=False)
    try:
        for name in BaseIndex._fields:
            got = sorted(map(tuple, getattr(merged, name).collect()))
            want = sorted(map(tuple, getattr(rebuilt, name).collect()))
            assert got == want, f"merged.{name} != rebuilt.{name}"
        via_merge = {
            r["doc_id"]: (r["status"], r["n_base_matches"])
            for r in ingest_batch(batch, merged).collect()
        }
        via_rebuild = {
            r["doc_id"]: (r["status"], r["n_base_matches"])
            for r in ingest_batch(batch, rebuilt).collect()
        }
    finally:
        for i in (idx, merged, rebuilt):
            i.release()
    assert via_merge == via_rebuild
    assert via_merge[10] == ("exact", 1)
    assert via_merge[20] == ("exact", 1)  # matches a doc admitted by merge
    assert via_merge[30] == ("near", 1)  # near tier sees admitted docs
    assert via_merge[40] == ("new", 0)


def test_merge_stale_mode_contract(spark):
    """rerank=False: O(batch) maintenance that appends the new docs'
    prefix rows and leaves every base prefix row untouched (the
    documented staleness trade). The exact tier — digest join, no
    ranks — must classify identically to the strict merge."""
    from presto_on_ray_spark.operators.dedup import (
        build_base_index,
        ingest_batch,
        merge_into_base_index,
    )

    ten, base, admitted, batch = _merge_fixture(spark)
    idx = build_base_index(base, tracked=False)
    stale = merge_into_base_index(
        idx, admitted, tracked=False, rerank=False, eager=True
    )
    try:
        old_prefix = sorted(map(tuple, idx.prefix.collect()))
        stale_base_prefix = sorted(
            map(tuple, stale.prefix.filter(F.col("doc_id") <= 3).collect())
        )
        assert stale_base_prefix == old_prefix  # append-only: base rows as built
        # admitted (non-null) docs did get prefix rows under the merged df
        new_pref_docs = {
            r["doc_id"]
            for r in stale.prefix.filter(F.col("doc_id") > 3).collect()
        }
        assert new_pref_docs == {4, 5}
        got = {
            r["doc_id"]: (r["status"], r["n_base_matches"])
            for r in ingest_batch(batch, stale).collect()
        }
    finally:
        idx.release()
        stale.release()
    # exact tier is rank-free: both exact rows classify exactly
    assert got[10] == ("exact", 1)
    assert got[20] == ("exact", 1)
    assert got[40] == ("new", 0)


def test_delta_prefix_equals_wholesale_rerank(spark):
    """The shared _delta_prefix (r16: now also the saved-path strict
    merge's prefix generation) is row-for-row multiset-equal to the
    wholesale _ranked_prefix over ALL merged shingles — including the
    untouched branch: base docs sharing no shingle with the batch
    (fixture docs 2 and 3) keep their saved prefix rows verbatim."""
    from pyspark.sql import functions as SF

    from presto_on_ray_spark.operators.dedup import (
        _INGEST_T_DEN,
        _INGEST_T_NUM,
        _delta_prefix,
        _merged_aggregates,
        _ranked_prefix,
        build_base_index,
        shingles,
    )

    ten, base, admitted, batch = _merge_fixture(spark)
    admitted = admitted.filter(SF.col("text").isNotNull())
    idx = build_base_index(base, tracked=False)
    try:
        new_sho = admitted.select(
            "doc_id", SF.explode(shingles(SF.col("text"))).alias("sh")
        )
        _, df_rel, df_delta = _merged_aggregates(idx, admitted, new_sho)
        got = sorted(
            map(
                tuple,
                _delta_prefix(
                    idx, new_sho, df_delta, df_rel, _INGEST_T_NUM, _INGEST_T_DEN
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                _ranked_prefix(
                    idx.shingles.unionByName(new_sho),
                    df_rel,
                    _INGEST_T_NUM,
                    _INGEST_T_DEN,
                ).collect(),
            )
        )
        assert got == want
        # the untouched branch is genuinely exercised: docs 2 and 3
        # share no shingle with the batch
        affected = {
            r["doc_id"]
            for r in idx.shingles.join(
                df_delta.select("sh"), "sh", "left_semi"
            )
            .select("doc_id")
            .distinct()
            .collect()
        }
        assert affected == {1}
    finally:
        idx.release()


def test_merge_into_saved_index_strict_equals_rebuild(spark, tmp_path):
    """The parquet-backed merge (the production form): after
    merge_into_saved_index the on-disk index is relation-for-relation
    multiset-equal to save(build(base + admitted)), and classifies the
    next batch identically — while the per-doc relations were
    APPENDED (the base's original parquet files are still present,
    byte-for-byte untouched)."""
    import os

    from presto_on_ray_spark.operators.dedup import (
        BaseIndex,
        build_base_index,
        ingest_batch,
        load_base_index,
        merge_into_saved_index,
        save_base_index,
    )

    ten, base, admitted, batch = _merge_fixture(spark)
    p = str(tmp_path / "bidx")
    idx = build_base_index(base, tracked=False)
    save_base_index(idx, p)
    idx.release()

    def parquet_files(rel):
        d = os.path.join(p, rel)
        return {f for f in os.listdir(d) if f.endswith(".parquet")}

    before = {rel: parquet_files(rel) for rel in ("shingles", "counts")}
    merge_into_saved_index(spark, p, admitted)
    for rel, files in before.items():
        assert files <= parquet_files(rel), f"{rel} base files were rewritten"

    full_rows = base.collect() + [r for r in admitted.collect() if r["text"]]
    rebuilt = build_base_index(
        spark.createDataFrame(full_rows, base.schema), tracked=False
    )
    merged = load_base_index(spark, p)
    try:
        for name in BaseIndex._fields:
            got = sorted(map(tuple, getattr(merged, name).collect()))
            want = sorted(map(tuple, getattr(rebuilt, name).collect()))
            assert got == want, f"saved-merged.{name} != rebuilt.{name}"
        via_merge = {
            r["doc_id"]: (r["status"], r["n_base_matches"])
            for r in ingest_batch(batch, merged).collect()
        }
        via_rebuild = {
            r["doc_id"]: (r["status"], r["n_base_matches"])
            for r in ingest_batch(batch, rebuilt).collect()
        }
    finally:
        rebuilt.release()
    assert via_merge == via_rebuild
    assert via_merge[20] == ("exact", 1) and via_merge[30] == ("near", 1)


def test_merge_into_saved_index_stale_appends_prefix(spark, tmp_path):
    """rerank=False on the saved index: O(batch) I/O — shingles,
    counts, AND prefix are appends (base prefix files untouched);
    only the two small aggregate relations get a new generation. The
    exact tier classifies identically to strict."""
    from presto_on_ray_spark.operators.dedup import (
        build_base_index,
        ingest_batch,
        load_base_index,
        merge_into_saved_index,
        save_base_index,
    )

    ten, base, admitted, batch = _merge_fixture(spark)
    p = str(tmp_path / "bidx")
    idx = build_base_index(base, tracked=False)
    save_base_index(idx, p)
    old_prefix = sorted(map(tuple, idx.prefix.collect()))
    idx.release()

    import os

    pref_before = {
        f for f in os.listdir(os.path.join(p, "prefix")) if f.endswith(".parquet")
    }
    merge_into_saved_index(spark, p, admitted, rerank=False)
    pref_after = {
        f for f in os.listdir(os.path.join(p, "prefix")) if f.endswith(".parquet")
    }
    assert pref_before <= pref_after  # stale prefix is append-only

    merged = load_base_index(spark, p)
    stale_base_prefix = sorted(
        map(tuple, merged.prefix.filter(F.col("doc_id") <= 3).collect())
    )
    assert stale_base_prefix == old_prefix
    got = {
        r["doc_id"]: (r["status"], r["n_base_matches"])
        for r in ingest_batch(batch, merged).collect()
    }
    assert got[10] == ("exact", 1)
    assert got[20] == ("exact", 1)  # exact tier sees admitted docs
    assert got[40] == ("new", 0)


def test_strict_merge_after_stale_copies_drift_forward(spark, tmp_path):
    """A strict merge re-ranks only the docs sharing a shingle with
    ITS batch (_delta_prefix), so prefix drift an earlier rerank=False
    merge left on any other doc is copied forward unchanged — the
    strict merge does not repair it. compact_saved_index is the cure:
    afterwards the index equals build_base_index relation by
    relation."""
    from presto_on_ray_spark.operators.dedup import (
        BaseIndex,
        build_base_index,
        compact_saved_index,
        load_base_index,
        merge_into_saved_index,
        save_base_index,
    )

    ten, base, admitted, batch = _merge_fixture(spark)
    p = str(tmp_path / "bidx")
    idx = build_base_index(base, tracked=False)
    save_base_index(idx, p)
    idx.release()
    merge_into_saved_index(spark, p, admitted, rerank=False)
    stale = sorted(map(tuple, load_base_index(spark, p).prefix.collect()))

    # doc 8 shares shingles with base doc 2 only; docs 1, 3, 4 and 5
    # share none with it
    second = spark.createDataFrame(
        [(8, "p q r s t fresh words appear here now")],
        "doc_id int, text string",
    )
    merge_into_saved_index(spark, p, second)
    strict = sorted(map(tuple, load_base_index(spark, p).prefix.collect()))
    untouched = {1, 3, 4, 5}

    def rows_of(rows):
        return [r for r in rows if r[0] in untouched]

    assert rows_of(strict) == rows_of(stale)

    full_rows = (
        base.collect()
        + [r for r in admitted.collect() if r["text"]]
        + second.collect()
    )
    rebuilt = build_base_index(
        spark.createDataFrame(full_rows, base.schema), tracked=False
    )
    try:
        want_prefix = sorted(map(tuple, rebuilt.prefix.collect()))
        # the stale merge's drift survived the strict merge
        assert rows_of(strict) != rows_of(want_prefix)
        compact_saved_index(spark, p)
        compacted = load_base_index(spark, p)
        for name in BaseIndex._fields:
            got = sorted(map(tuple, getattr(compacted, name).collect()))
            want = sorted(map(tuple, getattr(rebuilt, name).collect()))
            assert got == want, f"compacted.{name} != rebuilt.{name}"
    finally:
        rebuilt.release()


def test_merge_guards_fail_loud(spark, tmp_path):
    """The corruption paths a production admit loop can actually hit
    must error, never silently double-count: re-admitting doc_ids
    already in the index (at-least-once re-delivery), resuming over a
    crashed merge's leftover generation directories, and pointing the
    rename-based saved merge at a non-local URI."""
    import os

    from presto_on_ray_spark.operators.dedup import (
        build_base_index,
        load_base_index,
        merge_into_base_index,
        merge_into_saved_index,
        save_base_index,
    )

    ten, base, admitted, batch = _merge_fixture(spark)
    idx = build_base_index(base, tracked=False)
    try:
        # in-session: admit a doc_id the index already holds
        with pytest.raises(ValueError, match="already present"):
            merge_into_base_index(
                idx,
                spark.createDataFrame([(1, "a b c d e")], "doc_id int, text string"),
                tracked=False,
            )
        p = str(tmp_path / "bidx")
        save_base_index(idx, p)
    finally:
        idx.release()

    merge_into_saved_index(spark, p, admitted)
    # re-delivery of the same batch: loud, not double-counted
    with pytest.raises(ValueError, match="already present"):
        merge_into_saved_index(spark, p, admitted)
    # the first merge really landed (and only once)
    merged = load_base_index(spark, p)
    assert merged.counts.filter(F.col("doc_id") == 4).count() == 1

    # crash/concurrency markers: __old without a mutation marker =
    # tampered/pre-protocol state (rebuild); a held _MERGE_INPROGRESS
    # lock = concurrent merge or pre-mutation crash (index intact,
    # loud, does not block readers); _MERGE_MUTATING = mid-mutation
    # crash (rebuild; load refuses too)
    probe = spark.createDataFrame([(99, "x y z w v")], "doc_id int, text string")
    os.makedirs(os.path.join(p, "digests__old"))
    with pytest.raises(ValueError, match="rebuild"):
        merge_into_saved_index(spark, p, probe)
    os.rmdir(os.path.join(p, "digests__old"))
    # the aborted merge released its lock and left no __new litter
    assert not os.path.exists(os.path.join(p, "_MERGE_INPROGRESS"))

    with open(os.path.join(p, "_MERGE_INPROGRESS"), "w") as fh:
        fh.write("x\n")
    with pytest.raises(ValueError, match="intact"):
        merge_into_saved_index(spark, p, probe)
    load_base_index(spark, p)  # the lock alone does not block readers
    os.remove(os.path.join(p, "_MERGE_INPROGRESS"))

    with open(os.path.join(p, "_MERGE_MUTATING"), "w") as fh:
        fh.write("x\n")
    with pytest.raises(ValueError, match="rebuild"):
        merge_into_saved_index(spark, p, probe)
    with pytest.raises(ValueError, match="inconsistent"):
        load_base_index(spark, p)
    # a save over merge markers refuses by default (the markers may be
    # a LIVE merge — racing it would silently interleave writes)...
    idx2 = build_base_index(base, tracked=False)
    with pytest.raises(ValueError, match="force=True"):
        save_base_index(idx2, p)
    assert os.path.exists(os.path.join(p, "_MERGE_MUTATING"))
    # ...and with force=True it IS the prescribed rebuild recovery
    save_base_index(idx2, p, force=True)
    idx2.release()
    assert not os.path.exists(os.path.join(p, "_MERGE_MUTATING"))
    assert not os.path.exists(os.path.join(p, "_MERGE_INPROGRESS"))
    load_base_index(spark, p)  # no longer refuses

    # a stale __new generation from an aborted pre-protocol merge is
    # consumed under the lock, not an error
    os.makedirs(os.path.join(p, "prefix__new"))
    merge_into_saved_index(spark, p, probe)
    assert (
        load_base_index(spark, p).counts.filter(F.col("doc_id") == 99).count()
        == 1
    )

    with pytest.raises(ValueError, match="not a local path"):
        merge_into_saved_index(
            spark,
            "hdfs://nn/bidx",
            spark.createDataFrame([(99, "x y z w v")], "doc_id int, text string"),
        )

    # '?'/'#' are literal path bytes to Hadoop but URI separators to
    # urlparse; silently truncating would redirect the whole index
    with pytest.raises(ValueError, match="plain path"):
        merge_into_saved_index(
            spark,
            "file:" + p + "#frag",
            spark.createDataFrame([(99, "x y z w v")], "doc_id int, text string"),
        )

    # a doc_id duplicated WITHIN the admit batch is the same
    # double-count corruption as re-delivery — loud, not silent
    with pytest.raises(ValueError, match="more than once"):
        merge_into_saved_index(
            spark,
            p,
            spark.createDataFrame(
                [(101, "q r s t u"), (101, "q r s t u")], "doc_id int, text string"
            ),
        )


def test_merge_saved_file_uri_and_crash_detection(spark, tmp_path):
    """Two review regressions pinned: (1) Spark's single-slash
    'file:/...' URI form must work end-to-end (string-prefix slicing
    left the os-level marker guard and swap pointed at a literal
    'file:...' path — the guard silently no-opped, then the swap
    crashed AFTER the appends mutated the index); (2) an index left
    half-appended by a crash (counts rows without shingle rows) is
    detected and steered to a rebuild, not to the 'dedupe your admit
    set' remediation that would orphan those docs forever."""
    from presto_on_ray_spark.operators.dedup import (
        build_base_index,
        load_base_index,
        merge_into_saved_index,
        save_base_index,
    )

    ten, base, admitted, batch = _merge_fixture(spark)
    p = str(tmp_path / "bidx")
    idx = build_base_index(base, tracked=False)
    save_base_index(idx, p)
    idx.release()

    # (1) the file:/ single-slash form, through the whole merge
    merge_into_saved_index(spark, "file:" + p, admitted)
    merged = load_base_index(spark, p)
    assert merged.counts.filter(F.col("doc_id") == 4).count() == 1
    # and the guard still fires through the URI form (marker check +
    # re-admission both resolve the real directory) — including the
    # file://localhost authority spelling, which must be normalized
    # for Spark too (Hadoop rejects it verbatim with 'Wrong FS')
    with pytest.raises(ValueError, match="already present"):
        merge_into_saved_index(spark, "file:" + p, admitted)
    with pytest.raises(ValueError, match="already present"):
        merge_into_saved_index(spark, "file://localhost" + p, admitted)

    # (1b) NO percent-decoding anywhere: Hadoop treats %XX in a file:
    # URI literally, so a directory literally named 'a%20b' must be
    # the one both Spark and the os-level guards operate on
    lit = str(tmp_path / "a%20b" / "bidx")
    idx2 = build_base_index(base, tracked=False)
    save_base_index(idx2, lit)
    idx2.release()
    merge_into_saved_index(spark, "file:" + lit, admitted)
    assert load_base_index(spark, lit).counts.filter(
        F.col("doc_id") == 4
    ).count() == 1

    # (2) simulate a crash between the counts and shingles appends
    import os

    spark.createDataFrame([(777, 3)], "doc_id int, n_o long").write.mode(
        "append"
    ).parquet(os.path.join(p, "counts"))
    with pytest.raises(ValueError, match="rebuild"):
        merge_into_saved_index(
            spark,
            p,
            spark.createDataFrame([(777, "x y z w v")], "doc_id int, text string"),
        )


def test_merge_check_false_skips_guard(spark):
    """check=False really skips the guard: an admit set the guard
    would REJECT (intra-batch duplicate doc_id) merges without error —
    proving the parameter isn't silently ignored — and a legit merge
    still classifies correctly."""
    from presto_on_ray_spark.operators.dedup import (
        build_base_index,
        ingest_batch,
        merge_into_base_index,
    )

    ten, base, admitted, batch = _merge_fixture(spark)
    idx = build_base_index(base, tracked=False)
    # guard-rejected shape, check=False: no ValueError (caller owns it)
    dup_batch = spark.createDataFrame(
        [(98, "k l m n o"), (98, "k l m n o")], "doc_id int, text string"
    )
    skipped = merge_into_base_index(idx, dup_batch, tracked=False, check=False)
    skipped.release()

    merged = merge_into_base_index(idx, admitted, tracked=False, check=False)
    try:
        got = {
            r["doc_id"]: r["status"]
            for r in ingest_batch(batch, merged).collect()
        }
    finally:
        idx.release()
        merged.release()
    assert got[20] == "exact" and got[40] == "new"


def test_merge_eager_survives_old_index_release(spark):
    """The admit-loop lifecycle: eager=True materializes the merged
    generation so the OLD index can be released immediately, and a
    later batch still classifies correctly against the merged index
    (no dependence on the dropped generation's cache entries)."""
    from presto_on_ray_spark.operators.dedup import (
        build_base_index,
        ingest_batch,
        merge_into_base_index,
    )

    ten, base, admitted, batch = _merge_fixture(spark)
    idx = build_base_index(base, tracked=False)
    merged = merge_into_base_index(idx, admitted, tracked=False, eager=True)
    idx.release()  # old generation dropped before the next batch arrives
    try:
        assert merged.prefix.storageLevel.useMemory
        got = {
            r["doc_id"]: (r["status"], r["n_base_matches"])
            for r in ingest_batch(batch, merged).collect()
        }
    finally:
        merged.release()
    assert got == {
        10: ("exact", 1),
        20: ("exact", 1),
        30: ("near", 1),
        40: ("new", 0),
    }


def test_compact_saved_index_equals_rebuild(spark, tmp_path):
    """compact_saved_index after STALE merges: the compacted on-disk
    index is relation-for-relation multiset-equal to
    save(build(base + everything admitted)) — the prefix drift the
    stale policy accumulated is provably present beforehand and cured
    exactly — and the maintenance markers / generation directories
    are all gone afterwards."""
    import os

    from presto_on_ray_spark.operators.dedup import (
        BaseIndex,
        build_base_index,
        compact_saved_index,
        ingest_batch,
        load_base_index,
        merge_into_saved_index,
        save_base_index,
    )

    ten, base, admitted, batch = _merge_fixture(spark)
    p = str(tmp_path / "bidx")
    idx = build_base_index(base, tracked=False)
    save_base_index(idx, p)
    idx.release()
    # two stale admissions: appended small files + base-prefix drift
    merge_into_saved_index(spark, p, admitted, rerank=False)
    extra = spark.createDataFrame(
        [(7, "a b c d qq ww ee rr tt yy")], "doc_id int, text string"
    )
    merge_into_saved_index(spark, p, extra, rerank=False)

    full_rows = (
        base.collect()
        + [r for r in admitted.collect() if r["text"]]
        + extra.collect()
    )
    rebuilt = build_base_index(
        spark.createDataFrame(full_rows, base.schema), tracked=False
    )
    try:
        want_prefix = sorted(map(tuple, rebuilt.prefix.collect()))
        stale_prefix = sorted(
            map(tuple, load_base_index(spark, p).prefix.collect())
        )
        assert stale_prefix != want_prefix  # there IS drift to cure

        compact_saved_index(spark, p)
        for name in BaseIndex._fields:
            assert not os.path.exists(os.path.join(p, name + "__new"))
            assert not os.path.exists(os.path.join(p, name + "__old"))
        assert not os.path.exists(os.path.join(p, "_MERGE_INPROGRESS"))
        assert not os.path.exists(os.path.join(p, "_MERGE_MUTATING"))

        compacted = load_base_index(spark, p)
        for name in BaseIndex._fields:
            got = sorted(map(tuple, getattr(compacted, name).collect()))
            want = sorted(map(tuple, getattr(rebuilt, name).collect()))
            assert got == want, f"compacted.{name} != rebuilt.{name}"
        via_c = {
            r["doc_id"]: (r["status"], r["n_base_matches"])
            for r in ingest_batch(batch, compacted).collect()
        }
        via_r = {
            r["doc_id"]: (r["status"], r["n_base_matches"])
            for r in ingest_batch(batch, rebuilt).collect()
        }
    finally:
        rebuilt.release()
    assert via_c == via_r
    assert via_c[30] == ("near", 1)

    # compaction respects the writer protocol: a held lock refuses it
    with open(os.path.join(p, "_MERGE_INPROGRESS"), "w") as fh:
        fh.write("x\n")
    with pytest.raises(ValueError, match="intact"):
        compact_saved_index(spark, p)
    os.remove(os.path.join(p, "_MERGE_INPROGRESS"))
    compact_saved_index(spark, p)  # idempotent: compacting twice is fine
    again = load_base_index(spark, p)
    assert sorted(map(tuple, again.prefix.collect())) == want_prefix


def test_merge_commit_token_exactly_once(spark, tmp_path):
    """commit_token: the admission receipt is created inside the
    mutation window AFTER the swap, so token-present == fully
    admitted. A duplicate token (caller failed to skip a committed
    delivery) raises loudly, but the index is CONSISTENT at that
    point — the swap applied — so the protocol releases its markers
    instead of demanding an O(corpus) rebuild for a bookkeeping
    fault: the admission stands, readers keep working, and a replay
    of the colliding delivery is skipped by the pre-existing token."""
    import os

    from presto_on_ray_spark.operators.dedup import (
        build_base_index,
        load_base_index,
        merge_into_saved_index,
        save_base_index,
    )

    ten, base, admitted, batch = _merge_fixture(spark)
    p = str(tmp_path / "bidx")
    idx = build_base_index(base, tracked=False)
    save_base_index(idx, p)
    idx.release()

    token = os.path.join(p, "_ADMITTED", "batch-0")
    merge_into_saved_index(spark, p, admitted, commit_token=token)
    assert os.path.exists(token)
    assert not os.path.exists(os.path.join(p, "_MERGE_INPROGRESS"))
    assert not os.path.exists(os.path.join(p, "_MERGE_MUTATING"))
    assert load_base_index(spark, p).counts.filter(
        F.col("doc_id") == 4
    ).count() == 1

    extra = spark.createDataFrame(
        [(8, "entirely different things here now")], "doc_id int, text string"
    )
    with pytest.raises(ValueError, match="already exists"):
        merge_into_saved_index(spark, p, extra, commit_token=token)
    # markers released, admission applied, index loadable
    assert not os.path.exists(os.path.join(p, "_MERGE_MUTATING"))
    assert not os.path.exists(os.path.join(p, "_MERGE_INPROGRESS"))
    merged = load_base_index(spark, p)
    assert merged.counts.filter(F.col("doc_id") == 8).count() == 1
    # and the writer lock is genuinely free: the next admission works
    merge_into_saved_index(
        spark,
        p,
        spark.createDataFrame(
            [(9, "yet more novel words arrive")], "doc_id int, text string"
        ),
        commit_token=os.path.join(p, "_ADMITTED", "batch-1"),
    )
    assert load_base_index(spark, p).counts.filter(
        F.col("doc_id") == 9
    ).count() == 1

    # tokens SURVIVE the prescribed rebuild recovery (save_base_index
    # clears markers and generations, never the admission log): after
    # a crash-demanded rebuild, replay-skip correctness still depends
    # on committed batches staying committed
    idx2 = build_base_index(base, tracked=False)
    save_base_index(idx2, p)
    idx2.release()
    assert os.path.exists(token)
    assert os.path.exists(os.path.join(p, "_ADMITTED", "batch-1"))
    load_base_index(spark, p)


def test_ingest_lsh_tier_equals_prefix_tier(spark, sf_dir):
    """The oracle precondition for dedup_ingest_adaptive (the ingest
    twin of test_lsh_candidates_cover_all_true_pairs): on the fixture
    corpus the LSH candidate tier must classify every batch doc
    exactly as the full-recall AllPairs prefix tier does — precision
    is shared (same digest tier, same exact verification), so any
    difference is a banding recall miss. Also pins that the prebuilt
    base-bands path (the two-phase form) equals the derived-in-plan
    path, and that the adaptive dispatcher agrees with both."""
    from presto_on_ray_spark.operators.dedup import (
        _SATURATION_AVG_DF,
        build_base_index,
        ingest_batch,
        ingest_batch_adaptive,
        ingest_batch_lsh,
        lsh_bands,
        shingle_saturation,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    idx = build_base_index(d.filter(F.col("doc_id") % 10 != 0), tracked=False)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    try:
        def verdicts(df):
            return {
                r["doc_id"]: (r["status"], r["n_base_matches"])
                for r in df.collect()
            }

        prefix = verdicts(ingest_batch(batch, idx))
        assert prefix  # non-degenerate fixture
        lsh = verdicts(ingest_batch_lsh(batch, idx))
        assert lsh == prefix
        bands = lsh_bands(idx.shingles).persist()
        try:
            assert verdicts(ingest_batch_lsh(batch, idx, bands=bands)) == prefix
        finally:
            bands.unpersist()
        assert verdicts(ingest_batch_adaptive(batch, idx)) == prefix
        # fixture shingle spaces are unsaturated — the dispatcher
        # chooses the full-recall prefix tier here (measured 1.5-8.8
        # vs threshold 24); the LSH branch dispatch is pinned on a
        # saturated synthetic base below.
        assert shingle_saturation(idx.shingles) < _SATURATION_AVG_DF
    finally:
        idx.release()


def test_lsh_bands_equals_signature_banding(spark, sf_dir):
    """lsh_bands (the grouped form over an exploded shingle relation,
    used by the ingest LSH tier over BaseIndex.shingles) must produce
    row-for-row the same (doc_id, band, bucket) relation as the
    array-fold signature path dedup_minhash_lsh uses — one banding
    layout (_band_structs), two equivalent lane constructions
    (groupBy-min vs in-array fold)."""
    from presto_on_ray_spark.operators.dedup import (
        _band_structs,
        lsh_bands,
        minhash_signature,
        shingles,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sh = d.select("doc_id", F.explode(shingles(F.col("text"))).alias("sh"))
    grouped = {(r.doc_id, r.band, r.bucket) for r in lsh_bands(sh).collect()}

    sig = d.select("doc_id", minhash_signature(shingles(F.col("text"))).alias("sig"))
    band_structs = _band_structs(lambda i: F.element_at(F.col("sig"), i + 1))
    arrayed = {
        (r.doc_id, r.band, r.bucket)
        for r in sig.select("doc_id", F.explode(band_structs).alias("bb"))
        .select("doc_id", "bb.band", "bb.bucket")
        .collect()
    }
    # lsh_bands' grouped form emits no rows for shingle-less docs
    # (< n words); restrict the array form to the same doc set.
    with_sh = {r.doc_id for r in sh.select("doc_id").distinct().collect()}
    arrayed = {t3 for t3 in arrayed if t3[0] in with_sh}
    assert grouped == arrayed


def test_ingest_adaptive_dispatches_lsh_on_saturated_base(spark):
    """On a SATURATED base (fixed tiny vocabulary, avg shingle df >=
    the round-7 threshold) ingest_batch_adaptive must flip to the LSH
    candidate tier and still classify identically to the prefix tier
    — the deterministic banding catches every verified pair on this
    corpus, and precision is exact by construction on both tiers."""
    from presto_on_ray_spark.operators.dedup import (
        _SATURATION_AVG_DF,
        build_base_index,
        ingest_batch,
        ingest_batch_adaptive,
        shingle_saturation,
    )

    vocab = ["w%d" % i for i in range(6)]
    # 120 base docs over a 6-word vocabulary: the trigram space has
    # ~6^3 possible shingles but docs reuse a handful, so avg df
    # blows far past the threshold — the df² regime in miniature.
    base_rows = [
        (i, " ".join(vocab[(i + j) % 6] for j in range(10)))
        for i in range(120)
    ]
    base = spark.createDataFrame(base_rows, "doc_id int, text string")
    batch = spark.createDataFrame(
        [
            (1000, base_rows[0][1]),                      # exact dup
            (1001, base_rows[1][1] + " w0"),              # near dup
            (1002, "totally fresh words nothing shared xx yy zz qq rr"),
        ],
        "doc_id int, text string",
    )
    idx = build_base_index(base, tracked=False)
    try:
        assert shingle_saturation(idx.shingles) >= _SATURATION_AVG_DF
        adaptive = {
            r["doc_id"]: (r["status"], r["n_base_matches"])
            for r in ingest_batch_adaptive(batch, idx).collect()
        }
        prefix = {
            r["doc_id"]: (r["status"], r["n_base_matches"])
            for r in ingest_batch(batch, idx).collect()
        }
        assert adaptive == prefix
        assert adaptive[1000][0] == "exact"
        assert adaptive[1001][0] == "near"
        assert adaptive[1002] == ("new", 0)
        # precomputed-saturation path (the two-phase caller's form):
        # an explicitly passed statistic must dispatch identically on
        # both sides of the threshold — tiers agree on this corpus.
        for forced in (0.0, 1e9):
            got = {
                r["doc_id"]: (r["status"], r["n_base_matches"])
                for r in ingest_batch_adaptive(
                    batch, idx, saturation=forced
                ).collect()
            }
            assert got == prefix
    finally:
        idx.release()


def test_merge_lsh_bands_keeps_admitted_docs(spark):
    """The band-maintenance contract for the two-phase LSH ingest
    pattern: after merge_into_base_index admits new docs, a prebuilt
    bands relation is STALE (no rows for the admitted docs) and a
    near-dup of an admitted doc silently classifies 'new' — the
    recall-loss hazard; merge_lsh_bands' append restores it to
    exactly the from-scratch relation and the near-dup is found."""
    from presto_on_ray_spark.operators.dedup import (
        StaleLshBands,
        build_base_index,
        ingest_batch,
        ingest_batch_lsh,
        lsh_bands,
        merge_into_base_index,
        merge_lsh_bands,
        shingles,
    )

    base = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "p q r s t u v w x y"),
        ],
        "doc_id int, text string",
    )
    admitted = spark.createDataFrame(
        [(100, "n0 n1 n2 n3 n4 n5 n6 n7 n8 n9")],
        "doc_id int, text string",
    )
    # near-dup of the ADMITTED doc: J = 8/9 >= 3/5
    batch2 = spark.createDataFrame(
        [(200, "n0 n1 n2 n3 n4 n5 n6 n7 n8 n9 n0")],
        "doc_id int, text string",
    )
    idx = build_base_index(base, tracked=False)
    bands = lsh_bands(idx.shingles).persist()
    merged = None
    try:
        merged = merge_into_base_index(idx, admitted, tracked=False)

        def verdict(bnds, **kw):
            rows = {
                r["doc_id"]: (r["status"], r["n_base_matches"])
                for r in ingest_batch_lsh(
                    batch2, merged, bands=bnds, **kw
                ).collect()
            }
            return rows[200]

        # stale bands: the default guard makes the drift loud
        with pytest.raises(StaleLshBands):
            verdict(bands)
        # ... and with the guard opted out, the hazard it guards is
        # real: the admitted doc has no band rows -> silent recall loss
        assert verdict(bands, check=False) == ("new", 0)
        # maintained bands: append-only merge restores full coverage
        # (and passes the guard)
        grown = merge_lsh_bands(bands, admitted)
        assert verdict(grown) == ("near", 1)
        # the admitted_sh reuse path produces the same relation
        adm_sh = admitted.select(
            "doc_id", F.explode(shingles(F.col("text"))).alias("sh")
        )
        assert {tuple(r) for r in merge_lsh_bands(bands, None, adm_sh).collect()} == {
            tuple(r) for r in grown.collect()
        }
        with pytest.raises(ValueError, match="merge_lsh_bands"):
            merge_lsh_bands(bands, None)
        # the reverse drift — bands AHEAD of the index (e.g. paired
        # with the pre-merge generation) — is loud too, with the
        # direction-specific diagnosis
        with pytest.raises(StaleLshBands, match="AHEAD"):
            ingest_batch_lsh(batch2, idx, bands=grown)
        # bidirectional drift (bands and index each have a doc the
        # other lacks) must be named as such — neither single-direction
        # remedy is safe, so the diagnosis must be deterministic, not
        # whichever drifting row a limit(1) happens to return
        mixed = merge_lsh_bands(
            bands,
            spark.createDataFrame(
                [(300, "m0 m1 m2 m3 m4 m5 m6 m7")], "doc_id int, text string"
            ),
        )
        with pytest.raises(StaleLshBands, match="each contain"):
            ingest_batch_lsh(batch2, merged, bands=mixed)
        # and agrees with the full-recall prefix tier on the merged index
        prefix = {
            r["doc_id"]: (r["status"], r["n_base_matches"])
            for r in ingest_batch(batch2, merged).collect()
        }
        assert prefix[200] == ("near", 1)
        # the grown relation IS the from-scratch one, row for row —
        # bands are per-doc and df-independent, so append == rebuild
        corpus = base.unionByName(admitted)
        scratch = lsh_bands(
            corpus.select(
                "doc_id", F.explode(shingles(F.col("text"))).alias("sh")
            )
        )
        assert {tuple(r) for r in grown.collect()} == {
            tuple(r) for r in scratch.collect()
        }
    finally:
        bands.unpersist()
        if merged is not None:
            merged.release()
        idx.release()


def test_verify_index_consistency(spark):
    """The explicit index-invariant check for shared-store ingest-only
    workloads (where neither the merge-time nor the load-time
    enforcement runs): a counts row with no shingle rows — the
    half-appended crash state — raises the rebuild prescription; a
    healthy index passes. The per-ingest bands guard deliberately
    does not cover this state (it never rescans the shingle
    relation), so this is the scheduled complement."""
    from presto_on_ray_spark.operators.dedup import (
        build_base_index,
        verify_index_consistency,
    )

    base = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "p q r s t u v w x y")],
        "doc_id int, text string",
    )
    idx = build_base_index(base, tracked=False)
    try:
        verify_index_consistency(idx)  # healthy: no raise
        crashed = idx._replace(
            counts=idx.counts.unionByName(
                spark.createDataFrame([(999, 8)], "doc_id int, n_o long")
            )
        )
        with pytest.raises(ValueError, match="inconsistent"):
            verify_index_consistency(crashed)
    finally:
        idx.release()


def test_saved_mutation_protocol_enforces_swap(spark, tmp_path):
    """ADVICE r11: the mutation protocol's ordering really is ENFORCED
    — a writer that enters its window and returns WITHOUT swap() may
    have appended while the keyed generations never swapped in, so the
    clean-exit path must raise and strand the markers, not release an
    index it cannot prove consistent. Also pins save_base_index's
    writer-lock behavior (refuse over markers; force = recovery; hold
    the lock while writing)."""
    import os

    from presto_on_ray_spark.operators.dedup import (
        _saved_index_mutation,
        build_base_index,
        load_base_index,
        save_base_index,
    )

    base = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id int, text string"
    )
    idx = build_base_index(base, tracked=False)
    p = str(tmp_path / "bidx")
    save_base_index(idx, p)
    idx.release()

    with pytest.raises(RuntimeError, match="without swap"):
        with _saved_index_mutation(p) as mut:
            mut.enter_mutation_window()
    # both markers stranded: writers and readers refuse loudly
    assert os.path.exists(os.path.join(p, "_MERGE_MUTATING"))
    assert os.path.exists(os.path.join(p, "_MERGE_INPROGRESS"))
    with pytest.raises(ValueError, match="inconsistent"):
        load_base_index(spark, p)

    # recovery path: unforced save refuses, forced save unblocks
    idx2 = build_base_index(base, tracked=False)
    with pytest.raises(ValueError, match="force=True"):
        save_base_index(idx2, p)
    save_base_index(idx2, p, force=True)
    load_base_index(spark, p)

    # a writer that never enters the window releases cleanly (no-op
    # body), and an EMPTY swap (append-only writers) is still a valid
    # completion — no strand either way
    with _saved_index_mutation(p) as mut:
        pass
    assert not os.path.exists(os.path.join(p, "_MERGE_INPROGRESS"))
    with _saved_index_mutation(p) as mut:
        mut.enter_mutation_window()
        mut.swap()
    assert not os.path.exists(os.path.join(p, "_MERGE_MUTATING"))
    assert not os.path.exists(os.path.join(p, "_MERGE_INPROGRESS"))

    # a held lock alone (no mutating marker) also refuses an unforced
    # save — it may be a LIVE merge mid-generation-write
    with open(os.path.join(p, "_MERGE_INPROGRESS"), "w") as fh:
        fh.write("x\n")
    with pytest.raises(ValueError, match="force=True"):
        save_base_index(idx2, p)
    save_base_index(idx2, p, force=True)
    idx2.release()
    assert not os.path.exists(os.path.join(p, "_MERGE_INPROGRESS"))
    load_base_index(spark, p)


def test_saved_bands_lifecycle(spark, tmp_path):
    """VERDICT r11 #1: the optional sixth saved-index relation. Bands
    attach to an existing index (save_index_bands) or at save time
    (with_bands=True), are appended inside every merge's mutation
    window (lockstep by construction — the ingest_batch_lsh guard
    passes and verdicts equal the in-plan derivation), are rewritten
    by compaction, and a rebuild WITHOUT with_bands removes them
    rather than leaving a silently-stale relation."""
    import os

    from presto_on_ray_spark.operators.dedup import (
        build_base_index,
        compact_saved_index,
        ingest_batch_lsh,
        load_base_index,
        load_saved_bands,
        lsh_bands,
        merge_into_saved_index,
        save_base_index,
        save_index_bands,
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    ten = "a b c d e f g h i j"
    base = spark.createDataFrame(
        [(1, ten), (2, "p q r s t u v w x y")], "doc_id int, text string"
    )
    p = str(tmp_path / "bidx")
    idx = build_base_index(base, tracked=False)
    save_base_index(idx, p)
    assert load_saved_bands(spark, p) is None  # optional: absent by default

    # attach to the existing saved index (first-generation swap)
    save_index_bands(spark, p)
    want = rows(lsh_bands(idx.shingles))
    assert rows(load_saved_bands(spark, p)) == want
    idx.release()
    assert not os.path.exists(os.path.join(p, "_MERGE_INPROGRESS"))
    assert not os.path.exists(os.path.join(p, "bands__new"))

    # stale-policy merge appends the admitted docs' band rows
    admitted = spark.createDataFrame(
        [(4, "q w e r t y u i o p")], "doc_id int, text string"
    )
    merge_into_saved_index(spark, p, admitted, rerank=False)
    loaded = load_base_index(spark, p)
    assert rows(load_saved_bands(spark, p)) == rows(lsh_bands(loaded.shingles))

    # lockstep guard green with the saved bands; verdicts equal in-plan
    batch = spark.createDataFrame(
        [
            (10, ten),
            (20, "q w e r t y u i o z"),
            (30, "novel stuff entirely here"),
        ],
        "doc_id int, text string",
    )
    via_saved = {
        r["doc_id"]: (r["status"], r["n_base_matches"])
        for r in ingest_batch_lsh(
            batch, loaded, bands=load_saved_bands(spark, p)
        ).collect()
    }
    via_plan = {
        r["doc_id"]: (r["status"], r["n_base_matches"])
        for r in ingest_batch_lsh(batch, loaded).collect()
    }
    assert via_saved == via_plan
    assert via_saved[10] == ("exact", 1)

    # strict merge maintains them identically (band rows are
    # df-independent — no re-rank analogue exists for them)
    merge_into_saved_index(
        spark,
        p,
        spark.createDataFrame(
            [(5, "m n b v c x z l k j")], "doc_id int, text string"
        ),
        rerank=True,
    )
    loaded = load_base_index(spark, p)
    assert rows(load_saved_bands(spark, p)) == rows(lsh_bands(loaded.shingles))

    # compaction rewrites bands from the same shingle snapshot: equal
    # rows, per-admission small files collapsed
    bands_dir = os.path.join(p, "bands")
    parts_before = len(
        [f for f in os.listdir(bands_dir) if f.endswith(".parquet")]
    )
    compact_saved_index(spark, p)
    loaded = load_base_index(spark, p)
    assert rows(load_saved_bands(spark, p)) == rows(lsh_bands(loaded.shingles))
    parts_after = len(
        [f for f in os.listdir(bands_dir) if f.endswith(".parquet")]
    )
    assert parts_after <= parts_before

    # rebuild WITHOUT with_bands: stale bands removed, not kept
    idx2 = build_base_index(base, tracked=False)
    save_base_index(idx2, p)
    assert load_saved_bands(spark, p) is None
    # a merge on a bands-less layout creates none
    merge_into_saved_index(spark, p, admitted, rerank=False)
    assert load_saved_bands(spark, p) is None
    # and with_bands=True regenerates them at save time
    save_base_index(idx2, p, with_bands=True)
    assert rows(load_saved_bands(spark, p)) == rows(lsh_bands(idx2.shingles))
    idx2.release()


def test_save_base_index_failure_strands_markers(spark, tmp_path):
    """Code-review r12: the rebuild mutates LIVE directories, so a
    save that fails mid-write must leave the location LOUD (both
    merge markers stranded, readers refuse) instead of a silently
    readable torn index — and the forced re-save is the recovery."""
    import os

    from presto_on_ray_spark.operators.dedup import (
        build_base_index,
        load_base_index,
        save_base_index,
    )

    base = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id int, text string"
    )
    idx = build_base_index(base, tracked=False)
    p = str(tmp_path / "bidx")
    save_base_index(idx, p)

    # poison the THIRD relation: digests and shingles overwrite, then
    # the df write raises at runtime — a mid-rebuild failure
    poisoned = idx._replace(
        df=spark.createDataFrame([(1,)], "x int").select(
            F.raise_error(F.lit("boom")).cast("string").alias("sh")
        )
    )
    with pytest.raises(Exception, match="boom"):
        save_base_index(poisoned, p)
    assert os.path.exists(os.path.join(p, "_MERGE_MUTATING"))
    assert os.path.exists(os.path.join(p, "_MERGE_INPROGRESS"))
    with pytest.raises(ValueError, match="inconsistent"):
        load_base_index(spark, p)

    # recovery: unforced refuses, forced rebuild clears and unblocks
    with pytest.raises(ValueError, match="force=True"):
        save_base_index(idx, p)
    save_base_index(idx, p, force=True)
    assert not os.path.exists(os.path.join(p, "_MERGE_MUTATING"))
    assert not os.path.exists(os.path.join(p, "_MERGE_INPROGRESS"))
    loaded = load_base_index(spark, p)
    assert loaded.counts.count() == 1
    idx.release()


def test_shingle_saturation_from_df_is_exact(spark):
    """shingle_saturation_from_df computes the tier-dispatch statistic
    from the maintained (sh, df) relation: exactly sum(df) / count(*)
    — the true rows/distinct ratio with no distinct sketch — and it
    agrees with the exploded-relation form within the sketch's
    tolerance."""
    from presto_on_ray_spark.operators.dedup import (
        build_base_index,
        shingle_saturation,
        shingle_saturation_from_df,
    )

    base = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e f g h i k"),
            (3, "p q r s t u v w x y"),
        ],
        "doc_id int, text string",
    )
    idx = build_base_index(base, tracked=False)
    try:
        rows = idx.shingles.count()
        distinct = idx.shingles.select("sh").distinct().count()
        exact = shingle_saturation_from_df(idx.df)
        assert exact == rows / distinct
        approx = shingle_saturation(idx.shingles)
        assert abs(exact - approx) / exact < 0.1
        # the empty relation degrades to 0, not a division error
        assert shingle_saturation_from_df(idx.df.filter("df < 0")) == 0.0
    finally:
        idx.release()
