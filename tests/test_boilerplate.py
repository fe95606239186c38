"""Cross-corpus boilerplate strip (pipeline_prep.boilerplate_strip):
planted-boilerplate semantics plus a brute-force Python twin."""

from __future__ import annotations

import random

import pytest

from presto_on_ray_spark.operators.pipeline_prep import _BP_W, boilerplate_strip


def _no_persist(df):
    return df


def _brute(docs: dict[int, str], w: int, max_df: int) -> dict[int, tuple[int, str]]:
    """Independent reference: aligned full-w segments, document
    frequency, cut + ordered reassembly."""
    seg_docs: dict[str, set[int]] = {}
    for did, text in docs.items():
        ws = text.split(" ")
        for g in range(len(ws) // w):
            seg = " ".join(ws[g * w : g * w + w])
            seg_docs.setdefault(seg, set()).add(did)
    boiler = {s for s, ds in seg_docs.items() if len(ds) > max_df}
    out = {}
    for did, text in docs.items():
        ws = text.split(" ")
        cut_gs = {
            g
            for g in range(len(ws) // w)
            if " ".join(ws[g * w : g * w + w]) in boiler
        }
        kept = [wd for i, wd in enumerate(ws) if (i // w) not in cut_gs]
        out[did] = (len(cut_gs), " ".join(kept))
    return out


def _run(spark, docs: dict[int, str], w: int = _BP_W, max_df: int = 1):
    df = spark.createDataFrame(
        [(did, text) for did, text in docs.items()], "doc_id long, text string"
    )
    rows = boilerplate_strip(df, w=w, max_df=max_df, keep=_no_persist).collect()
    return {r.doc_id: (r.n_cut_segments, r.clean_text) for r in rows}


def test_planted_boilerplate_cut(spark):
    # docs 0 and 1 share the aligned footer "see terms of service";
    # doc 2 carries the same words but NOT block-aligned, so it stays.
    docs = {
        0: "alpha beta gamma delta see terms of service",
        1: "one two three four see terms of service extra",
        2: "pad see terms of service alpha beta gamma delta",
    }
    got = _run(spark, docs, w=4, max_df=1)
    assert got[0] == (1, "alpha beta gamma delta")
    assert got[1] == (1, "one two three four extra")
    # doc 2's segments are ("pad see terms of", "service alpha beta gamma")
    # — neither is shared; nothing cut.
    assert got[2] == (0, docs[2])
    assert got == _brute(docs, 4, 1)


def test_trailing_partial_never_a_candidate(spark):
    # both docs END with the same 2 words, below the 4-word block size:
    # partial tails are never frequency candidates.
    docs = {
        0: "a b c d tail end",
        1: "e f g h tail end",
    }
    got = _run(spark, docs, w=4, max_df=1)
    assert got[0] == (0, docs[0])
    assert got[1] == (0, docs[1])


def test_fully_boilerplate_doc_empties(spark):
    docs = {
        0: "x y z w",
        1: "x y z w",
        2: "p q r s",
    }
    got = _run(spark, docs, w=4, max_df=1)
    assert got[0] == (1, "")
    assert got[1] == (1, "")
    assert got[2] == (0, "p q r s")


def test_max_df_dial(spark):
    docs = {0: "x y z w", 1: "x y z w", 2: "x y z w a b"}
    # df=3 > 2 → cut everywhere at max_df=2
    got = _run(spark, docs, w=4, max_df=2)
    assert got[2] == (1, "a b")
    # max_df=3 tolerates it
    got = _run(spark, docs, w=4, max_df=3)
    assert got[2] == (0, docs[2])


def test_document_frequency_not_occurrence_count(spark):
    # the same segment TWICE in one doc is repetition, not boilerplate
    docs = {
        0: "x y z w x y z w",
        1: "a b c d e f g h",
    }
    got = _run(spark, docs, w=4, max_df=1)
    assert got[0] == (0, docs[0])


@pytest.mark.parametrize("seed", [7, 41])
def test_brute_force_twin_random_corpus(spark, seed):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(9)]
    footer = "lic foo bar baz"
    docs = {}
    for did in range(40):
        n = rng.randrange(1, 14)
        words = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.4:
            # plant the footer at an aligned offset in some docs
            at = rng.randrange(0, 3) * 4
            words[at:at] = footer.split(" ")
        docs[did] = " ".join(words)
    assert _run(spark, docs, w=4, max_df=1) == _brute(docs, 4, 1)


def test_merge_equals_recount_on_disjoint_batches(spark):
    from presto_on_ray_spark.operators.pipeline_prep import (
        merge_segment_counts,
        segment_counts,
    )

    a = {0: "x y z w pad", 1: "x y z w", 2: "unique words here four"}
    b = {10: "x y z w more", 11: "other fresh segment here"}
    df_a = spark.createDataFrame(list(a.items()), "doc_id long, text string")
    df_b = spark.createDataFrame(list(b.items()), "doc_id long, text string")
    df_ab = spark.createDataFrame(
        list(a.items()) + list(b.items()), "doc_id long, text string"
    )
    merged = {
        r.h: r.df
        for r in merge_segment_counts(segment_counts(df_a, 4), df_b, 4).collect()
    }
    full = {r.h: r.df for r in segment_counts(df_ab, 4).collect()}
    assert merged == full
    assert max(full.values()) == 3  # "x y z w" seen in docs 0, 1, 10


def test_strip_against_maintained_counts_equals_one_shot(spark):
    from presto_on_ray_spark.operators.pipeline_prep import (
        boilerplate_strip,
        boilerplate_strip_against,
        merge_segment_counts,
        segment_counts,
    )

    a = {0: "x y z w pad", 1: "x y z w", 2: "unique words here four"}
    b = {10: "x y z w more", 11: "other fresh segment here"}
    df_a = spark.createDataFrame(list(a.items()), "doc_id long, text string")
    df_b = spark.createDataFrame(list(b.items()), "doc_id long, text string")
    df_ab = spark.createDataFrame(
        list(a.items()) + list(b.items()), "doc_id long, text string"
    )
    counts = merge_segment_counts(segment_counts(df_a, 4), df_b, 4)
    got = {
        r.doc_id: (r.n_cut_segments, r.clean_text)
        for r in boilerplate_strip_against(
            df_ab, counts, w=4, max_df=1, keep=_no_persist
        ).collect()
    }
    want = {
        r.doc_id: (r.n_cut_segments, r.clean_text)
        for r in boilerplate_strip(df_ab, w=4, max_df=1, keep=_no_persist).collect()
    }
    assert got == want
    assert got[10][1] == "more"  # the shared aligned block was cut


def test_saved_counts_roundtrip_merge_and_crash_semantics(spark, tmp_path):
    import os

    import pytest

    from presto_on_ray_spark.operators.pipeline_prep import (
        _COUNTS_WRITING,
        load_segment_counts,
        merge_into_saved_segment_counts,
        save_segment_counts,
        segment_counts,
    )

    a = {0: "x y z w pad", 1: "x y z w", 2: "unique words here four"}
    b = {10: "x y z w more", 11: "other fresh segment here"}
    df_a = spark.createDataFrame(list(a.items()), "doc_id long, text string")
    df_b = spark.createDataFrame(list(b.items()), "doc_id long, text string")
    df_ab = spark.createDataFrame(
        list(a.items()) + list(b.items()), "doc_id long, text string"
    )
    p = str(tmp_path / "counts_store")

    # round-trip
    save_segment_counts(segment_counts(df_a, 4), p)
    got = {r.h: r.df for r in load_segment_counts(spark, p).collect()}
    assert got == {r.h: r.df for r in segment_counts(df_a, 4).collect()}

    # merge == recount over the union (disjoint ids)
    merge_into_saved_segment_counts(spark, p, df_b, 4)
    got = {r.h: r.df for r in load_segment_counts(spark, p).collect()}
    assert got == {r.h: r.df for r in segment_counts(df_ab, 4).collect()}
    # sweep keeps the new generation plus its predecessor (the
    # concurrent-reader grace window) and nothing older
    gens = sorted(n for n in os.listdir(p) if n.startswith("gen-"))
    assert gens == ["gen-0", "gen-1"]

    # single-writer: a held marker refuses, force takes over
    open(os.path.join(p, _COUNTS_WRITING), "w").close()
    with pytest.raises(ValueError, match="_COUNTS_WRITING is held"):
        save_segment_counts(segment_counts(df_a, 4), p)
    save_segment_counts(segment_counts(df_a, 4), p, force=True)
    got = {r.h: r.df for r in load_segment_counts(spark, p).collect()}
    assert got == {r.h: r.df for r in segment_counts(df_a, 4).collect()}
    assert not os.path.exists(os.path.join(p, _COUNTS_WRITING))


def test_saved_counts_crash_before_flip_leaves_old_generation(
    spark, tmp_path, monkeypatch
):
    import pytest

    from presto_on_ray_spark import store
    from presto_on_ray_spark.operators import pipeline_prep as pp

    df_a = spark.createDataFrame([(0, "x y z w")], "doc_id long, text string")
    df_b = spark.createDataFrame([(10, "x y z w")], "doc_id long, text string")
    p = str(tmp_path / "store")
    pp.save_segment_counts(pp.segment_counts(df_a, 4), p)
    before = {r.h: r.df for r in pp.load_segment_counts(spark, p).collect()}

    def boom(os_path, gen):
        raise OSError("simulated crash before flip")

    monkeypatch.setattr(store, "flip_current", boom)
    with pytest.raises(OSError, match="simulated crash"):
        pp.merge_into_saved_segment_counts(spark, p, df_b, 4)
    monkeypatch.undo()
    # the old generation is still live and readable; the marker was
    # released (the failed writer mutated nothing the pointer sees)
    after = {r.h: r.df for r in pp.load_segment_counts(spark, p).collect()}
    assert after == before
    # and a retry succeeds cleanly
    pp.merge_into_saved_segment_counts(spark, p, df_b, 4)
    assert {r.df for r in pp.load_segment_counts(spark, p).collect()} == {2}


def test_saved_counts_reader_grace_window(spark, tmp_path):
    from presto_on_ray_spark.operators.pipeline_prep import (
        load_segment_counts,
        merge_into_saved_segment_counts,
        save_segment_counts,
        segment_counts,
    )

    p = str(tmp_path / "store")
    d0 = spark.createDataFrame([(0, "x y z w")], "doc_id long, text string")
    save_segment_counts(segment_counts(d0, 4), p)
    handle = load_segment_counts(spark, p)  # lazy plan bound to gen-0
    merge_into_saved_segment_counts(
        spark, p, spark.createDataFrame([(1, "a b c d")], "doc_id long, text string"), 4
    )
    # one concurrent mutation: the superseded generation survives
    assert handle.count() == 1
    merge_into_saved_segment_counts(
        spark, p, spark.createDataFrame([(2, "e f g h")], "doc_id long, text string"), 4
    )
    # two mutations: gen-0 is gone; a stale handle fails, a reload works
    assert load_segment_counts(spark, p).count() == 3


def test_crashed_writer_stale_batches_never_republished(spark, tmp_path):
    import os

    from presto_on_ray_spark.operators.pipeline_prep import (
        _COUNTS_BATCHES,
        _COUNTS_WRITING,
        admitted_count_batches,
        save_segment_counts,
        segment_counts,
    )

    p = str(tmp_path / "store")
    d0 = spark.createDataFrame([(0, "x y z w")], "doc_id long, text string")
    save_segment_counts(segment_counts(d0, 4), p)
    # simulate a writer that wrote gen-1 WITH a _BATCHES record and
    # crashed before the flip (marker stranded, pointer still gen-0)
    os.makedirs(os.path.join(p, "gen-1"), exist_ok=True)
    with open(os.path.join(p, "gen-1", _COUNTS_BATCHES), "w") as fh:
        fh.write("7")
    open(os.path.join(p, _COUNTS_WRITING), "w").close()
    # takeover rebuild: the new generation is numbered PAST the partial
    # (gen-2), so the stale batch record can never be published
    save_segment_counts(segment_counts(d0, 4), p, force=True)
    assert admitted_count_batches(p) == frozenset()
    assert os.path.exists(os.path.join(p, "gen-2"))


def test_save_carries_admitted_batches_unless_reset(spark, tmp_path):
    from presto_on_ray_spark.operators.pipeline_prep import (
        admitted_count_batches,
        merge_into_saved_segment_counts,
        save_segment_counts,
        segment_counts,
    )

    p = str(tmp_path / "store")
    d0 = spark.createDataFrame([(0, "x y z w")], "doc_id long, text string")
    save_segment_counts(segment_counts(d0, 4), p)
    merge_into_saved_segment_counts(
        spark, p,
        spark.createDataFrame([(1, "a b c d")], "doc_id long, text string"),
        4, admit_batch_id=0,
    )
    assert admitted_count_batches(p) == {0}
    # a rebuild keeps the admission record (exactly-once stays closed)
    save_segment_counts(segment_counts(d0, 4), p)
    assert admitted_count_batches(p) == {0}
    # an explicit fresh lineage drops it
    save_segment_counts(segment_counts(d0, 4), p, reset_batches=True)
    assert admitted_count_batches(p) == frozenset()
