"""Streaming classifier inference: score an arriving (doc_id, text)
stream against FROZEN trained weights — the deploy half of the
round-13 training operator (textstats.classifier_train): train once
in batch, broadcast the fixed-width model, keep/drop every arriving
micro-batch forever at O(batch) per trigger.

foreachBatch rather than a stateful aggregation because inference is
stateless row-local work given the weights: each batch is featurized,
dotted against the broadcast 4097-row weight relation, and handed to
the sink — batch-for-batch identical to classifier_score_biased on
the same rows (pinned in tests/test_streaming_classifier.py). The
weights are the ONLY cross-batch artifact and they are frozen data;
retraining is a batch job that publishes a new weight relation, the
same artifact-lifecycle split as the saved ANN/counts stores.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from presto_on_ray_spark.operators.textstats import classifier_score_biased
from presto_on_ray_spark.streaming.ingest import _start


def _weights_store_live(path: str) -> bool:
    """True when ``path`` is a weights store with a published live
    generation (a _CURRENT pointer exists)."""
    from presto_on_ray_spark.operators.textstats import (
        weights_live_generation,
    )

    try:
        weights_live_generation(path)
        return True
    except ValueError:
        return False


# classifier_score_biased's output shape — used to sink an empty
# verdict relation for an empty trigger against an EMPTY store (there
# is nothing to score and nothing sane to train; bootstrapping on zero
# docs would publish an all-zero accept-everything model)
_SCORED_SCHEMA = "doc_id long, n_tokens long, logit double, keep boolean"


def _unique_batch_docs(batch_df: DataFrame) -> DataFrame:
    """The per-trigger (doc_id, text) boundary contract, in one place:
    NULL-text rows are excluded (no features, exactly like the batch
    API) and a doc_id delivered more than once inside ONE trigger is
    collapsed to a single row. At-least-once sources can redeliver a
    row within a batch; without the dedupe a duplicated doc's verdict
    carries a doubled n_tokens (keep/logit are scale-invariant) and a
    batch-trained retrain double-weights its gradient —
    biased_features assumes unique doc_ids per its docstring (ADVICE
    r15). O(batch) work, keyed the same way as the featurize
    aggregation that follows."""
    return batch_df.filter(batch_df["text"].isNotNull()).dropDuplicates(
        ["doc_id"]
    )


def _score_or_empty(batch_docs: DataFrame, weights_path: str, sink, batch_id):
    """Score an EMPTY batch through the live store when one exists,
    else sink an empty relation of the verdict shape — never train."""
    from presto_on_ray_spark.operators.textstats import (
        load_classifier_weights,
    )

    spark = batch_docs.sparkSession
    if _weights_store_live(weights_path):
        w = load_classifier_weights(spark, weights_path)
        sink(classifier_score_biased(batch_docs, w), batch_id)
    else:
        sink(spark.createDataFrame([], _SCORED_SCHEMA), batch_id)


def _require_live_weights(path: str, caller: str) -> None:
    """Fail a scorer stream at START with a clear bootstrap message
    instead of crashing the first trigger with a raw missing-_CURRENT
    error (ADVICE r14)."""
    if not _weights_store_live(path):
        raise ValueError(
            f"{caller}: weights store at {path!r} has no published "
            f"generation — train and publish once before starting the "
            f"scorer (save_classifier_weights), or use "
            f"stream_classifier_retrain_windowed which bootstraps by "
            f"training on its first batch"
        )


def stream_classifier_score(
    docs_stream: DataFrame,
    weights: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    await_termination: bool | None = None,
):
    """Score a streaming (doc_id, text) source against a trained
    (bucket, wnum) weight relation (classifier_train's output —
    PERSIST it, every micro-batch joins it): each batch's verdict
    relation (doc_id, n_tokens, logit, keep) is handed to
    ``sink(scored_df, batch_id)``. Docs with no tokens have no
    features and are absent from the batch's verdicts, exactly like
    the batch API.

    Per-batch cost: one featurize explode + two map-combined
    aggregates over the BATCH only, plus the broadcast of the
    fixed-width weight relation — the corpus, the training set, and
    all previous batches are never touched. Batch boundaries change
    which docs share a trigger, never any verdict: scoring is per-doc
    row-local given the weights."""

    def _score(batch_df: DataFrame, batch_id: int) -> None:
        sink(
            classifier_score_biased(_unique_batch_docs(batch_df), weights),
            batch_id,
        )

    return _start(docs_stream, _score, checkpoint_dir, available_now,
                  await_termination)


def stream_classifier_score_published(
    docs_stream: DataFrame,
    weights_path: str,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    await_termination: bool | None = None,
):
    """stream_classifier_score reading the PUBLISHED weights store
    (textstats.save_classifier_weights' generation-flip layout)
    instead of a frozen in-session relation: every trigger re-resolves
    the LIVE generation, so a publish landing mid-stream changes
    verdicts exactly at the next trigger boundary — never inside a
    batch (each batch binds one generation once; pinned in
    tests/test_classifier_store.py). This is the deploy half of the
    retrain→publish lifecycle: the scorer never restarts for a model
    update, and a rollback (re-publishing the old weights) takes
    effect the same way.

    Per-trigger cost adds one pointer read + one parquet open of the
    4097-row weight relation — noise next to the batch featurize."""
    from presto_on_ray_spark.operators.textstats import (
        load_classifier_weights,
    )

    _require_live_weights(weights_path, "stream_classifier_score_published")

    def _score(batch_df: DataFrame, batch_id: int) -> None:
        w = load_classifier_weights(batch_df.sparkSession, weights_path)
        sink(
            classifier_score_biased(_unique_batch_docs(batch_df), w),
            batch_id,
        )

    return _start(docs_stream, _score, checkpoint_dir, available_now,
                  await_termination)


def stream_classifier_retrain_on_drift(
    docs_stream: DataFrame,
    ref_hist: DataFrame,
    weights_path: str,
    sink: Callable[[DataFrame, int], None],
    psi_threshold: float = 0.25,
    bin_width: int = 16,
    retrain: Callable[[DataFrame], DataFrame] | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    await_termination: bool | None = None,
):
    """The composed retrain-on-drift loop (VERDICT r13 #4): per
    trigger, (1) monitor the batch's token-count distribution against
    ``ref_hist`` (reference_histogram's output — the same PSI
    arithmetic as stream_drift_monitor), (2) if ANY group's PSI
    breaches ``psi_threshold``, retrain and PUBLISH a new weights
    generation, (3) score the batch through the live store (the new
    generation if this batch breached — retrain-then-score, so the
    drifted batch itself is judged by the refreshed model) and hand
    ``sink(scored_df, batch_id)`` the verdicts.

    ``retrain`` maps the drifted batch's (doc_id, text) rows to a new
    (bucket, wnum) relation; the default trains the pocket perceptron
    on the BATCH under the weak lang-id labels — a stand-in policy
    that keeps the demo self-contained. A production pipeline passes
    a retrainer over its accumulated labeled window instead; the
    lifecycle (breach → train → generation flip → next trigger reads
    the new model) is what this function owns, and it is O(batch) on
    the no-breach path: one histogram + PSI over (groups x bins) rows
    plus the score join."""
    from presto_on_ray_spark.operators.drift import psi_against_reference
    from presto_on_ray_spark.operators.textstats import (
        classifier_train,
        langid_labels,
        load_classifier_weights,
        save_classifier_weights,
    )
    from pyspark.sql import functions as F

    if retrain is None:
        def retrain(batch_docs: DataFrame) -> DataFrame:  # noqa: F811
            return classifier_train(batch_docs, langid_labels(batch_docs))

    def _tick(batch_df: DataFrame, batch_id: int) -> None:
        batch_docs = _unique_batch_docs(batch_df)
        if batch_docs.isEmpty():
            # nothing to monitor, nothing sane to train: an all-NULL
            # first batch must NOT bootstrap an all-zero model
            _score_or_empty(batch_docs, weights_path, sink, batch_id)
            return
        toks = F.size(F.filter(F.split("text", " "), lambda x: F.length(x) > 0))
        snapshot = batch_docs.select(
            F.col("source").alias("grp") if "source" in batch_docs.columns
            else F.lit("all").alias("grp"),
            toks.cast("long").alias("val"),
        )
        psi = psi_against_reference(ref_hist, snapshot, bin_width, "grp")
        breached = psi.filter(F.col("psi") > psi_threshold).limit(1).count() > 0
        # bootstrap (ADVICE r14): a no-breach first batch against an
        # EMPTY store would otherwise crash on the raw missing-_CURRENT
        # read below — train+publish on this batch instead, exactly as
        # if it had breached
        if breached or not _weights_store_live(weights_path):
            save_classifier_weights(
                retrain(batch_docs), weights_path, force=True
            )
        w = load_classifier_weights(batch_df.sparkSession, weights_path)
        sink(classifier_score_biased(batch_docs, w), batch_id)

    return _start(docs_stream, _tick, checkpoint_dir, available_now,
                  await_termination)


def stream_classifier_retrain_windowed(
    docs_stream: DataFrame,
    ref_hist: DataFrame,
    weights_path: str,
    window_path: str,
    sink: Callable[[DataFrame, int], None],
    psi_threshold: float = 0.25,
    bin_width: int = 16,
    cooldown_triggers: int = 3,
    retrain: Callable[[DataFrame], DataFrame] | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    await_termination: bool | None = None,
):
    """The PRODUCTION retrain-on-drift policy (VERDICT r14 #5):
    windowed accumulation + publish cooldown, instead of
    stream_classifier_retrain_on_drift's retrain-on-the-breaching-
    batch-alone demo policy.

    Per trigger: (1) append the batch's (doc_id, text) rows to the
    current accumulation window (a parquet spool under
    ``window_path/w<k>`` — O(batch) per trigger, the window is never
    re-read until a retrain); (2) monitor the batch's token-count
    distribution against ``ref_hist`` (same PSI arithmetic as
    stream_drift_monitor); (3) retrain when EITHER the store is empty
    (bootstrap: the first trigger trains on the window so far and
    publishes) OR the batch breaches ``psi_threshold`` AND the publish
    cooldown has expired — ``cooldown_triggers`` subsequent triggers
    after any publish suppress generation flips (breaches inside the
    cooldown still ACCUMULATE into the window, they just don't
    retrain, so a drift episode spanning many triggers produces one
    model per cooldown period, not one per batch); (4) a retrain reads
    the WHOLE current window (docs since the last publish,
    doc_id-deduplicated so an at-least-once redelivered batch cannot
    double-weight its gradient), publishes a fresh generation, opens a
    new empty window, and PRUNES the consumed spool dirs (disk stays
    bounded at one open window no matter how long the stream runs);
    (5) the batch is scored through the
    LIVE store (the new generation if this trigger published) and
    handed to ``sink(scored_df, batch_id)``.

    State across triggers is two integers in ``window_path/_STATE``
    ({"window": k, "since_pub": m}) plus the spool itself — both on
    disk, so a restarted stream resumes the same window and cooldown
    phase. Scale shape: the no-retrain path is one O(batch) append +
    one (groups x bins) PSI + the broadcast-weights score join; a
    retrain is one bounded job over the accumulated window (the same
    fused-epoch trainer as the batch API).

    ``retrain`` maps a docs relation to a (bucket, wnum) relation; the
    default is the pocket perceptron under weak lang-id labels —
    trained on the accumulated WINDOW, which is what makes this the
    production policy: the model sees every doc since its
    predecessor's publish, not just the trigger that happened to
    breach. Pinned in tests/test_classifier_store.py: a breach inside
    the cooldown does NOT flip the generation, and the
    accumulate-then-retrain cycle's published weights are hash-equal
    to classifier_train over the same union of batches."""
    import json
    import os

    from pyspark.sql import functions as F

    from presto_on_ray_spark.operators.drift import psi_against_reference
    from presto_on_ray_spark.operators.textstats import (
        classifier_train,
        langid_labels,
        load_classifier_weights,
        save_classifier_weights,
    )
    from presto_on_ray_spark.store import atomic_write

    if retrain is None:
        def retrain(window_docs: DataFrame) -> DataFrame:  # noqa: F811
            return classifier_train(window_docs, langid_labels(window_docs))

    state_file = os.path.join(window_path, "_STATE")

    def _read_state() -> dict:
        if os.path.exists(state_file):
            with open(state_file, encoding="utf-8") as fh:
                return json.load(fh)
        return {"window": 0, "since_pub": None}

    def _write_state(st: dict) -> None:
        os.makedirs(window_path, exist_ok=True)
        atomic_write(state_file, json.dumps(st))

    def _tick(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        st = _read_state()
        spool = os.path.join(window_path, f"w{st['window']:06d}")
        batch_docs = _unique_batch_docs(batch_df)
        if batch_docs.isEmpty():
            # nothing to accumulate or train on (an all-NULL first
            # batch must NOT bootstrap an all-zero model); the trigger
            # still ticks the cooldown
            if st["since_pub"] is not None:
                _write_state({**st, "since_pub": st["since_pub"] + 1})
            _score_or_empty(batch_docs, weights_path, sink, batch_id)
            return
        batch_docs.select("doc_id", "text").write.mode("append").parquet(
            spool
        )
        toks = F.size(
            F.filter(F.split("text", " "), lambda x: F.length(x) > 0)
        )
        snapshot = batch_docs.select(
            F.col("source").alias("grp") if "source" in batch_docs.columns
            else F.lit("all").alias("grp"),
            toks.cast("long").alias("val"),
        )
        psi = psi_against_reference(ref_hist, snapshot, bin_width, "grp")
        breached = (
            psi.filter(F.col("psi") > psi_threshold).limit(1).count() > 0
        )
        in_cooldown = (
            st["since_pub"] is not None
            and st["since_pub"] < cooldown_triggers
        )
        bootstrap = not _weights_store_live(weights_path)
        if bootstrap or (breached and not in_cooldown):
            window_docs = (
                spark.read.parquet(spool).dropDuplicates(["doc_id"])
            )
            save_classifier_weights(
                retrain(window_docs), weights_path, force=True
            )
            st = {"window": st["window"] + 1, "since_pub": 0}
            _write_state(st)
            # the consumed window is dead weight once its model is
            # published — prune every spool dir below the new index so
            # a long-running stream's disk stays bounded at ONE open
            # window (state is flushed first: a crash between the
            # flush and this sweep leaves only removable litter)
            import shutil

            for name in os.listdir(window_path):
                if (
                    name.startswith("w") and name[1:].isdigit()
                    and int(name[1:]) < st["window"]
                ):
                    shutil.rmtree(
                        os.path.join(window_path, name),
                        ignore_errors=True,
                    )
        elif st["since_pub"] is not None:
            _write_state({**st, "since_pub": st["since_pub"] + 1})
        w = load_classifier_weights(spark, weights_path)
        sink(classifier_score_biased(batch_docs, w), batch_id)

    return _start(docs_stream, _tick, checkpoint_dir, available_now,
                  await_termination)
