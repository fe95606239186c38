"""Streaming ingest-time dedup: classify each arriving micro-batch of
documents against a prebuilt BaseIndex (operators/dedup.py two-phase
API) via foreachBatch — the form a continuously-growing corpus
actually runs at 100 TB: the base index is a set of maintained tables
(parquet via save_base_index/load_base_index, or caller-owned
persisted relations built with tracked=False), and every arriving
batch pays batch-sized work only.

foreachBatch rather than a native streaming join because the near
tier is a multi-stage relational pipeline (prefix rank, candidate
join, co-occurrence verification) that Structured Streaming cannot
express incrementally; per-micro-batch batch semantics are exactly
the ingest contract (each doc is classified against the BASE only,
never against other in-flight docs), so batch boundaries cannot
change any classification — pinned in tests/test_streaming_ingest.py.
"""

from __future__ import annotations

import contextlib
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from presto_on_ray_spark.operators.dedup import (
    BaseIndex,
    _admit_receipt,
    _saved_index_paths,
    ingest_batch,
    load_base_index,
    merge_into_saved_index,
    shingle_saturation_from_df,
)


def stream_ingest_dedup(
    docs_stream: DataFrame,
    index: BaseIndex,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    await_termination: bool | None = None,
    classify: Callable = ingest_batch,
):
    """Run ingest-time classification over a streaming (doc_id, text)
    source: every micro-batch is filtered to non-null text (the same
    contract as the dedup_incremental_ingest query path), classified
    against ``index`` with ``classify`` (default ingest_batch — see
    below for tier selection), and handed to
    ``sink(classified_df, batch_id)``. Each batch's OWN persists (the
    multi-consumed shingle relation) are collected locally and
    unpersisted after the sink returns — even when it raises — so the
    ingest pipeline itself holds O(1) cache state on a long-running
    stream, and the micro-batch worker thread never touches the
    global session cache registry (which a concurrent main-thread
    query may be using). The flip side: anything the SINK persists is
    the sink's own responsibility — a sink that invokes tracked
    operators must release what it tracked, because nothing on this
    path drains the global registry for it (by design).

    available_now=True (the default) drains the current data and
    terminates — bounded replays, tests, catch-up runs. Pass
    available_now=False for a continuous stream. await_termination
    defaults to following available_now: a bounded replay blocks to
    completion, a continuous stream returns the live handle (pass an
    explicit True only if you want to block on a continuous stream,
    e.g. to hold a driver process open). Returns the StreamingQuery
    either way.

    ``classify`` picks the candidate tier — any (batch, index,
    keep=...) -> DataFrame classifier with ingest_batch's output
    contract. Default is the full-recall AllPairs prefix tier; a
    stream over a SATURATED corpus (where that tier's candidate join
    is the measured df² cliff — SCALING.md round 11) passes the LSH
    or adaptive tier instead, e.g.
    ``functools.partial(ingest_batch_lsh, bands=bands, check=False)``
    with bands prebuilt ONCE from the frozen index — this loop never
    mutates the index, so prebuilt bands cannot go stale here, which
    is exactly the structural-lockstep case check=False exists for
    (leaving the guard on would add a doc-set-sized comparison job to
    every micro-batch) — or ``functools.partial(ingest_batch_adaptive,
    bands=bands, saturation=sat, check=False)`` with the saturation
    statistic precomputed the same way; per-batch work then stays
    batch-sized either way.
    """

    def _classify(batch_df: DataFrame, batch_id: int) -> None:
        batch_persists: list[DataFrame] = []

        def keep(df: DataFrame) -> DataFrame:
            batch_persists.append(df.persist())
            return df

        try:
            sink(
                classify(
                    batch_df.filter(F.col("text").isNotNull()), index, keep=keep
                ),
                batch_id,
            )
        finally:
            for df in batch_persists:
                # a teardown-time unpersist failure must not mask the
                # sink's real exception or skip the remaining frames
                with contextlib.suppress(Exception):
                    df.unpersist()

    return _start(docs_stream, _classify, checkpoint_dir, available_now,
                  await_termination)


def _start(docs_stream, classify, checkpoint_dir, available_now,
           await_termination):
    writer = docs_stream.writeStream.foreachBatch(classify)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if await_termination is None:
        await_termination = available_now
    if await_termination:
        q.awaitTermination()
    return q


def stream_ingest_admit(
    docs_stream: DataFrame,
    index_path: str,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
    rerank: bool = False,
    admit_log: str | None = None,
    available_now: bool = True,
    await_termination: bool | None = None,
    classify: Callable = ingest_batch,
):
    """The production admit loop over a SAVED index (the
    save_base_index parquet layout): every micro-batch is classified
    against the CURRENT index state, handed to ``sink(classified_df,
    batch_id)``, and then its 'new' docs are ADMITTED via
    merge_into_saved_index — so they are base for the NEXT batch, and
    the stream deduplicates against everything it has already
    accepted, not just a frozen snapshot (the gap stream_ingest_dedup
    deliberately leaves to its caller).

    Exactly-once admission under at-least-once foreachBatch delivery:
    each batch's merge writes a commit token (``admit_log/batch-<id>``,
    default ``<index>/_ADMITTED/``) INSIDE the merge's mutation
    window, after the swap. A re-delivered batch whose token exists
    was fully admitted and is skipped outright — re-running it would
    classify its docs against an index that now CONTAINS them (every
    doc its own exact dup), so the skip also keeps sink deliveries
    semantically stable: a batch's classification is always computed
    against the pre-admission state. A crash between swap and token
    strands the merge's _MERGE_MUTATING marker, which fails the next
    batch loudly instead of guessing. Batches with nothing to admit
    write the token directly, so their replays are skipped exactly
    like admitting ones: the sink sees each COMMITTED batch once —
    re-delivery only happens for the crash window between sink and
    token, where classify-then-sink repeats (ordinary
    at-least-once).

    Couplings the caller owns: token names are ``batch-<batch_id>``,
    and batch ids restart at 0 with a fresh checkpoint — reusing an
    admit_log across checkpoint lineages makes a NEW batch 0 look
    already-admitted. Starting a new checkpoint against an existing
    index means passing a new admit_log (or clearing the old one).
    The one spelling of that trap a caller hits WITHOUT reaching for
    it — checkpoint_dir=None (a fresh implicit checkpoint every run)
    over the durable default admit_log — is refused up front: if the
    log already holds batch receipts, this run's batch ids would
    collide with them and its batches would be silently skipped (no
    sink delivery, no admission, no error). One stream per index:
    the merge's single-writer lock refuses concurrent admitters
    loudly.

    rerank=False (the default) is deliberate: strict re-ranking
    inside every micro-batch re-ranks all base docs sharing a shingle
    with the batch — unbounded per-batch work on drift-heavy
    vocabularies. The streaming loop keeps per-batch work
    batch-sized and leaves rank freshness to the scheduled
    compact_saved_index (exact-tier verdicts never depend on ranks).

    Cache lifecycle matches stream_ingest_dedup: per-batch persists
    are local to the worker thread and dropped in a finally; the
    global registry is never touched from this path.

    ``classify`` picks the candidate tier, as in stream_ingest_dedup
    — but here the index GROWS every batch, so a caller-prebuilt
    bands relation would go stale on every admission. The saved
    layout solves this: when the index carries the optional ``bands``
    relation (save_base_index with_bands=True / save_index_bands) and
    ``classify`` accepts a ``bands`` parameter (ingest_batch_lsh,
    ingest_batch_adaptive), each batch gets the SAVED bands injected
    — maintained inside every merge's mutation window, so they are in
    lockstep with the index by construction and the per-batch band
    work is O(batch) (derive the batch's rows, join against the
    maintained relation) instead of re-deriving the whole index's
    bands in-plan. Injection overrides any partial-bound bands= —
    those are exactly the relation that goes stale here. Without
    saved bands, ``ingest_batch_lsh`` derives them from the freshly
    loaded index's shingles (an index-sized term per batch, but still
    far below the prefix tier's df² candidate join on saturated
    corpora: 2.0 s bands vs a 44 s candidate join at the sf1 rung);
    ``ingest_batch_adaptive`` lets the measured saturation decide per
    batch — classifiers accepting a ``saturation`` parameter get it
    injected per batch too, computed exactly from the index's
    maintained (sh, df) relation (shingle_saturation_from_df — one
    df-relation-sized aggregate, never an exploded-shingle scan, and
    always fresh against the growing index, overriding any
    partial-bound value)."""
    import inspect
    import os

    index_spark_path, index_os_path = _saved_index_paths(index_path)
    tokens = admit_log if admit_log is not None else os.path.join(
        index_os_path, "_ADMITTED"
    )
    bands_os_dir = os.path.join(index_os_path, "bands")
    bands_spark_dir = os.path.join(index_spark_path, "bands")
    try:
        params = inspect.signature(classify).parameters
    except (TypeError, ValueError):  # C callables etc.: no injection
        params = {}
    accepts_bands = "bands" in params
    accepts_saturation = "saturation" in params
    if checkpoint_dir is None:
        import re

        stale = []
        with contextlib.suppress(OSError):
            stale = [
                f for f in os.listdir(tokens) if re.fullmatch(r"batch-\d+", f)
            ]
        if stale:
            raise ValueError(
                f"stream_ingest_admit: checkpoint_dir is None but the admit "
                f"log {tokens!r} already holds {len(stale)} batch receipt(s) "
                f"(e.g. {sorted(stale)[0]!r}). Without a checkpoint, batch "
                f"ids restart at 0 on every run, so this run's batches "
                f"would match those stale receipts and be silently skipped "
                f"— no sink delivery, no admission, no error. Pass the "
                f"checkpoint_dir the receipts were written under, or a "
                f"fresh admit_log (prune_admit_log clears a retired one)."
            )

    def _classify_admit(batch_df: DataFrame, batch_id: int) -> None:
        token = os.path.join(tokens, f"batch-{batch_id}")
        if os.path.exists(token):
            return  # committed with a previous delivery's merge
        batch_persists: list[DataFrame] = []

        def keep(df: DataFrame) -> DataFrame:
            batch_persists.append(df.persist())
            return df

        try:
            batch = batch_df.filter(F.col("text").isNotNull())
            index = load_base_index(batch_df.sparkSession, index_path)
            extra = {}
            if accepts_bands and os.path.isdir(bands_os_dir):
                # the saved bands relation — maintained inside every
                # merge's mutation window, so lockstep with the index
                # this batch classifies against (call-time kwargs
                # override any partial-bound stale bands=)
                extra["bands"] = batch_df.sparkSession.read.parquet(
                    bands_spark_dir
                )
            if accepts_saturation:
                # the tier-dispatch statistic, refreshed per batch from
                # the index's maintained (sh, df) relation — exact and
                # df-relation-sized, never an exploded-shingle scan; a
                # partial-bound saturation= would freeze the dispatch
                # against a growing index, so the fresh value overrides
                extra["saturation"] = shingle_saturation_from_df(index.df)
            classified = keep(classify(batch, index, keep=keep, **extra))
            sink(classified, batch_id)
            new_docs = batch.join(
                classified.filter(F.col("status") == "new").select("doc_id"),
                "doc_id",
                "left_semi",
            )
            if new_docs.limit(1).count():
                merge_into_saved_index(
                    batch_df.sparkSession,
                    index_path,
                    new_docs,
                    rerank=rerank,
                    commit_token=token,
                )
            else:
                # nothing to admit: no index mutation to make the
                # token atomic with — record the receipt directly
                # (same exclusive-create helper the merge uses)
                _admit_receipt(token)
        finally:
            for df in batch_persists:
                with contextlib.suppress(Exception):
                    df.unpersist()

    return _start(docs_stream, _classify_admit, checkpoint_dir, available_now,
                  await_termination)


def prune_admit_log(admit_log: str, keep_from_batch_id: int) -> int:
    """Remove admission receipts below ``keep_from_batch_id`` so the
    token log stays bounded on a long-running stream (one file per
    micro-batch otherwise accumulates forever). Returns the number
    removed; files that are not ``batch-<n>`` receipts are left
    alone.

    Safety contract: pruning batch N's token is safe once the
    stream's CHECKPOINT has durably committed batch N — Structured
    Streaming never re-delivers batches below the committed offset
    for the same checkpoint lineage, so the token can no longer be
    consulted. Pruning below a checkpoint you intend to RESET
    re-opens exactly the re-admission window the tokens close (the
    merge's admission guard still fails loudly rather than
    double-counting, but committed batches would re-sink)."""
    import os
    import re

    if not os.path.isdir(admit_log):
        return 0
    removed = 0
    for f in os.listdir(admit_log):
        m = re.fullmatch(r"batch-(\d+)", f)
        if m and int(m.group(1)) < keep_from_batch_id:
            os.remove(os.path.join(admit_log, f))
            removed += 1
    return removed
