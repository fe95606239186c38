"""Streaming ANN ingest: append arriving vectors to a saved IVF-PQ
index (operators/similarity.py saved-ANN lifecycle) via foreachBatch —
the form a continuously-growing vector corpus runs at 100 TB: the
index is a maintained on-disk table (codes + frozen quantizers), and
every arriving micro-batch pays O(batch) encode + append work.

Exactly-once comes for FREE here, unlike the dedup admit loop
(streaming/ingest.py), and the difference is worth stating: dedup
admission changes CLASSIFICATIONS (a batch must be classified against
exactly the pre-admission index state, so re-delivery needs commit
tokens to pin which state it saw), while ANN append has no
read-dependent output — the encode depends only on the FROZEN
quantizers, never on the other codes. Duplicate suppression is
therefore sufficient: every batch merges with resume semantics
(already-committed ids anti-joined away by one bounded broadcast
probe), so foreachBatch's at-least-once re-delivery appends nothing on
a full replay and exactly the missing remainder after a mid-batch
crash. No token log, no pruning, no checkpoint-lineage coupling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from presto_on_ray_spark.operators.similarity import (
    _SEM_INGEST_NPROBE,
    _SEM_TAU,
    merge_into_saved_ann_index,
    quantized,
    semantic_cells,
    semantic_ingest_verdicts,
)
from presto_on_ray_spark.streaming.ingest import _start


def stream_ann_ingest(
    vec_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    await_termination: bool | None = None,
    vec_col: str = "embedding",
):
    """Run ANN admission over a streaming (vec_id, <vec_col>) source:
    every micro-batch is filtered to non-null vectors, quantized with
    the module's round(x*1000) convention (pass vec_col="qv" for a
    source that is already array<long>-quantized), and appended to the
    saved index at ``index_path`` under the single-writer marker.

    Re-delivery safety is structural (see module docstring): each
    merge runs resume=True, so replayed ids are skipped by the
    committed-id probe and only genuinely-new vectors encode. The ONE
    failure the loop will not absorb silently is a vec_id duplicated
    WITHIN a single batch — the encode argmin would keep one arbitrary
    vector, so the admission guard fails the batch loudly and the
    stream stops (deduplicate upstream; this mirrors the dedup admit
    loop's refusal to guess).

    A crashed append strands the index's writer marker and every
    subsequent batch fails loudly until the documented one-call
    recovery runs (compact_saved_ann_index(force=True,
    drop_torn=True)); the stream can then simply be restarted — the
    crashed batch re-delivers and resume skips its committed
    survivors. At 100 TB: schedule compact_saved_ann_index
    periodically anyway (file-count hygiene after many small
    appends), exactly like the dedup side's compaction contract."""

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        _merge_batch(batch_df, index_path, vec_col)

    return _start(
        vec_stream, _admit, checkpoint_dir, available_now, await_termination
    )


def _merge_batch(batch_df: DataFrame, index_path: str, vec_col: str) -> bool:
    """The shared per-trigger admit step (null filter, quantize,
    empty-batch skip, resume-merge) — one body for both ingest loops
    so the within-batch-duplicate contract and the quantize convention
    can never drift between them. Returns whether anything merged."""
    batch = batch_df.filter(F.col(vec_col).isNotNull())
    if vec_col == "qv":
        v = batch.select("vec_id", "qv")
    else:
        v = batch.select("vec_id", quantized(F.col(vec_col)).alias("qv"))
    # emptiness is checked AFTER the null filter: an all-NULL batch
    # must not pay the marker/guard/append cycle or write empty
    # append-file litter any more than an idle trigger does
    if v.isEmpty():
        return False
    merge_into_saved_ann_index(
        batch_df.sparkSession, index_path, v, resume=True
    )
    return True


def stream_ann_ingest_with_rebuild(
    vec_stream: DataFrame,
    index_path: str,
    vectors_source,
    growth_factor: float = 4.0,
    rebuild_cooldown_triggers: int = 3,
    on_rebuild=None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    await_termination: bool | None = None,
    vec_col: str = "embedding",
):
    """stream_ann_ingest plus the MAINTENANCE half run as policy — the
    streaming twin of the batch lifecycle key
    (operators/similarity.similarity_ivfpq_lifecycle_rebuild): after
    each batch's merge-append, read ann_rebuild_advice off the live
    index; when the corpus has outgrown the frozen quantizers' design
    population (ratio > ``growth_factor``) AND the rebuild cooldown
    has expired, rebuild at auto_ivf_cells over the FULL vector store
    and publish the new generation (store.publish_generation's atomic
    flip; NOTE the ANN store keeps ONLY the live generation — its
    publishes retain no superseded generation (similarity._ANN_RETAIN
    = 0), unlike the counts store's one-generation grace window — so
    a reader holding a lazy plan bound before the flip fails loudly on
    its next action and must reload, exactly load_ann_index's
    documented "readers coordinate with writers" contract; this loop
    inherits it rather than changing it).

    ``vectors_source`` is a callable ``spark -> (vec_id, qv)`` over
    the WHOLE vector corpus: a rebuild re-trains quantizers and
    re-encodes, which needs raw vectors — the index stores lossy
    codes, so the vector store (the table this same pipeline appends
    vectors to) is a required input, exactly as in batch. The
    ``rebuild_cooldown_triggers`` guard mirrors the classifier
    retrain loop's publish cooldown: a growth episode spanning many
    triggers produces ONE rebuild per cooldown period, not one per
    batch (each rebuild is a full corpus pass — the expensive,
    scheduled operation; the per-trigger advice read is two bounded
    aggregates). State (triggers since last rebuild) lives in
    ``<index>/_REBUILD_STATE``, replaced atomically
    (store.atomic_write), so a restarted stream resumes its cooldown
    phase; the file is outside the generation protocol's namespace
    (gen-*/_CURRENT/_ANN_WRITING) and invisible to it.

    ``on_rebuild(advice_dict)`` fires after each publish — the
    observability hook a scheduler logs/alerts on."""
    import json
    import os

    from presto_on_ray_spark.operators.similarity import (
        ann_rebuild_advice,
        auto_ivf_cells,
        build_ann_index,
        load_ann_index,
        save_ann_index,
    )
    from presto_on_ray_spark.store import atomic_write, local_paths_or_none

    _, os_path = local_paths_or_none(index_path)
    if os_path is None:
        raise ValueError(
            "stream_ann_ingest_with_rebuild requires the local "
            "generational protocol (rebuilds publish generations); "
            f"{index_path!r} is not a local path"
        )
    state_file = os.path.join(os_path, "_REBUILD_STATE")

    def _read_since() -> int | None:
        if os.path.exists(state_file):
            with open(state_file, encoding="utf-8") as fh:
                return json.load(fh)["since_rebuild"]
        return None

    def _write_since(n: int | None) -> None:
        atomic_write(state_file, json.dumps({"since_rebuild": n}))

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _merge_batch(batch_df, index_path, vec_col)
        since = _read_since()
        if since is not None and since < rebuild_cooldown_triggers:
            # in cooldown the advice result would be unused — skip the
            # index load + codes count entirely; the counter still
            # ticks so the phase expires on schedule
            _write_since(since + 1)
            return
        advice = ann_rebuild_advice(
            load_ann_index(spark, index_path), growth_factor
        )
        if advice["rebuild_due"]:
            v_all = vectors_source(spark)
            save_ann_index(
                build_ann_index(
                    v_all, n_cells=auto_ivf_cells(v_all.count())
                ),
                index_path,
                force=True,
            )
            _write_since(0)
            if on_rebuild is not None:
                on_rebuild(advice)
        elif since is not None:
            _write_since(since + 1)

    return _start(
        vec_stream, _admit, checkpoint_dir, available_now, await_termination
    )


def _path_missing(e: BaseException) -> bool:
    """The dedup.py saved-bands convention for 'this parquet path does
    not exist yet' — the ONLY read failure the semantic loops map to a
    bootstrap/absent state; everything else must stay loud (one
    helper, because the r15 self-review found the substring set
    re-spelled three times and a drifted copy reintroduces either the
    wholesale-admission or the quiet-advice bug)."""
    return "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e)


def _sidecar_unreadable(e: BaseException) -> bool:
    """_path_missing plus the torn-first-write state (a dir of
    _temporary litter no schema can be inferred from) — acceptable to
    self-heal ONLY for derived sidecars, never for the store."""
    return (
        _path_missing(e)
        or "UNABLE_TO_INFER_SCHEMA" in str(e)
        or "Unable to infer schema" in str(e)
    )


def stream_semantic_admit(
    vec_stream: DataFrame,
    store_path: str,
    nprobe: int | None = None,
    tau: float = _SEM_TAU,
    on_batch=None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    await_termination: bool | None = None,
    vec_col: str = "embedding",
):
    """Semantic dedup admission run as streaming policy — the
    embedding-modality twin of stream_ingest_admit: every micro-batch
    is verdicted against the ACCEPTED corpus so far (operators/
    similarity.semantic_ingest_verdicts — candidates bounded by probed
    coarse cells under the auto sqrt-n dial, never batch x corpus) and
    only the admitted vectors append to the parquet vector store at
    ``store_path``. The store doubles as the corpus for every later
    batch, so admission is SEQUENTIAL by construction: a vector
    admitted in batch k shadows its near-dups in batch k+1 — exactly
    the batch twin run once per batch with the store advanced between
    runs (pinned in tests/test_streaming_ann.py).

    Re-delivery safety needs no token log here, and the reasoning is
    the dedup admit loop's, inverted: that loop's verdicts must pin
    WHICH index state a replayed batch saw because a strict merge
    re-ranks the whole index (state advances even for rejected docs).
    This store advances ONLY by appending admitted vectors, under
    coarse cells FROZEN in the store's quantizer sidecar
    (``<store>/_cents`` — underscore-hidden from the main parquet
    read; derived once from the corpus present at first verdict, the
    ANN index's frozen-quantizer discipline). Frozen cells make
    rejection MONOTONE under growth — a later corpus is a candidate
    superset in the same probe geometry — so a replayed batch splits
    cleanly: ids already in the store were admitted before and are
    skipped by the replay probe (one column-pruned id scan of the
    store semi-joined against the broadcast batch ids); ids absent
    from the store were REJECTED before and re-verdict to rejection
    again (monotonicity; their own stored copies are barred by the
    rule's corpus-side id self-exclusion). Cells re-derived per
    trigger would move both the dial and the boundaries and void
    exactly this. The growth answer is the ANN side's, not silent
    re-derivation: when the corpus outgrows the frozen dial
    (ann_rebuild_advice's ratio logic applies verbatim with
    built_for = cells squared), a maintenance pass BETWEEN stream
    runs rewrites ``_cents`` from the full store — future verdicts
    shift the way any index rebuild shifts them.

    The append is one coalesced file per batch (O(batch) bytes,
    task-commit atomicity; compact with a parquet rewrite on the
    usual file-count-hygiene schedule). An EMPTY store bootstraps:
    the first non-empty batch has no corpus to collide with and is
    admitted wholesale, seeding the corpus — the same
    first-batch-seeds-the-reference convention as the drift loops.
    Within-batch near-dups are NOT compared against each other (the
    batch twin's contract); run semantic_dedup upstream when
    intra-batch pruning is wanted. Duplicate vec_ids WITHIN a batch
    fail the batch loudly, mirroring the ANN ingest loop's refusal to
    pick an arbitrary winner.

    ``nprobe=None`` (the default) resolves once at stream start: the
    ``_probe`` sidecar if a rebuild_semantic_cells(target_recall=...)
    pass has dialed this geometry, else the fixed _SEM_INGEST_NPROBE —
    rebuild re-dials, the stream just reads. Resolution is per-RUN,
    matching the frozen-geometry contract (rebuilds happen between
    runs, so mid-run the sidecar never changes under a well-scheduled
    maintainer).

    ``on_batch(stats)`` fires per non-empty trigger with
    {batch_id, arrived, fresh, admitted} — the bounded counts a
    scheduler logs; omit it and the loop never pays the extra
    aggregates."""
    import contextlib

    cents_path = store_path.rstrip("/") + "/_cents"
    if nprobe is None:
        dialed = _read_probe_sidecar(store_path)
        nprobe = dialed if dialed is not None else _SEM_INGEST_NPROBE

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.filter(F.col(vec_col).isNotNull())
        if vec_col == "qv":
            v = batch.select("vec_id", "qv")
        else:
            v = batch.select("vec_id", quantized(F.col(vec_col)).alias("qv"))
        v = v.persist()
        try:
            if v.isEmpty():
                return
            if v.groupBy("vec_id").count().filter(
                "count > 1"
            ).limit(1).collect():
                raise ValueError(
                    "stream_semantic_admit: duplicate vec_id within a single "
                    "batch — admission would keep an arbitrary copy; "
                    "deduplicate upstream (e.g. semantic_dedup or a "
                    "dropDuplicates on vec_id)"
                )
            # the STORE is authoritative data: only the path-missing
            # failure maps to the bootstrap path (dedup.py's saved-
            # bands convention) — a transient FS error or corrupt
            # footer must fail the trigger loudly, never admit the
            # batch wholesale past the dedup rule and the replay probe
            try:
                store = spark.read.parquet(store_path)
            except Exception as e:  # AnalysisException: PATH_NOT_FOUND
                if not _path_missing(e):
                    raise
                store = None
            cents = None
            if store is not None:
                # the store's FROZEN quantizer sidecar (underscore
                # path: invisible to the main parquet read). Cells
                # re-derived per trigger from the growing corpus would
                # move both the dial and the boundaries, making replay
                # verdicts unstable; frozen cells make rejection
                # MONOTONE under growth (candidate sets only gain
                # members), which is what replay determinism rests on.
                # Unlike the store, the sidecar is DERIVED data: a
                # missing or torn one (crashed first write leaves a
                # dir of _temporary litter the read cannot infer a
                # schema from) is rebuilt from the store and
                # overwritten — self-healing; any other failure
                # raises.
                try:
                    cents = spark.read.parquet(cents_path)
                    if cents.isEmpty():
                        # a zero-row sidecar (e.g. a maintenance pass
                        # gone wrong before rebuild_semantic_cells
                        # refused empty stores) would admit everything
                        # forever with n_cand=0 — treat it as absent
                        cents = None
                except Exception as e:
                    if not _sidecar_unreadable(e):
                        raise
                    cents = None
                if cents is None:
                    derived = semantic_cells(store.select("vec_id", "qv"))
                    if derived.isEmpty():
                        # empty-but-present store (a zero-row seed
                        # write): nothing to freeze yet — bootstrap
                        # this batch and leave sidecar derivation to
                        # the first trigger that sees a corpus, same
                        # as the no-store path
                        cents = None
                    else:
                        derived.coalesce(1).write.mode(
                            "overwrite"
                        ).parquet(cents_path)
                        cents = spark.read.parquet(cents_path)
            if store is not None and cents is not None:
                replayed = store.select("vec_id").join(
                    F.broadcast(v.select("vec_id")), "vec_id"
                )
                fresh = v.join(F.broadcast(replayed), "vec_id", "left_anti")
                verdicts = semantic_ingest_verdicts(
                    store.select("vec_id", "qv"), fresh,
                    nprobe=nprobe, tau=tau, cents=cents,
                )
                admitted = fresh.join(
                    verdicts.filter(F.col("admit")).select("vec_id"), "vec_id"
                )
            else:
                fresh = v
                admitted = v
            admitted = admitted.select("vec_id", "qv").persist()
            n_admitted = admitted.count()
            # stats are materialized BEFORE the append: fresh/verdicts
            # are lazy plans over the store READ, and a parquet source
            # re-lists files per action — counted after the append they
            # would see the just-written file and report post-append
            # state
            stats = None
            if on_batch is not None:
                stats = {
                    "batch_id": batch_id,
                    "arrived": v.count(),
                    "fresh": fresh.count(),
                    "admitted": n_admitted,
                }
            if n_admitted:
                admitted.coalesce(1).write.mode("append").parquet(store_path)
            if stats is not None:
                on_batch(stats)
        finally:
            with contextlib.suppress(Exception):
                admitted.unpersist()
            with contextlib.suppress(Exception):
                v.unpersist()

    return _start(
        vec_stream, _admit, checkpoint_dir, available_now, await_termination
    )


def semantic_cells_advice(spark, store_path: str, growth_factor: float = 4.0) -> dict:
    """ann_rebuild_advice's ratio logic applied to a semantic
    admission store (stream_semantic_admit): the frozen ``_cents``
    sidecar was sized for ~cells^2 vectors (the inverse of the
    auto_ivf_cells sqrt dial); once the admitted corpus exceeds
    ``growth_factor`` x that, per-cell candidate lists have grown a
    cell-split's worth past the design operating point and the sidecar
    is due a rebuild. Two bounded reads (store row count via the
    column-pruned id scan, sidecar cell count); returns
    {vectors, cells, built_for, auto_cells_now, ratio, rebuild_due} —
    rebuild_due is False while no sidecar exists (the next verdict
    trigger derives a fresh one at the current auto dial anyway)."""
    from presto_on_ray_spark.operators.similarity import auto_ivf_cells

    vectors = spark.read.parquet(store_path).count()
    try:
        cells = spark.read.parquet(store_path.rstrip("/") + "/_cents").count()
    except Exception as e:  # only a MISSING sidecar is quiet; a torn or
        # unreadable one is exactly the state that needs maintenance
        # attention and must raise, not report rebuild_due=False
        if not _path_missing(e):
            raise
        return {
            "vectors": vectors, "cells": 0, "built_for": 0,
            "auto_cells_now": auto_ivf_cells(vectors), "ratio": 0.0,
            "rebuild_due": False,
        }
    built_for = cells * cells
    ratio = vectors / max(built_for, 1)
    return {
        "vectors": vectors,
        "cells": cells,
        "built_for": built_for,
        "auto_cells_now": auto_ivf_cells(vectors),
        "ratio": round(ratio, 3),
        "rebuild_due": ratio > growth_factor,
    }


def rebuild_semantic_cells(
    spark, store_path: str, target_recall: float | None = None,
    tau: float = _SEM_TAU,
) -> dict:
    """The maintenance pass the admission store's docstring promises:
    rewrite the ``_cents`` sidecar from the FULL current store at the
    auto sqrt-n dial. Runs BETWEEN stream runs (the admission loop
    reads the sidecar per trigger; the parquet overwrite is not
    atomic under a concurrent reader — the same single-maintainer
    scheduling contract as compact_saved_ann_index, stated rather
    than hidden). Future verdicts shift the way any quantizer rebuild
    shifts them: the rule (probed cells, cosine >= tau, earliest-id)
    is unchanged, the geometry moves to the corpus's current operating
    point — and replay determinism is preserved because rebuilds sit
    at run boundaries, never inside a checkpointed run.

    ``target_recall`` additionally runs semantic_probe_dial over the
    rebuilt geometry (the once-per-rebuild sampled full-corpus pass —
    exactly where its cost belongs) and persists the chosen nprobe in
    the ``_probe`` sidecar, which stream_semantic_admit picks up on
    its next run: rebuild re-dials, the stream just reads. Any
    PRE-EXISTING ``_probe`` sidecar is removed IMMEDIATELY after the
    cents rewrite, before the (multi-job, killable) dial runs — a
    crash inside the dial must leave the new geometry with NO dialed
    nprobe, never with one measured on the old geometry. The probe
    sidecar needs the local-path protocol (an os-level atomic rename),
    so dialing a non-local store raises, mirroring
    stream_ann_ingest_with_rebuild's _REBUILD_STATE contract.
    Refuses an EMPTY store: freezing zero cells would make every
    later admission a silent accept-all (n_cand=0 forever).
    Returns the post-rebuild advice dict (rebuild_due False by
    construction: vectors <= auto_cells(vectors)^2 for n >= 1), plus
    the dial dict under ``probe_dial`` when one ran."""
    import json
    import os

    from presto_on_ray_spark.operators.similarity import (
        semantic_probe_dial,
    )
    from presto_on_ray_spark.store import atomic_write

    store = spark.read.parquet(store_path).select("vec_id", "qv")
    if store.isEmpty():
        raise ValueError(
            f"rebuild_semantic_cells: the store at {store_path!r} is "
            f"empty — an empty _cents sidecar would admit every future "
            f"batch with n_cand=0; seed the store (or let the admission "
            f"stream bootstrap it) before scheduling maintenance"
        )
    cents_path = store_path.rstrip("/") + "/_cents"
    probe_os = _probe_os_path(store_path)
    if target_recall is not None and probe_os is None:
        raise ValueError(
            "rebuild_semantic_cells(target_recall=...) persists the "
            "dialed nprobe via an os-level atomic rename, which needs "
            f"a local store path; {store_path!r} is not one"
        )
    semantic_cells(store).coalesce(1).write.mode("overwrite").parquet(
        cents_path
    )
    # stale-dial removal happens HERE, directly after the geometry
    # changed — not after the dial, whose failure window would
    # otherwise pair old-geometry nprobes with new cells
    if probe_os is not None and os.path.exists(probe_os):
        os.remove(probe_os)
    out = semantic_cells_advice(spark, store_path)
    if target_recall is not None:
        dial = semantic_probe_dial(
            store, tau=tau, target_recall=target_recall,
            cents=spark.read.parquet(cents_path),
        )
        atomic_write(probe_os, json.dumps({"nprobe": dial["nprobe"],
                                           "target_recall": target_recall}))
        out = dict(out, probe_dial=dial)
    return out


def _probe_os_path(store_path: str) -> str | None:
    """OS-level path of the ``_probe`` sidecar, via the same
    local-vs-remote mapping as the saved stores
    (store.local_paths_or_none handles file:-URI spellings); None for
    non-local stores, where the sidecar protocol (atomic rename) does
    not exist."""
    import os

    from presto_on_ray_spark.store import local_paths_or_none

    _, os_path = local_paths_or_none(store_path)
    if os_path is None:
        return None
    return os.path.join(os_path, "_probe")


def _read_probe_sidecar(store_path: str) -> int | None:
    """The dialed nprobe persisted by rebuild_semantic_cells, or None
    when no dial has run for the current geometry (always None for
    non-local stores — the dial refuses to persist there, so nothing
    can be silently ignored)."""
    import json
    import os

    probe_os = _probe_os_path(store_path)
    if probe_os is None or not os.path.exists(probe_os):
        return None
    with open(probe_os, encoding="utf-8") as fh:
        return int(json.load(fh)["nprobe"])


def stream_semantic_decontaminate(
    vec_stream: DataFrame,
    eval_v: DataFrame,
    sink,
    nprobe: int = _SEM_INGEST_NPROBE,
    tau: float = _SEM_TAU,
    cents: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    await_termination: bool | None = None,
    vec_col: str = "embedding",
):
    """operators/similarity.decontaminate_semantic run as streaming
    policy: every arriving train micro-batch is screened against the
    FROZEN eval-set geometry and its verdict relation (vec_id,
    contaminated, eval_match, n_cand) is handed to
    ``sink(verdicts_df, batch_id)`` — the monitor a training-data
    intake runs beside the admission loop so eval leakage is flagged
    before tokens reach a run. The eval set is the small corpus side:
    persist ``eval_v`` (and pass ``cents`` — semantic_cells over the
    eval set, derived once — to pin the geometry across triggers and
    skip the per-trigger head scan); per-batch work is then one
    broadcast argmin over the batch plus probed-eval-cell joins,
    O(batch x eval/nc). The screen is stateless per trigger (same
    batch → same verdicts — replay just re-emits), so no sidecar, no
    checkpoint coupling beyond the source's own progress. For recall
    above the fixed 2-cell probe, run semantic_probe_dial over the
    eval corpus once and pass its nprobe."""
    from presto_on_ray_spark.operators.similarity import (
        semantic_ingest_verdicts,
    )

    if cents is None:
        cents = semantic_cells(eval_v.select("vec_id", "qv"))
        cents = cents.persist()
        cents.count()

    def _screen(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.filter(F.col(vec_col).isNotNull())
        if vec_col == "qv":
            v = batch.select("vec_id", "qv")
        else:
            v = batch.select("vec_id", quantized(F.col(vec_col)).alias("qv"))
        verdicts = semantic_ingest_verdicts(
            eval_v.select("vec_id", "qv"), v,
            nprobe=nprobe, tau=tau, cents=cents,
        )
        sink(
            verdicts.select(
                "vec_id",
                (~F.col("admit")).alias("contaminated"),
                F.col("dup_of").alias("eval_match"),
                "n_cand",
            ),
            batch_id,
        )

    return _start(
        vec_stream, _screen, checkpoint_dir, available_now, await_termination
    )
