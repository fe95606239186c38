"""Workload ``ingest_admit``: the saved-index admit loop.

Setup saves a seeded half of ``documents`` with ``save_base_index``.
The other half lands as seeded parquet batches of 100 docs, in the
corpus's own duplicate structure (about 0.2% exact and 3% near
duplicates of nearby docs). One doc of each batch is an injected
exact re-send of a base doc's text under a fresh doc id: with the
corpus's own rate most batches would hold no exact duplicate, and the
exact-tier check could not catch a tier that never fires.

A round lands BATCHES batch files and runs
``streaming.ingest.stream_ingest_admit`` once with its production
defaults (``rerank=False``, ``ingest_batch``, available-now, one file
per trigger), so it admits BATCHES micro-batches, then runs
``compact_saved_index`` (K = BATCHES). An untraced run is one timed
round with no warm-up: an available-now run is a fresh process that
pays the cold start each time, and the first batch of the round
carries it. A traced run is an unmeasured warm-up round, an untraced
round and a traced round, so the two measured rounds are equally warm
and their difference is the tracing overhead. The sink
collects every batch's ``(doc_id, status, n_base_matches)``.

After the timed rounds, every batch's exact-tier verdicts are checked
against a DuckDB digest join over base plus the docs admitted before
it, and the compacted index is checked against ``build_base_index``
over base plus every admitted doc, relation by relation.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import common

BATCH_DOCS = 100  # docs per landed batch file
RESENDS = 1  # of them, exact re-sends of a base doc
BATCHES = 2  # batches per round; the round compacts after the last
WORK_DIR = os.path.join(common.OUT_DIR, "ingest")


def make_inputs(seed: int, work: str, n_batches: int) -> list[str]:
    """Write base.parquet and ``n_batches`` landing batches; returns the
    batch paths."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    docs = pq.read_table(os.path.join(common.DATA_DIR, "documents.parquet"),
                         columns=["doc_id", "text"])
    docs = docs.select(["doc_id", "text"]).filter(docs["text"].is_valid())
    order = list(range(docs.num_rows))
    rng.shuffle(order)
    half = len(order) // 2
    base = docs.take(np.array(sorted(order[:half])))
    pq.write_table(base, os.path.join(work, "base.parquet"))

    ids = docs["doc_id"].to_pylist()
    texts = docs["text"].to_pylist()
    base_texts = base["text"].to_pylist()
    held, fresh_n, next_id, paths = order[half:], BATCH_DOCS - RESENDS, 10_000_000, []
    os.makedirs(os.path.join(work, "land"))
    for b in range(n_batches):
        rows = [(ids[i], texts[i]) for i in held[b * fresh_n:(b + 1) * fresh_n]]
        for _ in range(RESENDS):
            rows.append((next_id, rng.choice(base_texts)))
            next_id += 1
        rng.shuffle(rows)
        path = os.path.join(work, "land", f"b{b:04d}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }), path)
        paths.append(path)
    return paths


def _tree(path: str) -> dict[int, int]:
    """inode -> size of every file under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except FileNotFoundError:
                continue
            out[st.st_ino] = st.st_size
    return out


def _written(before: dict[int, int], after: dict[int, int]) -> tuple[int, int]:
    """(files, bytes) of files present after but not before, by inode:
    a renamed generation keeps its inode and is not counted twice."""
    new = [size for ino, size in after.items() if ino not in before]
    return len(new), sum(new)


class AdmitLoop:
    """Runs rounds of the admit loop and records each batch: the batch
    starts where the loop loads the saved index and ends where it
    returns from the admission (merge or receipt)."""

    def __init__(self, spark, index, tracer: common.Tracer):
        self.spark, self.index, self.tracer = spark, index, tracer
        self.sc = spark.sparkContext
        self.batches: list[dict] = []
        self.compactions: list[dict] = []
        self.cur: dict | None = None
        self.label = ""  # the current round's: "warmup", "untraced", "traced"

    # wrappers of the names streaming.ingest looked up at import
    def wrap_load(self, fn):
        def load_base_index(spark, path):
            n = len(self.batches)
            self.cur = {"n": n, "t0": time.perf_counter(), "w0": time.time(),
                        "tree0": _tree(self.index), "persists": 0,
                        "storage": 0, "label": self.label}
            self.cur["root"] = self.tracer.begin(f"b{n}", "streaming.batch")
            self.sc.setLocalProperty("spark.jobGroup.id", f"ingest-b{n}-load")
            with self.tracer.span("dedup.load"):
                return fn(spark, path)
        return load_base_index

    def classify(self, batch, index, keep):
        from presto_on_ray_spark.operators.dedup import ingest_batch

        n = self.cur["n"]
        self.sc.setLocalProperty("spark.jobGroup.id", f"ingest-b{n}-build")
        with self.tracer.span("classify.build"):
            return ingest_batch(batch, index, keep=keep)

    def sink(self, df, batch_id):
        n = self.cur["n"]
        self.sc.setLocalProperty("spark.jobGroup.id", f"ingest-b{n}-sink")
        with self.tracer.span("classify.sink"):
            rows = df.select("doc_id", "status", "n_base_matches").collect()
        self.cur["rows"] = [tuple(r) for r in rows]
        if self.tracer.enabled:
            self.cur["storage"] = common.storage_bytes(self.spark)
        self.sc.setLocalProperty("spark.jobGroup.id", f"ingest-b{n}-merge")

    def wrap_admit(self, span_name):
        def factory(fn):
            def admit(*a, **kw):
                with self.tracer.span(span_name):
                    out = fn(*a, **kw)
                self._end_batch()
                return out
            return admit
        return factory

    def wrap_persist(self, fn):
        def persist(df, *a, **kw):
            if self.cur is not None:
                self.cur["persists"] += 1
            return fn(df, *a, **kw)
        return persist

    def _end_batch(self):
        cur, self.cur = self.cur, None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        cur["t1"], cur["w1"] = time.perf_counter(), time.time()
        cur["files"], cur["bytes"] = _written(cur.pop("tree0"), _tree(self.index))
        self.tracer.finish(cur.pop("root"))
        self.batches.append(cur)

    def round(self, label: str, batch_files: list[str], src: str, ckpt: str,
              schema) -> float:
        """Land the files, admit them one micro-batch each, compact;
        returns the round's wall seconds."""
        from presto_on_ray_spark.operators.dedup import compact_saved_index
        from presto_on_ray_spark.streaming.ingest import stream_ingest_admit

        self.label = label
        self.tracer.enabled = label == "traced"
        t_round = time.perf_counter()
        for f in batch_files:
            shutil.copy(f, os.path.join(src, os.path.basename(f)))
        stream = (self.spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        stream_ingest_admit(stream, self.index, self.sink,
                            checkpoint_dir=ckpt, classify=self.classify)
        k = len(self.compactions)
        tree0, t0, w0 = _tree(self.index), time.perf_counter(), time.time()
        with self.tracer.op(f"c{k}", "compaction"), \
                self.tracer.span("dedup.compact"), \
                common.job_group(self.sc, f"ingest-c{k}"):
            compact_saved_index(self.spark, self.index)
        t1 = time.perf_counter()
        files_n, nbytes = _written(tree0, _tree(self.index))
        self.compactions.append({
            "k": k, "t0": t0, "t1": t1, "w0": w0, "w1": time.time(),
            "files": files_n, "bytes": nbytes, "label": label})
        return t1 - t_round


def check(spark, loop: AdmitLoop, work: str, acct: common.Accounting) -> None:
    """Exact-tier verdicts against a DuckDB digest join, then the
    compacted index against a rebuild over base plus admitted docs."""
    import duckdb
    from pyspark.sql import functions as F

    from presto_on_ray_spark.operators.dedup import (
        BaseIndex, build_base_index, load_base_index)

    con = duckdb.connect()
    con.execute("CREATE TABLE idx AS SELECT doc_id, text FROM read_parquet(?)",
                [os.path.join(work, "base.parquet")])
    con.execute("CREATE TABLE landed AS SELECT filename AS f, doc_id, text"
                " FROM read_parquet(?, filename = true)",
                [os.path.join(work, "src", "*.parquet")])
    for b in loop.batches:
        # the batch is the landed file that holds its first doc id
        con.execute("CREATE OR REPLACE TABLE batch AS SELECT doc_id, text"
                    " FROM landed WHERE f = (SELECT f FROM landed WHERE doc_id = ?)",
                    [b["rows"][0][0]])
        want = dict(con.execute(
            "SELECT b.doc_id, COUNT(*) FROM batch b JOIN idx i"
            " ON md5(b.text) = md5(i.text) GROUP BY b.doc_id").fetchall())
        got = {d: m for d, s, m in b["rows"] if s == "exact"}
        problems = []
        batch_ids = [r[0] for r in con.execute("SELECT doc_id FROM batch").fetchall()]
        if sorted(r[0] for r in b["rows"]) != sorted(batch_ids):
            problems.append("verdict rows do not cover the batch exactly once")
        if got != want:
            diff = sorted(set(got.items()) ^ set(want.items()))[:3]
            problems.append(f"exact tier differs from digest join: {diff}")
        acct.record(f"batch {b['n']}", problems)
        new = [d for d, s, _ in b["rows"] if s == "new"]
        if new:
            con.execute("INSERT INTO idx SELECT doc_id, text FROM batch"
                        f" WHERE doc_id IN ({','.join(map(str, new))})")
    admitted = con.execute("SELECT doc_id, text FROM idx").arrow()
    con.close()

    rebuilt = build_base_index(spark.createDataFrame(
        admitted.to_pandas(), "doc_id long, text string"), tracked=False)
    saved = load_base_index(spark, loop.index)
    problems = []
    for name in BaseIndex._fields:
        got, want = (
            rel.select(F.count("*"), F.sum(
                F.xxhash64(*rel.columns).cast("decimal(38,0)"))).first()
            for rel in (getattr(saved, name), getattr(rebuilt, name)))
        if tuple(got) != tuple(want):
            problems.append(f"{name}: saved {tuple(got)} != rebuilt {tuple(want)}")
    rebuilt.release()
    acct.record("compacted index vs rebuild", problems)
    loop.live_docs = admitted.num_rows


def e2e_metrics(loop: AdmitLoop, wall_s: float) -> dict:
    bs = [b for b in loop.batches if b["label"] == "untraced"]
    cs = [c for c in loop.compactions if c["label"] == "untraced"]
    lat = [(b["t1"] - b["t0"]) * 1e3 for b in bs]
    docs = sum(len(b["rows"]) for b in bs)
    admitted = sum(1 for b in bs for _, s, _ in b["rows"] if s == "new")
    written = sum(b["bytes"] for b in bs) + sum(c["bytes"] for c in cs)
    return {
        "op_p50_ms": statistics.median(lat),
        "op_tail_ms": common.tail(lat)[0],
        "ops_per_s": len(bs) / wall_s,
        "rows_per_s": docs / wall_s,
        "bytes_per_row": written / max(1, admitted),
    }


def layer_metrics(loop: AdmitLoop, status: common.SparkStatus) -> dict:
    spans = loop.tracer.by_op()
    rows = []
    for b in (b for b in loop.batches if b["label"] == "traced"):
        ss = spans.get(f"b{b['n']}", [])
        g = f"ingest-b{b['n']}"
        row = {
            "streaming.batch_ms": (b["t1"] - b["t0"]) * 1e3,
            "streaming.self_ms": common.self_ms(ss, "streaming.batch"),
            "dedup.load_ms": common.span_ms(ss, "dedup.load"),
            "classify.build_ms": common.span_ms(ss, "classify.build"),
            "classify.build_jobs": len(status.group_jobs(g + "-build")),
            "classify.sink_ms": common.span_ms(ss, "classify.sink"),
            "classify.sink_jobs": len(status.group_jobs(g + "-sink")),
            "dedup.merge_ms": common.span_ms(ss, "dedup.merge"),
            "dedup.merge_jobs": len(status.group_jobs(g + "-merge")),
            "dedup.files_written": b["files"],
            "dedup.bytes_written": b["bytes"],
            "caching.persists": b["persists"],
        }
        row["dedup.classify_ms"] = row["classify.build_ms"] + row["classify.sink_ms"]
        spark_m = status.metrics(status.window_jobs(b["w0"], b["w1"]))
        row.update({f"spark.{k}.batch": v for k, v in spark_m.items()})
        rows.append(row)
    out = {k: common.median_of(rows, k) for k in rows[0]}
    cs = [c for c in loop.compactions if c["label"] == "traced"]
    out["dedup.compact_ms"] = statistics.median((c["t1"] - c["t0"]) * 1e3 for c in cs)
    out["dedup.compact_jobs"] = statistics.median(
        len(status.window_jobs(c["w0"], c["w1"])) for c in cs)
    out["caching.peak_storage_bytes"] = max(
        b["storage"] for b in loop.batches if b["label"] == "traced")
    return out


def run(seed: int, seconds: float, trace: bool, t_start: float) -> dict:
    """One cold set-up pass, then a fixed schedule of rounds (``seconds``
    is not used: a round is BATCHES batches and a compaction); setup_s
    runs from the end of input generation to the first timed batch."""
    import contextlib

    shutil.rmtree(WORK_DIR, ignore_errors=True)
    os.makedirs(WORK_DIR)
    schedule = ["warmup", "untraced", "traced"] if trace else ["untraced"]
    batches = make_inputs(seed, WORK_DIR, len(schedule) * BATCHES)
    src, ckpt = os.path.join(WORK_DIR, "src"), os.path.join(WORK_DIR, "ckpt")
    os.makedirs(src)
    t_start = time.perf_counter()  # input generation is not program setup
    t_check = 0.0

    phases: dict[str, float] = {}
    spark = common.start_session()
    phases["session.start"] = time.perf_counter() - t_start
    try:
        from pyspark.sql.classic.dataframe import DataFrame

        from presto_on_ray_spark import suite
        from presto_on_ray_spark.functions.registry import register_presto_functions
        from presto_on_ray_spark.operators.dedup import build_base_index, save_base_index
        from presto_on_ray_spark.streaming import ingest

        _, phases["suite.load"] = common.timed(suite.load_all)
        _, phases["functions.register"] = common.timed(
            register_presto_functions, spark)
        index = os.path.join(WORK_DIR, "index")
        t0 = time.perf_counter()
        base = spark.read.parquet(os.path.join(WORK_DIR, "base.parquet"))
        idx = build_base_index(base, tracked=False)
        save_base_index(idx, index)
        idx.release()
        phases["dedup.base_index_save"] = time.perf_counter() - t0

        tracer = common.Tracer(False)  # switched on for the traced round
        loop = AdmitLoop(spark, index, tracer)
        schema = spark.read.parquet(batches[0]).schema
        setup_s = time.perf_counter() - t_start
        with contextlib.ExitStack() as stack:
            stack.enter_context(common.patched(ingest, "load_base_index", loop.wrap_load))
            stack.enter_context(common.patched(
                ingest, "merge_into_saved_index", loop.wrap_admit("dedup.merge")))
            stack.enter_context(common.patched(
                ingest, "_admit_receipt", loop.wrap_admit("dedup.receipt")))
            stack.enter_context(common.patched(DataFrame, "persist", loop.wrap_persist))

            walls = {label: loop.round(label, batches[i * BATCHES:(i + 1) * BATCHES],
                                       src, ckpt, schema)
                     for i, label in enumerate(schedule)}
        lat = [(b["t1"] - b["t0"]) * 1e3
               for b in loop.batches if b["label"] == "untraced"]
        out = {"e2e": dict(e2e_metrics(loop, walls["untraced"]), setup_s=setup_s),
               "n_ops": len(lat), "tail_pct": common.tail(lat)[1]}
        if trace:
            out["layers"] = layer_metrics(loop, common.SparkStatus(spark))
            out["tracer"] = tracer
            out["overhead_ms"] = (
                out["layers"]["streaming.batch_ms"] - out["e2e"]["op_p50_ms"])
        out["e2e"]["peak_rss_mb"] = common.peak_rss_mb(spark)
        out["versions"] = common.versions(spark)

        acct = common.Accounting()
        _, t_check = common.timed(check, spark, loop, WORK_DIR, acct)
        index_bytes = sum(_tree(index).values())
        if trace:
            out["layers"]["dedup.live_generations"] = sum(
                1 for e in os.scandir(index) if e.is_dir() and e.name != "_ADMITTED")
            out["layers"]["dedup.index_bytes_per_doc"] = index_bytes / loop.live_docs
    finally:
        common.stop_session(spark)
    out["acct"] = acct
    out["phases"] = phases
    out["check_s"] = t_check
    return out
