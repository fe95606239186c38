"""Similarity search over embeddings (SURVEY §2.11).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variant is the 100 TB path (candidates per bucket ≪ n, recall measured
in tests against brute force).

Determinism design: embeddings are quantized to integers
(round(x*1000)) before the dot product, so cross-engine results are
bit-identical — integer dot products are exact, and the final
cosine = dot / (sqrt(na)*sqrt(nb)) is a single IEEE expression.
"""

from __future__ import annotations

import functools
import math
from typing import NamedTuple

from pyspark.sql import Window
from pyspark.sql import functions as F

from presto_on_ray_spark import store as store_proto
from presto_on_ray_spark.caching import tracked_persist
from presto_on_ray_spark.operators._util import t
from presto_on_ray_spark.suite import query


def quantized(col):
    """array<float> -> array<long> with x -> round(x*1000)."""
    return F.transform(col, lambda x: F.round(x.cast("double") * 1000, 0).cast("long"))


def dot_i64(a, b):
    """Exact integer dot product via zip_with + aggregate (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def cosine_q(a, b):
    """Deterministic cosine over quantized vectors."""
    return dot_i64(a, b).cast("double") / (
        F.sqrt(dot_i64(a, a).cast("double")) * F.sqrt(dot_i64(b, b).cast("double"))
    )


@query(
    "similarity_bruteforce_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id <= 5
    ),
    c AS (
      SELECT vec_id AS cid, LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS cv
      FROM embeddings
    ),
    scored AS (
      SELECT qid, cid,
             CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(qv) + 1), i -> qv[i] * cv[i])) AS DOUBLE)
               / (SQRT(CAST(LIST_SUM(LIST_TRANSFORM(qv, x -> x * x)) AS DOUBLE))
                  * SQRT(CAST(LIST_SUM(LIST_TRANSFORM(cv, x -> x * x)) AS DOUBLE))) AS cos
      FROM q CROSS JOIN c
      WHERE qid <> cid
    )
    SELECT qid, cid, ROUND(cos, 6) AS cosine
    FROM (SELECT qid, cid, cos,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def similarity_bruteforce_topk(spark, sf_dir):
    """Brute-force cosine top-3 for 5 query vectors: broadcast the tiny
    query side, HOF dot product over every candidate, per-query top-k
    via window rank (Spark prunes with window-group-limit). At scale:
    queries broadcast, candidates never shuffle until the k-row-per-
    query rank output."""
    e = t(spark, sf_dir, "embeddings")
    q = (
        e.filter(F.col("vec_id") <= 5)
        .select(F.col("vec_id").alias("qid"), quantized(F.col("embedding")).alias("qv"))
    )
    c = e.select(F.col("vec_id").alias("cid"), quantized(F.col("embedding")).alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", cosine_q(F.col("qv"), F.col("cv")).alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("qid", "cid", F.round("cos", 6).alias("cosine"))
    )


# Deterministic random-hyperplane LSH: planes from fixed hash constants.
# Multi-table banding (like MinHash bands): _N_TABLES independent hash
# tables of _BITS_PER_TABLE sign bits each. A pair is a candidate if it
# collides in ANY table -- for neighbors at cos~0.75 the per-table
# collision probability is ~0.35, so 8 tables give recall ~0.97, vs
# ~0.04 for a single 12-bit table.
_N_TABLES = 8
_BITS_PER_TABLE = 4


def _plane_component(plane: int, dim_col):
    """Pseudo-random +/-1 component for (plane, dimension) -- derived
    from xxhash64 of the pair, so identical on every executor with no
    broadcast of plane vectors needed."""
    return (
        F.pmod(F.xxhash64(F.lit(f"plane-{plane}"), dim_col), F.lit(2)) * 2 - 1
    ).cast("long")


def table_bucket(vec_col, table: int):
    """Packed sign bits of _BITS_PER_TABLE hyperplane projections for
    one hash table."""

    def _components_for(j: int):
        # closure factory (default-arg lambdas confuse pyspark's
        # lambda-arity detection)
        return lambda d: _plane_component(j, d)

    dims = F.sequence(F.lit(1), F.size(vec_col))
    bits = []
    for b in range(_BITS_PER_TABLE):
        j = table * _BITS_PER_TABLE + b
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.transform(dims, _components_for(j)),
                lambda x, s: x * s,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << b).cast("long")).otherwise(0).cast("long"))
    return functools.reduce(lambda a, b: a.bitwiseOR(b), bits)


def lsh_table_buckets(df, vec_col: str = "qv"):
    """(vec_id, table, bucket) rows -- one per hash table per vector;
    same-`(table, bucket)` pairs are the ANN candidates."""
    structs = F.array(
        *[
            F.struct(
                F.lit(tb).alias("table"),
                table_bucket(F.col(vec_col), tb).alias("bucket"),
            )
            for tb in range(_N_TABLES)
        ]
    )
    return df.select("vec_id", F.explode(structs).alias("tb")).select(
        "vec_id", "tb.table", "tb.bucket"
    )


@query("similarity_lsh_buckets")
def similarity_lsh_buckets(spark, sf_dir):
    """ANN via multi-table random-hyperplane LSH (SURVEY §2.11 scale
    path): 8 hash tables × 4 sign bits; neighbor candidates are
    same-(table, bucket) pairs. Recall vs brute force asserted in
    tests/test_similarity.py. Rows-only driver check."""
    e = t(spark, sf_dir, "embeddings")
    # persist barrier: 32 hyperplane projections each reference qv; see
    # the project-collapse note in operators/dedup.py.
    v = tracked_persist(e.select("vec_id", quantized(F.col("embedding")).alias("qv")))
    buckets = lsh_table_buckets(v)
    return (
        buckets.groupBy("table", "bucket")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > 1)
    )


# Hard cap for the exact O(n²) pairwise join: above this, the caller
# must go through the LSH or IVF candidate path instead. 10k rows →
# ≤50M candidate pairs, a bounded single-stage job; beyond that the
# quadratic blowup is a scale bug, so we fail loudly rather than hang.
PAIRWISE_MAX_ROWS = 10_000


def pairwise_threshold(df, threshold: float = 0.8, max_rows: int = PAIRWISE_MAX_ROWS):
    """Exact all-pairs cosine > threshold over (vec_id, label, qv) rows.

    Raises ValueError if the input exceeds ``max_rows`` — the exact
    verify stage is only for bounded candidate sets (LSH/IVF output or
    a pre-filtered slice), never the full corpus."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"pairwise_threshold: input has {n} rows (> {max_rows}); "
            "the exact O(n^2) join is capped — route candidates through "
            "similarity_lsh_buckets / similarity_ivf_topk instead"
        )
    a = df.alias("a")
    b = df.alias("b")
    cos = cosine_q(F.col("a.qv"), F.col("b.qv"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos > threshold)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            (F.col("a.label") == F.col("b.label")).alias("same_label"),
        )
    )


@query(
    "similarity_pairwise_threshold",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id <= 60
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(a.label = b.label AS BOOLEAN) AS same_label
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.qv) + 1), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
          / (SQRT(CAST(LIST_SUM(LIST_TRANSFORM(a.qv, x -> x * x)) AS DOUBLE))
             * SQRT(CAST(LIST_SUM(LIST_TRANSFORM(b.qv, x -> x * x)) AS DOUBLE))) > 0.8
    """,
)
def similarity_pairwise_threshold(spark, sf_dir):
    """All pairs above a cosine threshold (embedding-cosine near-dup
    dedup) on a bounded slice — the exact-verify stage an LSH pipeline
    feeds into. Input size is hard-guarded by pairwise_threshold."""
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") <= 60)
    v = e.select("vec_id", "label", quantized(F.col("embedding")).alias("qv"))
    return pairwise_threshold(v)


@query("dedup_embedding_neardup")
def dedup_embedding_neardup(spark, sf_dir):
    """End-to-end embedding-cosine near-dup pipeline (SURVEY §2.11):
    hyperplane-LSH candidate generation → exact cosine verify over the
    candidates only — the composition the LSH path exists for. At
    100 TB: candidates form per (table, bucket), so the verify join is
    linear in |candidates|, never the O(n²) all-pairs form (the
    bounded all-pairs stage stays behind pairwise_threshold's guard).
    Rows-only driver check (bucket boundaries are engine-internal);
    precision is exact by construction and recall vs the brute-force
    relation is asserted in tests/test_similarity.py."""
    e = t(spark, sf_dir, "embeddings")
    v = tracked_persist(
        e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    )
    buckets = lsh_table_buckets(v)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    va = v.select(F.col("vec_id").alias("id_a"), F.col("qv").alias("qa"))
    vb = v.select(F.col("vec_id").alias("id_b"), F.col("qv").alias("qb"))
    cos = cosine_q(F.col("qa"), F.col("qb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(cos > 0.9)
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: KMeans coarse quantizer + probe-nearest-cells
# (SURVEY §2.11 "an IVF or LSH-bucketed variant as the scale path").
# ---------------------------------------------------------------------------
_IVF_CELLS = 16
_IVF_NPROBE = 6


def ivf_assignments(spark, sf_dir, n_cells: int = _IVF_CELLS, max_iter: int = 10):
    """Fit a KMeans coarse quantizer (seeded) and assign every vector to
    a cell. Returns (assigned_df, centroids) where assigned_df carries
    vec_id/embedding/cell. At 100 TB: the model is trained on a sample,
    broadcast to executors by MLlib, and assignment is one map pass."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = t(spark, sf_dir, "embeddings")
    # L2-normalize before clustering: euclidean KMeans on the unit
    # sphere ~ spherical KMeans, so cells respect cosine geometry
    emb_d = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(emb_d, F.lit(0.0), lambda a, x: a + x * x))
    unit = F.transform(emb_d, lambda x: x / norm)
    v = e.select("vec_id", "embedding", array_to_vector(unit).alias("features"))
    model = KMeans(k=n_cells, seed=42, maxIter=max_iter).fit(v)
    assigned = model.transform(v).select(
        "vec_id", "embedding", F.col("prediction").alias("cell")
    )
    return assigned, model.clusterCenters()


def ivf_topk(
    spark,
    sf_dir,
    n_queries: int = 5,
    k: int = 3,
    nprobe: int = _IVF_NPROBE,
    max_iter: int = 10,
):
    """ANN top-k: probe only the nprobe nearest cells per query, exact
    cosine within candidates. Candidate set ~ nprobe/n_cells of the
    corpus — the IVF scale contract. (nprobe=16 was verified to reach
    recall 1.0 vs brute force; 6/16 lands ~0.67 on the weakly-clustered
    fixture — the standard probe/recall dial.)"""
    import numpy as np

    assigned, centers = ivf_assignments(spark, sf_dir, max_iter=max_iter)
    assigned = tracked_persist(assigned)
    centers = np.array([c for c in centers])

    queries = (
        assigned.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"))
        .collect()
    )
    # nearest cells per query, computed on the driver against the tiny
    # centroid matrix (16 x dim), then pushed down as a filter
    probe_rows = []
    for r in queries:
        qv = np.array(r.q_emb, dtype="float64")
        qn = qv / np.linalg.norm(qv)
        d = ((centers - qn) ** 2).sum(axis=1)
        for cell in np.argsort(d)[:nprobe]:
            probe_rows.append((r.qid, int(cell), [float(x) for x in qv]))
    probes = spark.createDataFrame(probe_rows, ["qid", "cell", "q_emb"])

    cand = assigned.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("qid")
    )
    cos = cosine_q(
        quantized(F.col("q_emb")), quantized(F.col("embedding").cast("array<double>"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        cand.select("qid", "vec_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", F.col("vec_id").alias("cid"), F.round("cos", 6).alias("cosine"))
    )


@query("similarity_ivf_topk")
def similarity_ivf_topk(spark, sf_dir):
    """IVF ANN top-3 for 5 queries (rows-only: KMeans cell boundaries
    are float-sensitive; recall vs brute force asserted in
    tests/test_similarity.py)."""
    return ivf_topk(spark, sf_dir)


@query(
    "similarity_ivf_exact",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id < 8
    ),
    c AS (
      SELECT vec_id AS cid, LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS cv
      FROM embeddings
    ),
    scored AS (
      SELECT qid, cid,
             CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(qv) + 1), i -> qv[i] * cv[i])) AS DOUBLE)
               / (SQRT(CAST(LIST_SUM(LIST_TRANSFORM(qv, x -> x * x)) AS DOUBLE))
                  * SQRT(CAST(LIST_SUM(LIST_TRANSFORM(cv, x -> x * x)) AS DOUBLE))) AS cos
      FROM q CROSS JOIN c
      WHERE qid <> cid
    )
    SELECT qid, cid, ROUND(cos, 6) AS cosine
    FROM (SELECT qid, cid, cos,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
          FROM scored)
    WHERE rn <= 4
    """,
)
def similarity_ivf_exact(spark, sf_dir):
    """IVF ANN at the exhaustive-probe setting, hash-verified: the full
    IVF machinery — coarse quantizer cell assignment, probe-cell
    broadcast join, exact cosine within cells, per-query window top-k —
    run with the probe list covering every cell, so each (query,
    candidate) pair forms exactly once and the output IS the exact
    cosine top-k, which the oracle recomputes by brute force
    (quantized-i64 dot products, unique cid tie-break).

    The coarse quantizer here is the deterministic hyperplane
    partitioner (table_bucket: 4 sign bits → 16 cells — an LSH coarse
    quantizer, one map pass, no training job): at exhaustive probing
    the result is provably independent of cell quality, and a trained
    KMeans fit would contribute only fixed latency (measured 9.5 s of
    MLlib overhead at sf0.1 vs <1 s for this form). The KMeans-cell
    variant with the real nprobe < n_cells recall dial stays registered
    as similarity_ivf_topk (rows-only + recall test). At 100 TB the
    plan shape is the IVF contract: assignment is one map pass, probes
    broadcast, candidates never leave their cells until the
    k-row-per-query rank output."""
    n_queries, k = 8, 4
    e = t(spark, sf_dir, "embeddings")
    # persist barrier: table_bucket's 4 projections each reference qv
    # (see the project-collapse note on similarity_lsh_buckets). Norms
    # are computed ONCE per vector here — the per-candidate cosine then
    # does a single dot product, not three (at 100 TB the stored-norm
    # column is the standard IVF index layout).
    v = tracked_persist(
        e.select(
            "vec_id",
            quantized(F.col("embedding")).alias("qv"),
        ).withColumn("nrm", F.sqrt(dot_i64(F.col("qv"), F.col("qv")).cast("double")))
    )
    assigned = v.withColumn("cell", table_bucket(F.col("qv"), 0))
    probes = (
        assigned.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("qv").alias("qv_q"),
            F.col("nrm").alias("nrm_q"),
        )
        .withColumn(
            "cell",
            F.explode(F.sequence(F.lit(0), F.lit((1 << _BITS_PER_TABLE) - 1))),
        )
    )
    cand = assigned.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("qid")
    )
    cos = dot_i64(F.col("qv_q"), F.col("qv")).cast("double") / (
        F.col("nrm_q") * F.col("nrm")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        cand.select("qid", F.col("vec_id").alias("cid"), cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", F.round("cos", 6).alias("cosine"))
    )


@query(
    "embedding_centroids",
    oracle="""
    SELECT label, ord - 1 AS dim, COUNT(*) AS n_vectors,
           ROUND(SUM(CAST(ROUND(CAST(v AS DOUBLE) * 1000, 0) AS BIGINT))
                 / (1000.0 * COUNT(*)), 6) AS centroid
    FROM (
      SELECT label,
             UNNEST(embedding) AS v,
             GENERATE_SUBSCRIPTS(embedding, 1) AS ord
      FROM embeddings
    )
    GROUP BY label, dim
    """,
)
def embedding_centroids(spark, sf_dir):
    """Exact per-label centroids — the training step of every IVF /
    cluster-assign pipeline, as one distributive aggregation: posexplode
    to (label, dim, component), quantize components to integers (the
    module's ×1000 convention, exact on both engines), integer-sum, one
    float division at the end. Shuffle carries (label, dim) partial
    sums only — at 100 TB with d dims and k labels the aggregate state
    is k·d longs regardless of corpus size, and partial (map-side)
    aggregation collapses everything before the exchange."""
    e = t(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        "dim",
        F.round(F.col("v").cast("double") * 1000, 0).cast("long").alias("q"),
    )
    return comp.groupBy("label", "dim").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.sum("q") / (F.lit(1000.0) * F.count("*")), 6).alias("centroid"),
    )


# Product quantization (Jégou, Douze, Schmid, "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011): split each vector into
# _PQ_M subvectors, represent each by the id of its nearest codeword,
# and score queries against the m-byte codes via asymmetric distance
# (ADC) lookup tables — the memory-bounded ANN layout at 100 TB
# (codes are _PQ_M small ints per vector instead of the full float
# array; the scan reads codes, never raw vectors).
_PQ_M = 8          # subspaces (64-dim fixture embeddings -> 8 dims each)
_PQ_K = 16         # codewords per subspace
_PQ_SUB = 8        # dims per subspace


def _pq_subvectors(df, vec_col: str = "qv", carry: tuple = ()):
    """(vec_id, *carry, j, s): the _PQ_M quantized subvector slices
    per vector, exploded with literal slice bounds (a python loop over
    j, like the banding layouts — no column-typed slice starts).
    ``carry`` names extra columns to keep through the explode (the
    IVF-PQ pipeline carries the coarse cell so codes stay cell-keyed
    without a post-encode join); the default produces the exact
    relation the frozen PQ oracle keys were pinned on."""
    structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice(F.col(vec_col), j * _PQ_SUB + 1, _PQ_SUB).alias("s"),
            )
            for j in range(_PQ_M)
        ]
    )
    return df.select("vec_id", *carry, F.explode(structs).alias("ss")).select(
        "vec_id", *carry, "ss.j", "ss.s"
    )


def _pq_l2sq(a, b):
    """Exact integer squared L2 between two quantized subvectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


@query(
    "similarity_pq_adc_topk",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, j, qv[(j * 8 + 1):(j * 8 + 8)] AS s
      FROM e, (SELECT UNNEST(RANGE(0, 8)) AS j)
    ),
    cb AS (
      SELECT j, vec_id AS c, s AS cw FROM sub WHERE vec_id < 16
    ),
    dists AS (
      SELECT sub.vec_id, sub.j, cb.c,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, 9),
                      i -> (s[i] - cw[i]) * (s[i] - cw[i]))) AS d2
      FROM sub JOIN cb ON sub.j = cb.j
    ),
    enc AS (
      SELECT vec_id, j, c
      FROM (SELECT vec_id, j, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                      ORDER BY d2, c) AS rn
            FROM dists)
      WHERE rn = 1
    ),
    qt AS (
      SELECT vec_id AS qid, j, c, d2 AS qd2 FROM dists WHERE vec_id < 8
    ),
    score AS (
      SELECT qt.qid, enc.vec_id AS cid, SUM(qt.qd2) AS adc_dist
      FROM enc JOIN qt ON enc.j = qt.j AND enc.c = qt.c
      GROUP BY qt.qid, enc.vec_id
    )
    SELECT qid, cid, CAST(adc_dist AS BIGINT) AS adc_dist
    FROM (SELECT qid, cid, adc_dist,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY adc_dist, cid) AS rn
          FROM score
          WHERE qid <> cid)
    WHERE rn <= 4
    """,
)
def similarity_pq_adc_topk(spark, sf_dir):
    """Product-quantization ANN, hash-verified end-to-end: encode
    every vector as _PQ_M codeword ids, score 8 queries against the
    CODES ONLY via asymmetric-distance lookup tables, return the
    ADC top-4 per query.

    Exactness design (the module's quantized-i64 convention): the
    codebook is DETERMINISTIC — subspace j's codewords are the
    subvectors of the first _PQ_K vectors by vec_id (sampled-codebook
    PQ; kmeans-refined codebooks change quality, not machinery, and
    would be float/seed-sensitive across engines) — and every
    distance in the pipeline is an integer squared-L2 on the
    round(x*1000) quantization, so encode (argmin with smallest-id
    tie-break), the ADC tables, and the summed scores are
    bit-identical in DuckDB: the oracle recomputes the WHOLE pipeline
    in SQL. The NumPy property twin (tests/test_similarity.py) pins
    the same semantics against shared-code-free Python; ADC-vs-true
    cosine recall is measured there and in SCALING.md.

    Scale shape — the reason PQ exists at 100 TB: candidates are
    scored by ONE groupBy over (j, c)-joined code rows against a
    BROADCAST table of _PQ_M x _PQ_K query distances (here 8x16 rows
    per query); raw vectors are read once at encode time and never
    again. Encoding is a broadcast join against the _PQ_M x _PQ_K
    codebook + a min-struct aggregate — one shuffle keyed by
    (vec_id, j), no pairwise term anywhere."""
    n_queries, k = 8, 4  # mirrored in the oracle's vec_id < 8 / rn <= 4
    score, _ = _pq_adc_scores(spark, sf_dir, n_queries=n_queries)
    w = Window.partitionBy("qid").orderBy(F.col("adc_dist"), F.col("vec_id"))
    return (
        score.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", F.col("vec_id").alias("cid"), "adc_dist")
    )


def _pq_adc_scores(spark, sf_dir, n_queries: int, codebook=None, prepared=None):
    """The shared PQ pipeline: quantize -> codebook -> encode (argmin,
    smallest-id ties) -> per-query ADC tables -> summed integer
    scores. Returns (score, v) where score = (qid, vec_id, adc_dist)
    for every query x candidate (the ADC table has a row for every
    (j, c), so each candidate's M code rows each find exactly one
    table entry; self-pairs excluded) and v = the quantized vector
    relation for rerank stages.

    ``codebook``: an optional (j, c, cw) relation replacing the
    default deterministic sampled codebook — the quality dial
    (pq_codebook's k-means refinement). ``prepared``: an optional
    (v, sub) pair from a caller that already built and persisted the
    quantized/subvector relations (the refined key shares ONE
    quantize+explode+persist between codebook training and scoring).
    Everything downstream is IDENTICAL either way; the two frozen
    oracle keys pass neither, so their plans are unchanged by both
    parameters."""
    if prepared is not None:
        v, sub = prepared
    else:
        e = t(spark, sf_dir, "embeddings")
        v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
        sub = tracked_persist(_pq_subvectors(v))
    cb = (
        sub.filter(F.col("vec_id") < _PQ_K)
        .select("j", F.col("vec_id").alias("c"), F.col("s").alias("cw"))
        if codebook is None
        else codebook
    )
    dists = sub.join(F.broadcast(cb), "j").select(
        "vec_id", "j", "c", _pq_l2sq(F.col("s"), F.col("cw")).alias("d2")
    )
    # encode: per (vec_id, j) the nearest codeword, smallest-id ties
    enc = dists.groupBy("vec_id", "j").agg(
        F.min(F.struct("d2", "c"))["c"].alias("c")
    )
    # ADC lookup tables for the query vectors: d2(query subvector,
    # codeword) for every (j, c) — _PQ_M x _PQ_K rows per query
    qt = dists.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), "j", "c", F.col("d2").alias("qd2")
    )
    score = (
        enc.join(F.broadcast(qt), ["j", "c"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("qd2").alias("adc_dist"))
        .filter(F.col("qid") != F.col("vec_id"))
    )
    return score, v


_PQ_SHORTLIST = 64


@query(
    "similarity_pq_rerank_topk",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, j, qv[(j * 8 + 1):(j * 8 + 8)] AS s
      FROM e, (SELECT UNNEST(RANGE(0, 8)) AS j)
    ),
    cb AS (
      SELECT j, vec_id AS c, s AS cw FROM sub WHERE vec_id < 16
    ),
    dists AS (
      SELECT sub.vec_id, sub.j, cb.c,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, 9),
                      i -> (s[i] - cw[i]) * (s[i] - cw[i]))) AS d2
      FROM sub JOIN cb ON sub.j = cb.j
    ),
    enc AS (
      SELECT vec_id, j, c
      FROM (SELECT vec_id, j, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                      ORDER BY d2, c) AS rn
            FROM dists)
      WHERE rn = 1
    ),
    qt AS (
      SELECT vec_id AS qid, j, c, d2 AS qd2 FROM dists WHERE vec_id < 8
    ),
    shortlist AS (
      SELECT qid, cid
      FROM (SELECT qt.qid, enc.vec_id AS cid,
                   ROW_NUMBER() OVER (PARTITION BY qt.qid
                                      ORDER BY SUM(qt.qd2), enc.vec_id) AS rn
            FROM enc JOIN qt ON enc.j = qt.j AND enc.c = qt.c
            WHERE enc.vec_id <> qt.qid
            GROUP BY qt.qid, enc.vec_id)
      WHERE rn <= 64
    ),
    rer AS (
      SELECT s.qid, s.cid,
             CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(q.qv) + 1),
                           i -> q.qv[i] * c.qv[i])) AS DOUBLE)
               / (SQRT(CAST(LIST_SUM(LIST_TRANSFORM(q.qv, x -> x * x)) AS DOUBLE))
                  * SQRT(CAST(LIST_SUM(LIST_TRANSFORM(c.qv, x -> x * x)) AS DOUBLE))) AS cos
      FROM shortlist s
      JOIN e q ON q.vec_id = s.qid
      JOIN e c ON c.vec_id = s.cid
    )
    SELECT qid, cid, ROUND(cos, 6) AS cosine
    FROM (SELECT qid, cid, cos,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cos DESC, cid) AS rn
          FROM rer)
    WHERE rn <= 4
    """,
)
def similarity_pq_rerank_topk(spark, sf_dir):
    """The production PQ pattern, hash-verified end-to-end: ADC over
    the codes selects a _PQ_SHORTLIST-deep shortlist per query (raw
    vectors untouched), then ONLY the shortlist is reranked by exact
    cosine — so the scan-side cost is PQ's (codes + broadcast tables)
    while the returned quality is exact-over-shortlist. The recall
    dial is the shortlist depth: measured on fixtures in
    tests/test_similarity.py / SCALING.md — two distinct metrics:
    the raw 16-codeword ADC top-4 scores ~0.3-0.45 on
    recall-in-true-L2-top-10, while the 64-deep shortlist + rerank
    reaches recall@4 0.81-0.88 against the true cosine top-4 on the
    same (random-ish, PQ-hardest-case) fixture data — deeper
    shortlists / bigger codebooks move it toward 1.

    Exactness: the shortlist is the integer-deterministic ADC ranking
    (same pipeline as similarity_pq_adc_topk, smallest-cid ties), and
    the rerank is the module's quantized-i64 cosine — the oracle
    recomputes both stages in SQL, so the key is hash-exact, not
    rows-only. At 100 TB the rerank stage fetches _PQ_SHORTLIST raw
    vectors per query by id — a semi-join against the vector store —
    while the shortlist stage reads only the m-byte codes."""
    n_queries, k = 8, 4
    score, v = _pq_adc_scores(spark, sf_dir, n_queries=n_queries)
    return _pq_shortlist_rerank(score, v, n_queries, k)


def _pq_shortlist_rerank(score, v, n_queries: int, k: int,
                         shortlist: int = _PQ_SHORTLIST):
    """The shared shortlist + exact-rerank tail: ADC-rank to
    ``shortlist`` (default _PQ_SHORTLIST) per query (smallest-cid
    ties), fetch ONLY the shortlist's raw vectors by id, rerank by
    quantized-i64 cosine. One body for the frozen sampled-codebook
    key, the k-means-refined variant, and the auto-depth production
    entry — the codebook and the depth change recall, never this
    machinery."""
    w_adc = Window.partitionBy("qid").orderBy(F.col("adc_dist"), F.col("vec_id"))
    sl = (
        score.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= shortlist)
        .select("qid", F.col("vec_id").alias("cid"))
    )
    qv = v.select(F.col("vec_id").alias("qid"), F.col("qv").alias("q_vec"))
    cv = v.select(F.col("vec_id").alias("cid"), F.col("qv").alias("c_vec"))
    rer = (
        sl.join(F.broadcast(qv.filter(F.col("qid") < n_queries)), "qid")
        .join(cv, "cid")
        .select("qid", "cid", cosine_q(F.col("q_vec"), F.col("c_vec")).alias("cos"))
    )
    w_cos = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        rer.withColumn("rn", F.row_number().over(w_cos))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", F.round("cos", 6).alias("cosine"))
    )


def _round_div_half_away(s: int, n: int) -> int:
    """round(s / n) half away from zero in pure integers (n > 0) —
    the module's determinism convention: no float division anywhere
    in the codebook update, so the NumPy property twin reproduces it
    bit-for-bit."""
    q = (2 * abs(s) + n) // (2 * n)
    return q if s >= 0 else -q


def pq_codebook(
    df,
    k: int = _PQ_K,
    iters: int = 5,
    vec_col: str = "qv",
    sub=None,
    init_offset: int = 0,
):
    """K-means-refined PQ codebooks (VERDICT r11 #4): Lloyd's
    algorithm per subspace, run relationally over ALL subspaces at
    once — each iteration is ONE assign job (broadcast codebook join +
    min-struct argmin, the exact encode machinery) and ONE update
    aggregate (per-(j, c) integer component sums + count), with the
    tiny M x k centroid set collected to the driver between
    iterations (8 x 16 x 8 ints — the only driver-side state).

    Integer-deterministic end to end: init is the SAMPLED codebook
    (subvectors of the first k vec_ids — iters=0 reproduces the
    frozen oracle keys' codebook exactly), assignment is integer
    squared-L2 with smallest-c ties, and centroid updates are exact
    integer sums divided half-away-from-zero — so the refined
    codebook is reproducible bit-for-bit by the NumPy twin in
    tests/test_similarity.py, and early convergence (new == old) is
    exact, not epsilon-based. Empty codewords keep their previous
    centroid (standard Lloyd practice; k-means++ reseeding would
    break determinism for no fixture benefit).

    Returns a (j, c, cw) relation that drops into _pq_adc_scores'
    ``codebook`` parameter: the refinement changes RECALL (measured in
    SCALING.md), never the encode/ADC/rerank machinery. At 100 TB:
    train on a sampled df (PQ codebooks are universally sample-
    trained), each iteration is one bounded shuffle keyed (vec_id, j)
    plus an M*k-row aggregate — no pairwise term, no driver-sized
    state.

    ``sub``: an optional precomputed (and caller-persisted)
    _pq_subvectors relation, so a caller that also scores (the
    refined query) pays the quantize+explode+persist once.
    ``init_offset``: first vec_id of the k-wide sampled-init window
    (default 0 — byte-identical to the frozen keys' codebook at
    iters=0). The IVF-PQ residual book inits at n_cells: vec_ids
    0..n_cells-1 are their own centroids, so their residual
    subvectors are identically zero and an offset-0 init would seed
    duplicate zero codewords that empty-cluster handling preserves
    forever."""
    spark = df.sparkSession
    if sub is None:
        sub = tracked_persist(_pq_subvectors(df, vec_col))
    init = (
        sub.filter(
            (F.col("vec_id") >= init_offset) & (F.col("vec_id") < init_offset + k)
        )
        .select(
            "j", (F.col("vec_id") - init_offset).alias("c"), F.col("s").alias("cw")
        )
        .collect()
    )
    cb = {(r["j"], r["c"]): [int(x) for x in r["cw"]] for r in init}

    def cb_df():
        return spark.createDataFrame(
            [(j, c, cw) for (j, c), cw in sorted(cb.items())],
            "j int, c int, cw array<bigint>",
        )

    for _ in range(iters):
        best = (
            sub.join(F.broadcast(cb_df()), "j")
            .select(
                "vec_id", "j", "s",
                _pq_l2sq(F.col("s"), F.col("cw")).alias("d2"),
                "c",
            )
            .groupBy("vec_id", "j")
            .agg(F.min(F.struct("d2", "c"))["c"].alias("c"))
        )
        stats = (
            sub.join(best, ["vec_id", "j"])
            .groupBy("j", "c")
            .agg(
                F.count("*").alias("n"),
                *[F.sum(F.col("s")[i]).alias(f"s{i}") for i in range(_PQ_SUB)],
            )
            .collect()
        )
        new_cb = dict(cb)  # empty codewords keep their centroid
        for r in stats:
            new_cb[(r["j"], r["c"])] = [
                _round_div_half_away(int(r[f"s{i}"]), int(r["n"]))
                for i in range(_PQ_SUB)
            ]
        if new_cb == cb:
            break
        cb = new_cb
    return cb_df()


@query("similarity_pq_refined_topk")
def similarity_pq_refined_topk(spark, sf_dir):
    """The PQ quality dial turned: shortlist + exact rerank with a
    k-means-REFINED codebook (pq_codebook, 5 Lloyd iterations) in
    place of the sampled one — same encode/ADC/shortlist/rerank
    machinery (_pq_adc_scores + _pq_shortlist_rerank, shared with the
    two frozen hash-exact keys), different codeword quality. Rows-only
    by design: the refined pipeline is still integer-deterministic
    (pinned bit-for-bit against the NumPy Lloyd twin in
    tests/test_similarity.py, where its recall gain over the sampled
    codebook is also measured), but reproducing a 5-iteration Lloyd
    loop in one SQL oracle would be a recursive-CTE contortion that
    checks nothing the twin does not."""
    n_queries, k = 8, 4
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    # one quantize+explode+persist shared by codebook training and
    # scoring (without this, training and scoring would each build and
    # persist an identical subvector relation)
    sub = tracked_persist(_pq_subvectors(v))
    score, v = _pq_adc_scores(
        spark,
        sf_dir,
        n_queries=n_queries,
        codebook=pq_codebook(v, sub=sub),
        prepared=(v, sub),
    )
    return _pq_shortlist_rerank(score, v, n_queries, k)


# ---------------------------------------------------------------------------
# IVF-PQ (IVFADC — Jégou, Douze, Schmid, TPAMI 2011 §IV): the coarse
# quantizer prunes to nprobe cells per query, and candidates inside the
# probed cells are scored by PQ asymmetric distance over RESIDUALS
# (vector minus its cell centroid) — the composed memory+compute layout
# at 100 TB: the query touches nprobe/n_cells of the CODES (never raw
# vectors), and the residual encoding concentrates codeword resolution
# around cell centers. Everything here follows the module's
# integer-determinism convention, so the full pipeline (centroids,
# assignment, residuals, codebook, encode, probe selection, ADC) is
# reproducible bit-for-bit in DuckDB SQL and in the NumPy twin.
# ---------------------------------------------------------------------------
# Since r14 these are FLOORS and the frozen keys' pinned fixture
# dials, not production constants: build/query entry points default to
# auto_ivf_cells (~sqrt n) and auto_ivf_nprobe (coverage target over
# the shortlist) — see the "auto cell/probe dials" section below.
_IVFPQ_CELLS = 8
_IVFPQ_NPROBE = 3


class AnnIndex(NamedTuple):
    """The three IVF-PQ index relations — the on-disk ANN layout at
    100 TB (see save_ann_index): raw vectors live in the vector
    store; queries scan only ``codes``.

    cents:    (cell, cv)              n_cells rows, broadcast-sized
    codebook: (j, c, cw)              M x K rows, broadcast-sized
    codes:    (vec_id, cell, j, code) M small ints per vector
    """

    cents: object
    codebook: object
    codes: object


def _cell_assign(v, cents):
    """Assign every quantized vector (vec_id, qv) to its
    integer-L2-nearest centroid (smallest-cell ties): returns
    (vec_id, cell, qv). One broadcast nested-loop pass over the
    n_cells rows plus one (vec_id)-keyed argmin shuffle — the
    standard IVF assignment shape, shared by the IVF-PQ build and
    semantic_dedup."""
    return (
        v.crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "qv", "cell", _pq_l2sq(F.col("qv"), F.col("cv")).alias("d2")
        )
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cell", "qv")).alias("m"))
        .select("vec_id", F.col("m.cell").alias("cell"), F.col("m.qv").alias("qv"))
    )


def _ivfpq_residuals(v, cents):
    """Assign every quantized vector to its integer-L2-nearest
    centroid (smallest-cell ties) and subtract that centroid: returns
    (vec_id, cell, rv). Exact in integers — quantized vectors minus
    quantized centroids — so residual encoding stays cross-engine
    deterministic."""
    best = _cell_assign(v, cents)
    return best.join(F.broadcast(cents), "cell").select(
        "vec_id", "cell", F.zip_with("qv", "cv", lambda x, y: x - y).alias("rv")
    )


def build_ann_index(v, n_cells: int = _IVFPQ_CELLS) -> AnnIndex:
    """Build the IVF-PQ index from a quantized vector relation
    (vec_id, qv): sampled coarse centroids (the full quantized
    vectors of the first n_cells vec_ids — deterministic, the same
    design choice as the sampled PQ codebook; k-means-refined
    centroids change cell QUALITY, never this machinery), a SHARED
    residual codebook across cells (classic IVFADC — per-cell books
    multiply codebook storage by n_cells for marginal fixture gain)
    sampled from the _PQ_K vec_ids AFTER the centroid sample (the
    centroid vectors' own residuals are zero), and the codes
    relation.

    The residual-subvector relation is persisted (tracked): codebook
    derivation and encoding both read it. At 100 TB the build is one
    broadcast assignment pass + one (vec_id, j)-keyed encode shuffle —
    no pairwise term; centroids/codebook are sample-trained artifacts
    a production deployment freezes and ships with the index
    (save_ann_index)."""
    cents = v.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell"), F.col("qv").alias("cv")
    )
    asg = _ivfpq_residuals(v, cents)
    sub = tracked_persist(_pq_subvectors(asg, vec_col="rv", carry=("cell",)))
    # codebook sample starts AFTER the centroid sample: vec_ids
    # 0..n_cells-1 are their own centroids, so their residuals are
    # identically zero — sampling them would degenerate half the book
    # to duplicate zero codewords (review finding, round 12)
    cb = sub.filter(
        (F.col("vec_id") >= n_cells) & (F.col("vec_id") < n_cells + _PQ_K)
    ).select("j", (F.col("vec_id") - n_cells).alias("c"), F.col("s").alias("cw"))
    return AnnIndex(cents, cb, _encode_sub(sub, cb))


def _encode_sub(sub, cb):
    """Encode a residual-subvector relation (vec_id, cell, j, s)
    against a codebook: integer-L2 argmin with smallest-c ties —
    one broadcast join + one (vec_id, cell, j)-keyed aggregate."""
    return (
        sub.join(F.broadcast(cb), "j")
        .select(
            "vec_id", "cell", "j", "c", _pq_l2sq(F.col("s"), F.col("cw")).alias("d2")
        )
        .groupBy("vec_id", "cell", "j")
        .agg(F.min(F.struct("d2", "c"))["c"].alias("code"))
    )


def encode_into_ann_index(batch_v, index: AnnIndex):
    """Encode NEW vectors (vec_id, qv) under an index's FROZEN
    quantizers: assign to the existing centroids, PQ-encode the
    residuals against the existing codebook. O(batch) — the index's
    own codes are never read, which is what makes ANN maintenance an
    append: quantizers are sample-trained artifacts that do not move
    with corpus growth (retraining them is a REBUILD — a new index
    generation — exactly like the dedup side's rebuild-vs-merge
    split)."""
    asg = _ivfpq_residuals(batch_v, index.cents)
    return _encode_sub(
        _pq_subvectors(asg, vec_col="rv", carry=("cell",)), index.codebook
    )


def merge_into_ann_index(index: AnnIndex, batch_v) -> AnnIndex:
    """In-session append: a new AnnIndex whose codes are the old codes
    plus the batch encoded under the frozen quantizers. When every
    batch vec_id sorts after the sampled prefix (>= n_cells + _PQ_K),
    the merged index equals a full rebuild over the union relation-
    for-relation (pinned in tests/test_ann_index.py) — the sampled
    quantizers of the union are the same rows. Callers must not
    re-merge ids already in the index: a vector with duplicate code
    rows matches each query table TWICE per subspace and its ADC
    score silently doubles (the saved-path merge guards this; see
    merge_into_saved_ann_index)."""
    return AnnIndex(
        index.cents,
        index.codebook,
        index.codes.unionByName(encode_into_ann_index(batch_v, index)),
    )


def _ivfpq_scores(v, index: AnnIndex, n_queries: int, nprobe: int):
    """The IVFADC scoring pipeline against a built (or loaded) index:
    probe the nprobe integer-L2-nearest cells per query (smallest-cell
    ties), build per-(query, probed-cell) ADC tables from the QUERY
    RESIDUAL against that cell's centroid, and score candidate codes
    by one broadcast-table join + sum. Returns (qid, vec_id, adc_dist)
    for every candidate in a probed cell (self-pairs excluded).

    The cell-pruning is structural, not a filter: the codes relation
    joins the broadcast table on (cell, j, code), so codes in
    unprobed cells never match a table row — the scan-side work is
    |probed cells| / n_cells of the codes, the IVF contract."""
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("q_qv")
    )
    pd_ = q.crossJoin(F.broadcast(index.cents)).select(
        "qid",
        "q_qv",
        "cell",
        "cv",
        _pq_l2sq(F.col("q_qv"), F.col("cv")).alias("d2"),
    )
    w = Window.partitionBy("qid").orderBy("d2", "cell")
    probe = (
        pd_.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select(
            "qid", "cell", F.zip_with("q_qv", "cv", lambda x, y: x - y).alias("qr")
        )
    )
    qsub = _pq_subvectors(
        probe.withColumnRenamed("qid", "vec_id"), vec_col="qr", carry=("cell",)
    ).withColumnRenamed("vec_id", "qid")
    qt = qsub.join(F.broadcast(index.codebook), "j").select(
        "qid",
        "cell",
        "j",
        F.col("c").alias("code"),
        _pq_l2sq(F.col("s"), F.col("cw")).alias("qd2"),
    )
    return (
        index.codes.join(F.broadcast(qt), ["cell", "j", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("qd2").alias("adc_dist"))
    )


def ivfpq_topk(
    spark,
    sf_dir,
    n_queries: int = 5,
    k: int = 4,
    nprobe: int = _IVFPQ_NPROBE,
    index: AnnIndex | None = None,
):
    """IVF-PQ ADC top-k: build (or accept) the index, score via
    _ivfpq_scores, rank per query by (adc_dist, vec_id)."""
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    if index is None:
        index = build_ann_index(v)
    score = _ivfpq_scores(v, index, n_queries, nprobe)
    w = Window.partitionBy("qid").orderBy(F.col("adc_dist"), F.col("vec_id"))
    return (
        score.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", F.col("vec_id").alias("cid"), "adc_dist")
    )


_IVFPQ_ORACLE_PIPELINE = """
    e AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
      FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS cell, qv AS cv FROM e WHERE vec_id < 8
    ),
    ad AS (
      SELECT e.vec_id, e.qv, cent.cell, cent.cv,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.qv) + 1),
                      i -> (e.qv[i] - cent.cv[i]) * (e.qv[i] - cent.cv[i]))) AS d2
      FROM e CROSS JOIN cent
    ),
    res AS (
      SELECT vec_id, cell,
             LIST_TRANSFORM(RANGE(1, LEN(qv) + 1), i -> qv[i] - cv[i]) AS rv
      FROM (SELECT vec_id, qv, cell, cv,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
            FROM ad)
      WHERE rn = 1
    ),
    sub AS (
      SELECT vec_id, cell, j, rv[(j * 8 + 1):(j * 8 + 8)] AS s
      FROM res, (SELECT UNNEST(RANGE(0, 8)) AS j)
    ),
    cb AS (
      SELECT j, vec_id - 8 AS c, s AS cw
      FROM sub WHERE vec_id >= 8 AND vec_id < 24
    ),
    dists AS (
      SELECT sub.vec_id, sub.cell, sub.j, cb.c,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, 9),
                      i -> (s[i] - cw[i]) * (s[i] - cw[i]))) AS d2
      FROM sub JOIN cb ON sub.j = cb.j
    ),
    enc AS (
      SELECT vec_id, cell, j, c
      FROM (SELECT vec_id, cell, j, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                      ORDER BY d2, c) AS rn
            FROM dists)
      WHERE rn = 1
    ),
    probe AS (
      SELECT qid, cell, cv, qv
      FROM (SELECT e.vec_id AS qid, e.qv, cent.cell, cent.cv,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                     LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.qv) + 1),
                              i -> (e.qv[i] - cent.cv[i]) * (e.qv[i] - cent.cv[i]))),
                     cent.cell) AS rn
            FROM e CROSS JOIN cent
            WHERE e.vec_id < 5)
      WHERE rn <= 3
    ),
    qsub AS (
      SELECT qid, cell, j, qr[(j * 8 + 1):(j * 8 + 8)] AS qs
      FROM (SELECT qid, cell,
                   LIST_TRANSFORM(RANGE(1, LEN(qv) + 1), i -> qv[i] - cv[i]) AS qr
            FROM probe),
           (SELECT UNNEST(RANGE(0, 8)) AS j)
    ),
    qt AS (
      SELECT qsub.qid, qsub.cell, qsub.j, cb.c,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, 9),
                      i -> (qs[i] - cw[i]) * (qs[i] - cw[i]))) AS qd2
      FROM qsub JOIN cb ON qsub.j = cb.j
    ),
    score AS (
      SELECT qt.qid, enc.vec_id AS cid, SUM(qt.qd2) AS adc_dist
      FROM enc JOIN qt ON enc.cell = qt.cell AND enc.j = qt.j AND enc.c = qt.c
      WHERE enc.vec_id <> qt.qid
      GROUP BY qt.qid, enc.vec_id
    )
"""


@query(
    "similarity_ivfpq_adc_topk",
    oracle="WITH "
    + _IVFPQ_ORACLE_PIPELINE
    + """
    SELECT qid, cid, CAST(adc_dist AS BIGINT) AS adc_dist
    FROM (SELECT qid, cid, adc_dist,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY adc_dist, cid) AS rn
          FROM score)
    WHERE rn <= 4
    """,
)
def similarity_ivfpq_adc_topk(spark, sf_dir):
    """IVF-PQ ANN (IVFADC), hash-verified end-to-end: the coarse
    quantizer assigns every vector to its nearest of _IVFPQ_CELLS
    sampled centroids, PQ encodes the integer RESIDUAL against a
    shared codebook, and each of 5 queries probes only its
    _IVFPQ_NPROBE nearest cells — candidates outside probed cells are
    never scored (the join on (cell, j, code) against the broadcast
    ADC tables is the pruning), which is the whole point of IVF at
    100 TB: query-side work is nprobe/n_cells of the CODES, raw
    vectors untouched.

    Exactness design (the module's quantized-i64 convention, the same
    recipe as the two frozen PQ keys): centroids are the quantized
    vectors of the first _IVFPQ_CELLS vec_ids, residuals are integer
    subtractions, the residual codebook is the residual subvectors of
    the next _PQ_K vec_ids after the centroid sample (whose own
    residuals are zero), and every distance — assignment, probe
    selection, encode, ADC — is an integer squared-L2 with
    smallest-id tie-breaks, so the oracle recomputes the WHOLE
    pipeline in SQL and the key is hash-exact, not rows-only. The
    NumPy twin and the recall-vs-true-top-k measurement live in
    tests/test_similarity.py; nprobe=n_cells equals exhaustive PQ
    over residuals (pinned there too).

    Scale shape: build = one broadcast assignment pass + one
    (vec_id, j)-keyed encode shuffle; query = ONE groupBy over codes
    joined to n_queries x nprobe x M x K broadcast table rows. No
    pairwise term anywhere; the codes relation is M small ints per
    vector (the 100 TB memory contract), maintained append-only under
    frozen quantizers by merge_into_ann_index."""
    return ivfpq_topk(spark, sf_dir)


# shared by the frozen explicit-dial key and the auto-depth key: at
# every fixture SF the auto depth resolves to the same 64 (n_codes
# <= 2000 → max(64, ceil(0.03*n)) = 64), so ONE oracle pins both.
_IVFPQ_RERANK_ORACLE = (
    "WITH "
    + _IVFPQ_ORACLE_PIPELINE
    + """
    , shortlist AS (
      SELECT qid, cid
      FROM (SELECT qid, cid,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY adc_dist, cid) AS rn
            FROM score)
      WHERE rn <= 64
    ),
    rer AS (
      SELECT s.qid, s.cid,
             CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(q.qv) + 1),
                           i -> q.qv[i] * c.qv[i])) AS DOUBLE)
               / (SQRT(CAST(LIST_SUM(LIST_TRANSFORM(q.qv, x -> x * x)) AS DOUBLE))
                  * SQRT(CAST(LIST_SUM(LIST_TRANSFORM(c.qv, x -> x * x)) AS DOUBLE))) AS cos
      FROM shortlist s
      JOIN e q ON q.vec_id = s.qid
      JOIN e c ON c.vec_id = s.cid
    )
    SELECT qid, cid, ROUND(cos, 6) AS cosine
    FROM (SELECT qid, cid, cos,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cos DESC, cid) AS rn
          FROM rer)
    WHERE rn <= 4
    """
)


@query("similarity_ivfpq_rerank_topk", oracle=_IVFPQ_RERANK_ORACLE)
def similarity_ivfpq_rerank_topk(spark, sf_dir):
    """The production IVF-PQ pattern, hash-verified end-to-end: the
    IVFADC scores (similarity_ivfpq_adc_topk's pipeline — cell-pruned
    codes-only scan) select a _PQ_SHORTLIST-deep shortlist per query,
    then ONLY the shortlist is reranked by exact quantized-i64 cosine
    — scan-side cost is IVF-PQ's, returned quality is
    exact-over-shortlist, and the recall dials are nprobe AND
    shortlist depth (both measured in tests/test_similarity.py /
    SCALING.md). The rerank tail is the same shared
    _pq_shortlist_rerank the flat-PQ keys use: at 100 TB it fetches
    _PQ_SHORTLIST raw vectors per query by id — a semi-join against
    the vector store — while everything before it reads codes."""
    n_queries, k = 5, 4
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    score = _ivfpq_scores(v, build_ann_index(v), n_queries, _IVFPQ_NPROBE)
    return _pq_shortlist_rerank(score, v, n_queries, k)


# -- auto shortlist depth (round 13) ------------------------------------
# SCALING.md's round-12 decomposition measured recall@4 at FIXED
# shortlist 64 decaying 0.90 → 0.25 as the corpus grows 2k → 20k, and
# that depth ∝ n restores the operating point (640/20000 ≈ 64/2000).
# The production default therefore scales the dial with the corpus
# (VERDICT r12 #2); the frozen hash-exact keys keep their explicit 64.

_AUTO_SHORTLIST_FRAC = 0.03  # ~ the measured 64/2000 operating point


def auto_shortlist_depth_n(n: int, floor_depth: int = _PQ_SHORTLIST,
                           frac: float = _AUTO_SHORTLIST_FRAC) -> int:
    """The ONE Python home of the shortlist dial (ADVICE r14):
    shortlist = max(floor_depth, ceil(frac * n)) for an already-known
    corpus/filtered-set size n. Every entry point (auto_shortlist_depth
    over a relation, ivfpq_rerank_topk, ivfpq_filtered_topk) delegates
    here; the SQL oracles fold the same formula in verbatim."""
    import math

    return max(floor_depth, math.ceil(frac * n))


def auto_shortlist_depth(v, floor_depth: int = _PQ_SHORTLIST,
                         frac: float = _AUTO_SHORTLIST_FRAC) -> int:
    """shortlist = max(floor_depth, ceil(frac * n_codes)) via ONE
    bounded count aggregate over the codes/vector relation — a single
    driver scalar (the shingle_saturation pattern). At fixture scales
    (n <= 2000) this resolves to the floor, so the auto key shares the
    frozen key's oracle; at sf1 (n = 20000) it is 600 — the depth that
    restores the measured recall operating point."""
    return auto_shortlist_depth_n(v.count(), floor_depth, frac)


# -- auto cell/probe dials (round 14) ------------------------------------
# VERDICT r13 #3: _IVFPQ_CELLS=8 / _IVFPQ_NPROBE=3 were the two fixed
# dials left after the r13 auto-shortlist — at 100x corpus the cell
# population grows 100x and the ADC candidate lists with it. Standard
# IVF sizing (Jégou et al. 2011 §V; the FAISS guideline) puts n_cells
# ~ sqrt(n): per-cell population and the coarse-quantizer scan then
# both grow as sqrt(n) instead of one of them growing as n. nprobe is
# DERIVED from a stated coverage target rather than fixed: probe
# enough cells that the EXPECTED candidate pool (nprobe/n_cells of the
# corpus, uniform-cell expectation) covers 2x the shortlist depth —
# the 2x is slack for cell imbalance; the floor keeps the measured
# small-corpus operating point; the cap (nprobe = n_cells) degrades
# gracefully to exhaustive PQ. Both formulas are integer-exact
# (ceiling division, never float quotients) so the SQL oracles fold
# them in verbatim and the auto keys stay hash-exact at ANY scale —
# the same design that fixed the shortlist dial in r13.


def auto_ivf_cells(n: int, floor_cells: int = _IVFPQ_CELLS) -> int:
    """n_cells = max(floor_cells, ceil(sqrt(n))). IEEE double sqrt is
    correctly rounded in Python and DuckDB alike, so the SQL twin
    GREATEST(f, CAST(CEIL(SQRT(n)) AS BIGINT)) is bit-identical."""
    return max(floor_cells, math.ceil(math.sqrt(n)))


def auto_ivf_nprobe(n: int, n_cells: int, shortlist: int,
                    floor_probe: int = _IVFPQ_NPROBE) -> int:
    """nprobe = clamp(ceildiv(2 * shortlist * n_cells, n), floor,
    n_cells): the smallest probe count whose expected candidate pool
    (nprobe * n / n_cells under uniform cells) is >= 2 * shortlist.
    Pure integer arithmetic — the SQL twin is
    LEAST(nc, GREATEST(f, (2 * sl * nc + n - 1) // n))."""
    return min(n_cells, max(floor_probe, (2 * shortlist * n_cells + n - 1) // max(n, 1)))


def ivfpq_rerank_topk(
    spark,
    sf_dir,
    n_queries: int = 5,
    k: int = 4,
    nprobe: int | None = None,
    shortlist: int | None = None,
    index: AnnIndex | None = None,
    n_cells: int | None = None,
):
    """The production IVF-PQ entry point: IVFADC codes-only scoring →
    shortlist → exact rerank. Every dial DEFAULTS to its corpus-sized
    auto formula — shortlist = auto_shortlist_depth (r13), n_cells =
    auto_ivf_cells (~sqrt n), nprobe = auto_ivf_nprobe (coverage
    target over the shortlist) — from ONE bounded count; pass explicit
    values to pin (the frozen oracle keys do). When ``index`` is
    passed, its cell count is read from the broadcast-sized cents
    relation (n_cells rows) rather than re-derived, so nprobe adapts
    to the index actually being queried."""
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    n = v.count() if (index is None or shortlist is None or nprobe is None) else 0
    if index is None:
        if n_cells is None:
            n_cells = auto_ivf_cells(n)
        index = build_ann_index(v, n_cells)
    elif n_cells is None:
        n_cells = index.cents.count()
    if shortlist is None:
        shortlist = auto_shortlist_depth_n(n)
    if nprobe is None:
        nprobe = auto_ivf_nprobe(n, n_cells, shortlist)
    score = _ivfpq_scores(v, index, n_queries, nprobe)
    return _pq_shortlist_rerank(score, v, n_queries, k, shortlist=shortlist)


def _ivfpq_auto_oracle() -> str:
    """The rerank oracle with the AUTO depth formula folded in: the
    shortlist cut becomes max(64, ceil(0.03 * n_codes)) computed from
    the same relation, so the oracle is exact at ANY scale — not just
    the fixture SFs where the depth resolves to the 64 floor (sf1
    verified: depth 600, hash-exact). Surgical insertion with a shape
    assert, like the filtered key's."""
    out = _IVFPQ_RERANK_ORACLE.replace(
        "WHERE rn <= 64",
        "WHERE rn <= GREATEST(64, CAST(CEIL(0.03 * "
        "(SELECT COUNT(*) FROM e)) AS BIGINT))",
    )
    assert out != _IVFPQ_RERANK_ORACLE, "shortlist cut not found"
    return out


@query("similarity_ivfpq_rerank_auto", oracle=_ivfpq_auto_oracle())
def similarity_ivfpq_rerank_auto(spark, sf_dir):
    """similarity_ivfpq_rerank_topk on the AUTO shortlist dial: depth
    = max(64, ceil(0.03 x n_codes)) from one bounded count aggregate,
    cells/probes pinned at the frozen 8/3 (this key isolates the r13
    shortlist dial; the r14 full-auto key below turns all three). The
    oracle computes the SAME depth formula in SQL, so the key is
    hash-exact at every scale — at fixture SFs the depth resolves to
    the frozen key's 64 (equality with the frozen key pinned by
    test); at sf1 the depth is 600 and recall@4 returns to the
    small-corpus operating point (SCALING.md round-13 row) where the
    fixed dial had decayed to 0.25. The depth tracking n is pinned by
    tests/test_similarity.py."""
    return ivfpq_rerank_topk(
        spark, sf_dir, nprobe=_IVFPQ_NPROBE, n_cells=_IVFPQ_CELLS
    )


def _ivfpq_auto_cells_oracle() -> str:
    """The rerank oracle with ALL THREE dial formulas folded in
    (VERDICT r13 #3, the same surgical-insertion discipline as the
    auto-shortlist and filtered oracles — every replacement asserts it
    changed something, so a reshaped base oracle fails the import
    instead of silently pinning the wrong pipeline):

      nc = GREATEST(8,  CEIL(SQRT(n)))            -- auto_ivf_cells
      sl = GREATEST(64, CEIL(0.03 * n))           -- auto_shortlist_depth
      np = LEAST(nc, GREATEST(3, ceildiv(2*sl*nc, n)))  -- auto_ivf_nprobe

    nprobe's ceiling division is pure BIGINT arithmetic ((a+n-1)//n)
    so no float quotient can diverge between engines; sqrt/0.03 match
    the Python twins bit-for-bit (correctly-rounded IEEE sqrt; the
    binary 0.03 rounds DOWN so ceil agrees with decimal — the same
    already-sf1-verified formula the r13 auto key uses)."""
    dial = """dial AS (
      SELECT n, nc, sl,
             LEAST(nc, GREATEST(3, (2 * sl * nc + n - 1) // n)) AS np
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS nc,
                   GREATEST(64, CAST(CEIL(0.03 * COUNT(*)) AS BIGINT)) AS sl
            FROM e)
    ),
    cent AS ("""
    out = _IVFPQ_RERANK_ORACLE.replace("cent AS (", dial)
    assert out != _IVFPQ_RERANK_ORACLE, "cent CTE not found"
    steps = [
        # centroid sample: first nc vec_ids
        ("WHERE vec_id < 8", "WHERE vec_id < (SELECT nc FROM dial)"),
        # residual codebook sample: the _PQ_K ids after the centroids
        (
            "SELECT j, vec_id - 8 AS c, s AS cw",
            "SELECT j, vec_id - (SELECT nc FROM dial) AS c, s AS cw",
        ),
        (
            "FROM sub WHERE vec_id >= 8 AND vec_id < 24",
            "FROM sub WHERE vec_id >= (SELECT nc FROM dial) "
            "AND vec_id < (SELECT nc FROM dial) + 16",
        ),
        # probe depth
        ("WHERE rn <= 3", "WHERE rn <= (SELECT np FROM dial)"),
        # shortlist depth
        ("WHERE rn <= 64", "WHERE rn <= (SELECT sl FROM dial)"),
    ]
    for old, new in steps:
        nxt = out.replace(old, new)
        assert nxt != out, f"auto-cells oracle anchor not found: {old!r}"
        out = nxt
    return out


@query("similarity_ivfpq_auto_cells", oracle=_ivfpq_auto_cells_oracle())
def similarity_ivfpq_auto_cells(spark, sf_dir):
    """The FULL-auto IVF-PQ key — ivfpq_rerank_topk's production
    defaults with every dial corpus-derived from one bounded count:
    n_cells = max(8, ceil(sqrt n)) (per-cell population and coarse
    scan both grow as sqrt n), shortlist = max(64, ceil(0.03 n)) (the
    r13 operating point), nprobe = the smallest probe count whose
    expected uniform-cell candidate pool covers 2x the shortlist,
    clamped to [3, n_cells]. The oracle folds all three formulas into
    the SQL pipeline, so the key is hash-exact at any scale AND the
    dials genuinely move: sf0.01 (n=500) resolves to (nc=23, sl=64,
    np=6), sf0.1 (n=2000) to (45, 64, 3), sf1 (n=20000) to (142, 600,
    9) — pinned in tests/test_similarity.py, with recall@k at the sf
    rungs recorded in SCALING.md round 14. This retires the last two
    fixed ANN dials (VERDICT r13 #3); the 8/3 constants remain only as
    floors and as the frozen keys' pinned fixture dials."""
    return ivfpq_rerank_topk(spark, sf_dir)


# -- filtered ANN: metadata predicate + IVF-PQ top-k (round 13) ----------
# The one similarity shape a real corpus pipeline hits that the suite
# lacked (VERDICT r12 #5): "top-k neighbors WHERE label = X /
# quality > t". The predicate-passing id set prunes the CODES relation
# BEFORE ADC (a left-semi join Catalyst/AQE turns into a broadcast
# when the set is small and a shuffled semi-join when it is not), so
# every downstream stage — ADC tables, shortlist, rerank — works on
# the filtered corpus: unlike post-filtering an unfiltered top-k, the
# result can never starve when the predicate is selective, because the
# shortlist is drawn FROM predicate-passing candidates.

_FILTER_LABEL = 3  # the frozen key's predicate (≈10% selectivity)


def ivfpq_filtered_topk(
    spark,
    sf_dir,
    predicate,
    n_queries: int = 5,
    k: int = 4,
    nprobe: int | None = None,
    shortlist: int | None = None,
    index: AnnIndex | None = None,
    n_cells: int | None = None,
):
    """Filtered IVF-PQ top-k: exact quantized-cosine top-``k`` among
    the vectors passing ``predicate`` (a Column over the embeddings
    table's metadata), selected by ADC over the PRE-FILTERED codes
    relation + shortlist + exact rerank. Queries are NOT required to
    pass the predicate (query anything; neighbors must pass).
    ``shortlist`` defaults to auto_shortlist_depth over the FILTERED
    id set — the corpus the shortlist actually ranks.

    ``nprobe`` defaults to the ADAPTIVE formula over the FILTERED set
    (VERDICT r13 #4): auto_ivf_nprobe(n_passing, n_cells, shortlist)
    widens probing exactly as the predicate gets selective — a 0.1%
    predicate leaves each probed cell nearly empty, and a fixed
    nprobe=3 would leave k unfillable while unprobed cells hold all
    the passing vectors. At the selective limit the formula hits its
    n_cells cap, ADC degrades gracefully to EXHAUSTIVE scoring of the
    filtered codes (which is tiny by definition — brute force emerges
    from the same formula, no discrete fallback branch), and the
    shortlist (>= its 64 floor >= n_passing) covers every passing
    candidate: the rerank then returns the EXACT cosine top-k over
    the whole filtered set. Recall@k vs selectivity is pinned flat in
    tests/test_similarity.py's sweep.

    When no ``index`` is passed, the built index's ``n_cells``
    defaults to auto_ivf_cells over the FULL corpus (same as
    ivfpq_rerank_topk — the index serves every predicate, so its
    layout is sized to the corpus, not to any one filter); the frozen
    oracle keys pin n_cells=8 explicitly."""
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    if index is None:
        if n_cells is None:
            n_cells = auto_ivf_cells(v.count())
        index = build_ann_index(v, n_cells)
    passing = e.filter(predicate).select("vec_id")
    fidx = AnnIndex(
        index.cents,
        index.codebook,
        index.codes.join(passing, "vec_id", "left_semi"),
    )
    if shortlist is None or nprobe is None:
        nf = passing.count()
        if shortlist is None:
            shortlist = auto_shortlist_depth_n(nf)
        if nprobe is None:
            nprobe = auto_ivf_nprobe(nf, index.cents.count(), shortlist)
    score = _ivfpq_scores(v, fidx, n_queries, nprobe)
    return _pq_shortlist_rerank(score, v, n_queries, k, shortlist=shortlist)


def _ivfpq_filtered_oracle() -> str:
    """The frozen filtered key's oracle: the rerank oracle with the
    predicate folded into the score CTE (codes semi-joined to the
    label-passing id set BEFORE scoring — the same place the Spark
    side prunes) AND the auto shortlist-depth formula folded over the
    FILTERED set — the corpus the Spark default actually sizes the
    shortlist on (max(64, ceil(0.03 * n_passing)); ADVICE r13: the
    frozen 'rn <= 64' cut silently diverged once the passing set
    exceeded ~2133 rows). Built by surgical insertion so the two
    pipelines can never drift apart silently; the asserts fail the
    import if the base oracle's shape changes."""
    lab = (
        f"lab AS (SELECT vec_id FROM embeddings "
        f"WHERE label = {_FILTER_LABEL}),\n    score AS ("
    )
    out = _IVFPQ_RERANK_ORACLE.replace("score AS (", lab)
    assert out != _IVFPQ_RERANK_ORACLE, "score CTE not found"
    joined = out.replace(
        "FROM enc JOIN qt ON",
        "FROM enc JOIN lab ON enc.vec_id = lab.vec_id JOIN qt ON",
    )
    assert joined != out, "enc/qt join not found"
    depth = joined.replace(
        "WHERE rn <= 64",
        "WHERE rn <= GREATEST(64, CAST(CEIL(0.03 * "
        "(SELECT COUNT(*) FROM lab)) AS BIGINT))",
    )
    assert depth != joined, "shortlist cut not found"
    return depth


@query("similarity_ivfpq_filtered_topk", oracle=_ivfpq_filtered_oracle())
def similarity_ivfpq_filtered_topk(spark, sf_dir):
    """Filtered ANN end-to-end, hash-verified: top-4 neighbors among
    label = 3 (= _FILTER_LABEL) vectors (≈10% of the corpus) for the
    first 5 query ids, via the pre-filtered-codes IVFADC pipeline.
    The oracle is the rerank oracle with the predicate semi-join
    folded into its score CTE at exactly the stage the Spark side
    prunes — and, since r14, with the auto shortlist-depth formula
    folded over the filtered set (ADVICE r13) — so the whole filtered
    pipeline — prune, ADC, shortlist, rerank — is pinned hash-exact at
    any scale. nprobe stays pinned at the frozen 3 here (this key
    isolates the pre-filter design); the ADAPTIVE-nprobe production
    default is pinned by similarity_ivfpq_filtered_adaptive below.
    Pre- vs post-filter recall at low selectivity is measured in
    SCALING.md round 13."""
    return ivfpq_filtered_topk(
        spark,
        sf_dir,
        F.col("label") == _FILTER_LABEL,
        nprobe=_IVFPQ_NPROBE,
        n_cells=_IVFPQ_CELLS,
    )


_ADAPT_FILTER_MOD = 100  # ~1% selectivity: vec_id % 100 = 7


def _ivfpq_filtered_adaptive_oracle() -> str:
    """The adaptive filtered key's oracle: rerank oracle + the ~1%
    predicate semi-join + BOTH filtered-set dial formulas folded in —
    shortlist = max(64, ceil(0.03 * nf)) and the adaptive nprobe
    np = clamp(ceildiv(2 * sl * 8, nf), 3, 8) (8 = the built index's
    cell count; pure BIGINT ceiling division, no float quotient). At
    1% fixture selectivity nf=5 drives np to the 8-cell cap — the
    emergent brute-force limit where ADC scores every filtered code —
    while sf1's nf=200 resolves np=6: the formula genuinely moves
    across the rungs and the key stays hash-exact at both."""
    lab = (
        f"lab AS (SELECT vec_id FROM embeddings "
        f"WHERE vec_id % {_ADAPT_FILTER_MOD} = 7),\n"
        """    fdial AS (
      SELECT nf, sl,
             LEAST(8, GREATEST(3, (2 * sl * 8 + nf - 1) // GREATEST(nf, 1))) AS np
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS nf,
                   GREATEST(64, CAST(CEIL(0.03 * COUNT(*)) AS BIGINT)) AS sl
            FROM lab)
    ),
    score AS ("""
    )
    out = _IVFPQ_RERANK_ORACLE.replace("score AS (", lab)
    assert out != _IVFPQ_RERANK_ORACLE, "score CTE not found"
    steps = [
        (
            "FROM enc JOIN qt ON",
            "FROM enc JOIN lab ON enc.vec_id = lab.vec_id JOIN qt ON",
        ),
        ("WHERE rn <= 3", "WHERE rn <= (SELECT np FROM fdial)"),
        ("WHERE rn <= 64", "WHERE rn <= (SELECT sl FROM fdial)"),
    ]
    for old, new in steps:
        nxt = out.replace(old, new)
        assert nxt != out, f"adaptive filtered oracle anchor not found: {old!r}"
        out = nxt
    return out


@query(
    "similarity_ivfpq_filtered_adaptive", oracle=_ivfpq_filtered_adaptive_oracle()
)
def similarity_ivfpq_filtered_adaptive(spark, sf_dir):
    """Filtered ANN under a SELECTIVE (~1%) predicate on the ADAPTIVE
    nprobe default (VERDICT r13 #4): vec_id % 100 = 7 passes ~1% of
    vectors, and ivfpq_filtered_topk's defaults size the shortlist on
    the filtered set and widen nprobe until the expected probed,
    filtered candidate pool covers 2x the shortlist — at this
    selectivity the fixture resolves to nprobe = n_cells (probe
    everything: ADC is exhaustive over the ~tiny filtered codes and
    the rerank returns the exact cosine top-k over the whole passing
    set, the brute-force limit emerging from the formula rather than
    a branch). The oracle folds the predicate AND both formulas in,
    so the key pins the adaptive path hash-exact at any scale; the
    no-decay recall sweep across 10% / 1% / 0.1% selectivities lives
    in tests/test_similarity.py."""
    return ivfpq_filtered_topk(
        spark,
        sf_dir,
        (F.col("vec_id") % _ADAPT_FILTER_MOD) == 7,
        n_cells=_IVFPQ_CELLS,
    )


@query(
    "similarity_ivfpq_filtered_saved", oracle=_ivfpq_filtered_adaptive_oracle()
)
def similarity_ivfpq_filtered_saved(spark, sf_dir):
    """The PRODUCTION filtered-ANN read path end-to-end, hash-verified:
    build the index, SAVE it through the generational store, LOAD the
    live generation, and run the selective (~1%) adaptive-dial filtered
    query against the LOADED relations — predicate semi-join on the
    store's codes, nprobe read off the store's cents, shortlist sized
    on the filtered set. Because a fresh store round-trips the index
    relation-for-relation, the result equals
    similarity_ivfpq_filtered_adaptive's and the same folded oracle
    pins the whole composition — store round-trip included (the
    corpus_health_report_saved / text_classifier_published recipe,
    completing the set: every maintained-store tier now has a
    read-through-the-store oracle key). The scratch store is the
    stable per-(user, corpus) location the other saved keys use;
    the post-flip sweep keeps only the live generation."""
    import getpass
    import hashlib
    import os
    import tempfile

    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    store = os.path.join(
        tempfile.gettempdir(),
        f"por_spark_ann_idx_{getpass.getuser()}_{tag}",
    )
    # shared scratch store: a parallel suite run's writer marker can
    # make load_ann_index refuse between this save and the read — the
    # key only needs A fresh round-trip, so retry once (ADVICE r14)
    for attempt in (0, 1):
        save_ann_index(
            build_ann_index(v, n_cells=_IVFPQ_CELLS), store, force=True
        )
        try:
            idx = load_ann_index(spark, store)
            break
        except ValueError:
            if attempt:
                raise
    return ivfpq_filtered_topk(
        spark,
        sf_dir,
        (F.col("vec_id") % _ADAPT_FILTER_MOD) == 7,
        index=idx,
    )


def _ivfpq_lifecycle_oracle() -> str:
    """The lifecycle key's oracle: the full-auto rerank oracle (all
    three corpus-derived dials already folded in) with the ~1%
    predicate semi-join and the FILTERED-set dial pair surgically
    inserted — shortlist and nprobe re-derived over the passing set
    (nf) against the REBUILT index's auto cell count (nc from the
    full-corpus dial). Matches the Spark side because the rebuild
    produces exactly build_ann_index(v, auto_ivf_cells(n)) — the same
    index similarity_ivfpq_auto_cells queries — and
    ivfpq_filtered_topk's defaults size sl/np on the filtered set.
    Same surgical-insertion discipline: every replacement asserts it
    changed something."""
    base = _ivfpq_auto_cells_oracle()
    lab = (
        f"""lab AS (SELECT vec_id FROM embeddings
      WHERE vec_id % {_ADAPT_FILTER_MOD} = 7),
    fdial AS (
      SELECT nf, sl,
             LEAST((SELECT nc FROM dial), GREATEST(3,
               (2 * sl * (SELECT nc FROM dial) + nf - 1)
                 // GREATEST(nf, 1))) AS np
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS nf,
                   GREATEST(64, CAST(CEIL(0.03 * COUNT(*)) AS BIGINT)) AS sl
            FROM lab)
    ),
    cent AS ("""
    )
    out = base.replace("cent AS (", lab)
    assert out != base, "cent CTE not found"
    steps = [
        (
            "FROM enc JOIN qt ON",
            "FROM enc JOIN lab ON enc.vec_id = lab.vec_id JOIN qt ON",
        ),
        ("WHERE rn <= (SELECT np FROM dial)",
         "WHERE rn <= (SELECT np FROM fdial)"),
        ("WHERE rn <= (SELECT sl FROM dial)",
         "WHERE rn <= (SELECT sl FROM fdial)"),
    ]
    for old, new in steps:
        nxt = out.replace(old, new)
        assert nxt != out, f"lifecycle oracle anchor not found: {old!r}"
        out = nxt
    return out


@query(
    "similarity_ivfpq_lifecycle_rebuild", oracle=_ivfpq_lifecycle_oracle()
)
def similarity_ivfpq_lifecycle_rebuild(spark, sf_dir):
    """The FULL saved-ANN maintenance lifecycle in one hash-exact key
    (VERDICT r14 #4 — the last uncomposed pair): (1) build an index
    sized for the FIRST 20% of the corpus (auto cells over n/5) and
    publish it; (2) a merge-growth episode admits the other 80% under
    the frozen quantizers (O(batch) appends — the index now holds 5x
    its design population); (3) ann_rebuild_advice reads the loaded
    index and MUST fire (ratio 5 > the 4x growth factor — asserted,
    so a silently non-firing advisory fails the key loudly, the
    corpus_health_report_saved recipe); (4) the rebuild runs —
    build_ann_index over the full corpus at auto_ivf_cells(n) —
    and publishes a NEW generation (flip asserted); (5) the advice
    re-read over the rebuilt index must be quiet (asserted: ratio
    ~1 < 4); (6) the selective (~1%) adaptive-dial filtered query runs
    through the REBUILT loaded index and is the returned relation —
    pinned by the folded all-dials + filtered-dials oracle, so the
    whole episode (grow → advise → rebuild → query) is hash-verified.

    Scale shape: every stage is the audited production path — the
    merge is one bounded-guard append, the advice is two bounded
    aggregates, the rebuild is the standard build (one pass to build
    quantizers + one encode pass), and the query reads codes-only
    before the shortlist rerank. The scratch store is a stable
    per-(user, corpus) location distinct from the read-path key's, so
    the two keys can't race each other's generations in one suite
    run; the post-flip sweep keeps only the live generation."""
    import getpass
    import hashlib
    import os
    import tempfile

    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    n = v.count()
    init_n = n // 5
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    store = os.path.join(
        tempfile.gettempdir(),
        f"por_spark_ann_lifecycle_{getpass.getuser()}_{tag}",
    )
    def _episode():
        # (1) publish an index sized for the initial 20%
        initial = v.filter(F.col("vec_id") < init_n)
        save_ann_index(
            build_ann_index(initial, n_cells=auto_ivf_cells(init_n)),
            store,
            force=True,
        )
        _, os_path = store_proto.local_paths_or_none(store)
        gen_before = store_proto.current_generation(os_path)
        # (4a) the rebuild's index relations depend only on the corpus
        # relation v — never on the store the merge mutates — so they
        # materialize CONCURRENTLY with the growth episode (guide §2.6
        # 'overlap independent jobs'); only the publish below is
        # ordered after the advice assertions.
        import concurrent.futures

        rebuilt_ix = build_ann_index(v, n_cells=auto_ivf_cells(n))
        with concurrent.futures.ThreadPoolExecutor(max_workers=1) as ex:
            fwarm = ex.submit(rebuilt_ix.codes.count)
            # (2) the growth episode: admit the remaining 80% under the
            # frozen quantizers
            merge_into_saved_ann_index(
                spark, store, v.filter(F.col("vec_id") >= init_n)
            )
            # (3) the advisory must fire on the grown index
            advice = ann_rebuild_advice(load_ann_index(spark, store))
            fwarm.result()
        if not advice["rebuild_due"]:
            raise AssertionError(
                f"lifecycle: rebuild advice did not fire after 5x "
                f"growth: {advice}"
            )
        # (4) rebuild at the corpus's own auto sizing; publish = new gen
        save_ann_index(rebuilt_ix, store, force=True)
        gen_after = store_proto.current_generation(os_path)
        if gen_after == gen_before:
            raise AssertionError(
                f"lifecycle: rebuild did not flip the generation "
                f"({gen_before!r})"
            )
        rebuilt = load_ann_index(spark, store)
        # (5) the rebuilt index is correctly sized — the advice is quiet
        post = ann_rebuild_advice(rebuilt)
        if post["rebuild_due"]:
            raise AssertionError(
                f"lifecycle: advice still due after the rebuild: {post}"
            )
        return rebuilt

    # the shared scratch store makes this key's critical section wide
    # (save → merge → advise → rebuild): a parallel suite run's save
    # landing mid-episode surfaces as the merge's duplicate guard, a
    # marker refusal (ValueError) or a falsified step assert
    # (AssertionError). The key only needs ONE clean episode — retry
    # once, then propagate (the siblings' ADVICE r14 recipe).
    for attempt in (0, 1):
        try:
            rebuilt = _episode()
            break
        except (ValueError, AssertionError):
            if attempt:
                raise
    # (6) the production filtered query through the rebuilt index
    return ivfpq_filtered_topk(
        spark,
        sf_dir,
        (F.col("vec_id") % _ADAPT_FILTER_MOD) == 7,
        index=rebuilt,
    )


@query("similarity_ivfpq_refined_topk")
def similarity_ivfpq_refined_topk(spark, sf_dir):
    """The IVF-PQ quality dial turned at ENCODE time: the residual
    codebook is k-means-refined (pq_codebook over the residual
    subvectors, init at n_cells — the centroid ids' residuals are
    zero) instead of sampled, with the same cells, probes, shortlist,
    and rerank machinery as the frozen hash-exact keys. Rows-only by
    design, exactly like similarity_pq_refined_topk: the refined
    pipeline stays integer-deterministic (pinned against the NumPy
    Lloyd twin in tests/test_similarity.py, where its encode
    distortion win over the sampled residual book is also measured),
    but a 5-iteration Lloyd loop in one SQL oracle checks nothing the
    twin does not. The round-12 SCALING decomposition motivates this
    dial: on unclustered data the sampled book's ADC ranking is the
    noise source, and refinement attacks it at encode time while
    shortlist depth attacks it at query time — orthogonal dials, same
    codes-only plan."""
    n_queries, k = 5, 4
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    cents = v.filter(F.col("vec_id") < _IVFPQ_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("qv").alias("cv")
    )
    asg = _ivfpq_residuals(v, cents)
    # one explode+persist shared by codebook training and encoding
    sub = tracked_persist(_pq_subvectors(asg, vec_col="rv", carry=("cell",)))
    cb = pq_codebook(asg, vec_col="rv", sub=sub, init_offset=_IVFPQ_CELLS)
    index = AnnIndex(cents, cb, _encode_sub(sub, cb))
    score = _ivfpq_scores(v, index, n_queries, _IVFPQ_NPROBE)
    return _pq_shortlist_rerank(score, v, n_queries, k)

# ---------------------------------------------------------------------------
# Saved ANN index: the IVF-PQ relations maintained on disk — the
# production form at 100 TB (codes are a table alongside the vector
# store, not a session cache). Layout on local paths is GENERATIONAL:
#
#     {path}/_CURRENT            one line naming the live generation
#     {path}/gen-K/{cents,codebook,codes}
#     {path}/_ANN_WRITING        exclusive single-writer marker
#
# Every save and compact publishes a COMPLETE new generation through
# the shared store protocol (store.publish_generation: write, atomic
# _CURRENT flip, sweep) — the live generation is never mutated in
# place, so there is no mixed-generation state and recovery never has
# to reconstruct a half-swapped index. The ONLY in-place mutation is
# merge's codes APPEND inside the current generation, which is why
# readers refuse while the writer marker is up. Failures before any
# byte is committed release the marker cleanly; failures that may
# have committed bytes strand it — torn states are loud, never
# silently readable. The lifecycle mirrors the dedup side's saved
# index where semantics match (single-writer lock, loud stranding,
# scheduled verify) and is deliberately lighter where they don't: ANN
# quantizers are frozen sample-trained artifacts, so append is the
# only incremental mutation — no re-rank analogue, no staleness dial.
# ---------------------------------------------------------------------------
_ANN_RELATIONS = ("cents", "codebook", "codes")
_ANN_STORE = "saved ANN index"
_ANN_WRITING = "_ANN_WRITING"
# superseded generations each publish keeps: none — readers holding a
# lazy plan across a publish must reload (load_ann_index's contract)
_ANN_RETAIN = 0
_ANN_RECOVERY = (
    "If no writer is live, the one-call recovery is "
    "compact_saved_ann_index(force=True, drop_torn=True): it writes a "
    "complete new generation (dropping torn vectors if any — a no-op on "
    "a clean index) and flips atomically, then sweeps the orphans. "
    "save_ann_index(force=True) with a rebuilt index is the full-rebuild "
    "alternative."
)


class TornAnnCodes(ValueError):
    """The codes relation violates the per-vector invariant (exactly
    _PQ_M rows over _PQ_M distinct subspaces): a crashed append left a
    partially-encoded vector, or a batch was merged twice. This is the
    ONE failure class compact_saved_ann_index(drop_torn=True) can
    repair by keeping the intact vectors — every other verify failure
    (cardinality, orphan references) must keep raising through the
    recovery path, so it gets a dedicated class the recovery
    dispatches on instead of a bare ValueError match."""


def _ann_writer(os_path: str, force: bool = False):
    return store_proto.WriterMarker(
        os_path, _ANN_WRITING, _ANN_STORE, _ANN_RECOVERY, force=force
    )


def _ann_resolve_gen(os_path: str, path: str) -> str:
    """The live generation, or a loud diagnosis shared by every entry
    point (load/merge/compact must agree on what a missing pointer
    means): a directory holding the three relations WITHOUT _CURRENT
    is a pre-generational flat layout needing migration, not a
    missing index."""
    import os

    gen = store_proto.current_generation(os_path)
    if gen is not None:
        return gen
    if all(
        os.path.isdir(os.path.join(os_path, name)) for name in _ANN_RELATIONS
    ):
        raise ValueError(
            f"saved ANN index at {path!r} uses the flat relation "
            f"layout ({store_proto.CURRENT} missing but cents/codebook/"
            f"codes directories present) — read the relations "
            f"directly with spark.read.parquet and re-save with "
            f"save_ann_index to adopt the generational protocol."
        )
    raise ValueError(
        f"no saved ANN index at {path!r}: {store_proto.CURRENT} is missing "
        f"(no save ever completed its atomic flip here)."
    )


def _load_ann_relations(spark, rel_root: str) -> AnnIndex:
    return AnnIndex(
        *[spark.read.parquet(f"{rel_root}/{name}") for name in _ANN_RELATIONS]
    )


def _ann_write_relations(index: AnnIndex, base: str) -> None:
    """Write the three AnnIndex relations under ``base`` as concurrent
    Spark actions — generation (and flat-layout) writes have no
    ordering contract: the _CURRENT flip (or the store's own
    atomicity) is what publishes them. cents/codebook are broadcast-
    sized, so this effectively overlaps their scheduling with the
    codes write. Any failure propagates to the caller's
    release-vs-strand handling."""
    import concurrent.futures

    with concurrent.futures.ThreadPoolExecutor(
        max_workers=len(_ANN_RELATIONS)
    ) as ex:
        futures = [
            ex.submit(
                lambda name=name, rel=rel: rel.write.mode("overwrite").parquet(
                    f"{base}/{name}"
                )
            )
            for name, rel in zip(_ANN_RELATIONS, index)
        ]
        for f in futures:
            f.result()


def _ann_publish(index: AnnIndex, spark_path: str, os_path: str) -> None:
    """Publish ``index`` as the next generation (shared by save and
    compact, so their crash semantics cannot drift)."""
    store_proto.publish_generation(
        os_path,
        lambda gen: _ann_write_relations(index, f"{spark_path}/{gen}"),
        _ANN_RETAIN,
    )


def save_ann_index(index: AnnIndex, path: str, force: bool = False) -> None:
    """Materialize the three AnnIndex relations under ``path``. Local
    paths get the generational protocol: the relations are written
    into a fresh gen-K directory and _CURRENT flips atomically — an
    index loaded FROM this very path can be saved back onto it (the
    write never touches the directories it is reading), a failure
    before the flip releases the marker with the old generation
    untouched, and the sweep runs only after the flip. Refuses
    while the marker is held unless ``force=True`` (the crashed-writer
    takeover). Non-local paths get plain flat overwrite writes with no
    marker or generations: the store's atomicity and the caller's
    single-writer discipline apply."""
    spark_path, os_path = store_proto.local_paths_or_none(path)
    if os_path is None:
        _ann_write_relations(index, spark_path)
        return
    # any failure releases the marker: before the flip the old
    # generation (if any) is intact and the partial gen directory is
    # unreferenced litter the next writer sweeps
    with _ann_writer(os_path, force):
        _ann_publish(index, spark_path, os_path)


def load_ann_index(spark, path: str) -> AnnIndex:
    """Read the live generation's relations. Refuses while
    _ANN_WRITING is up: a save/compact mid-write is harmless to read
    past (the pointer flips atomically) but a merge mid-APPEND is not
    — the codes listing would snapshot a half-committed batch — and a
    reader cannot tell which writer holds the marker. The refusal is
    BEST-EFFORT, stated honestly: the marker check and the parquet
    listing are two filesystem operations, so a writer acquiring in
    between can still be observed mid-append (and a concurrent
    compact's sweep can fail this read loudly); readers needing strict
    isolation coordinate with writers or put the index in a
    transactional table format — the same contract as the dedup saved
    index. Lazy reads: the file listing snapshots at load, so codes
    appended later need a reload to become visible. Non-local paths
    read the flat layout (see save_ann_index)."""
    import os

    spark_path, os_path = store_proto.local_paths_or_none(path)
    if os_path is None:
        return _load_ann_relations(spark, spark_path)
    if os.path.exists(os.path.join(os_path, _ANN_WRITING)):
        raise ValueError(
            f"saved ANN index at {path!r}: {_ANN_WRITING} is held — a "
            f"writer is live or crashed. If no writer is live, the "
            f"one-call recovery is compact_saved_ann_index(force=True, "
            f"drop_torn=True); the current generation stays on disk "
            f"until the recovery's atomic flip."
        )
    return _load_ann_relations(
        spark, f"{spark_path}/{_ann_resolve_gen(os_path, path)}"
    )


def _ann_batch_guard(index: AnnIndex, batch_v, where: str, skip_hit: bool = False):
    """Two BOUNDED probes dispatching the admission hazards. (1) a
    vec_id that is NULL (neither probe's join can see it, and it
    would encode into untraceable NULL-keyed code rows) or duplicated
    WITHIN the batch (the encode argmin would silently collapse the
    duplicates to one arbitrary vector) — via a batch-sized groupBy;
    (2) a batch vec_id already in the index — re-merged ids duplicate
    code rows and silently DOUBLE ADC scores — via an early-
    terminating limit-1 scan of codes against the BROADCAST batch ids
    (never a shuffle or full aggregate of the codes relation; the
    dedup side's _check_new_doc_ids is the reference shape).
    ``skip_hit=True`` elides probe (2) when the caller just resume-
    filtered the batch against the SAME snapshotted codes listing —
    the probe would be a guaranteed-empty second full scan."""
    dup = (
        batch_v.groupBy("vec_id")
        .agg(F.count("*").alias("k"))
        .filter(F.col("vec_id").isNull() | (F.col("k") > 1))
        .limit(1)
        .collect()
    )
    if dup:
        r = dup[0]
        if r["vec_id"] is None:
            raise ValueError(
                f"merge into {where}: the batch contains NULL vec_ids — "
                f"they would encode into code rows no query, guard, or "
                f"resume probe can ever match. Filter or key them first."
            )
        raise ValueError(
            f"merge into {where}: batch vec_id {r['vec_id']} "
            f"appears {r['k']} times in the batch — the encode "
            f"argmin would silently keep one arbitrary vector. "
            f"Deduplicate the batch first."
        )
    if skip_hit:
        return
    hit = (
        index.codes.join(
            F.broadcast(batch_v.select("vec_id").distinct()), "vec_id"
        )
        .limit(1)
        .collect()
    )
    if hit:
        raise ValueError(
            f"merge into {where}: batch vec_id {hit[0]['vec_id']} is "
            f"already in the saved index — re-merging duplicates code "
            f"rows and silently doubles ADC scores. Deduplicate the "
            f"batch against the index first, or pass resume=True if "
            f"this is the prescribed re-merge after a crashed append "
            f"(it skips ids the crashed merge already committed)."
        )


def merge_into_saved_ann_index(
    spark, path: str, batch_v, resume: bool = False
) -> None:
    """Admit new vectors into a saved index: encode under the FROZEN
    saved quantizers and APPEND to the live generation's codes —
    O(batch) work; the index's own codes are read only by the
    admission guard's bounded broadcast probe. The load, the guard,
    and the append ALL run inside the _ANN_WRITING marker (a guard
    probed before acquiring would race a concurrent merge: both
    probes pass, both append, scores silently double).

    Failure handling distinguishes what actually committed: guard and
    plan failures release the marker (nothing written), and an append
    failing with an ordinary Exception releases it too when the codes
    listing is unchanged (such an exception means the Spark job
    ABORTED, and an aborted job commits nothing). The marker STRANDS
    when data files actually appeared (genuinely torn) AND on
    KeyboardInterrupt/SystemExit, which interrupt the py4j call while
    the JVM job may still be running — it can commit AFTER any listing
    check, so the only safe answer there is to stay loud.
    Recovery from a torn append: compact_saved_ann_index(
    drop_torn=True, force=True) keeps the fully-encoded vectors, then
    re-merge the batch with ``resume=True``, which anti-joins away the
    ids the crashed merge already committed (a plain re-merge would
    trip the duplicate guard on them)."""
    import contextlib
    import os

    spark_path, os_path = store_proto.local_paths_or_none(path)
    if os_path is None:
        raise ValueError(
            f"merge_into_saved_ann_index requires the local generational "
            f"protocol; {path!r} is not a local path — encode with "
            f"encode_into_ann_index and manage the append (and its "
            f"single-writer discipline) in the store's own transaction "
            f"layer, or save a new generation with save_ann_index."
        )
    # guard and plan failures release the marker: nothing was written
    with _ann_writer(os_path) as marker:
        gen = _ann_resolve_gen(os_path, path)
        rel_root = f"{spark_path}/{gen}"
        codes_os = os.path.join(os_path, gen, "codes")
        index = _load_ann_relations(spark, rel_root)
        if resume:
            # ONE bounded codes scan (broadcast batch-ids semi-join),
            # COLLECTED — batch-sized by construction — so the filter
            # below costs nothing downstream: a lazy committed plan
            # would re-run its codes scan at every subsequent action.
            # The collected ids go back in as a parallelized broadcast
            # anti-join, NOT an isin() literal list: a backlog replay
            # can re-deliver ~10^6 committed ids in one batch, and a
            # million-node IN expression breaks analysis long before
            # the data would. (The anti-join also keeps NULL-id rows
            # for the guard to refuse by name — ~isin(NULLs) would
            # drop or keep them depending on what ELSE was committed.)
            committed = (
                index.codes.join(
                    F.broadcast(batch_v.select("vec_id").distinct()),
                    "vec_id",
                )
                .select("vec_id")
                .distinct()
                .collect()
            )
            if committed:
                batch_v = batch_v.join(
                    F.broadcast(
                        spark.createDataFrame(committed, "vec_id long")
                    ),
                    "vec_id",
                    "left_anti",
                )
        _ann_batch_guard(index, batch_v, path, skip_hit=resume)
        new_codes = encode_into_ann_index(batch_v, index)
        before = _ann_data_files(codes_os)
        try:
            new_codes.write.mode("append").parquet(f"{rel_root}/codes")
        except Exception:
            # an ordinary failure means the Spark job ABORTED before
            # this exception surfaced; a cleanly-aborted job commits
            # nothing, so release — unless the listing shows data files
            # appeared (genuinely torn) or cannot be taken: strand
            torn = True
            with contextlib.suppress(OSError):
                torn = _ann_data_files(codes_os) != before
            if torn:
                marker.strand()
            raise
        except BaseException:
            # KeyboardInterrupt/SystemExit interrupt the PY4J CALL, not
            # necessarily the JVM job — it can still be running and
            # commit AFTER a listing check passed, so the only safe
            # answer is to strand the marker (recovery:
            # compact(force=True, drop_torn=True) once the job is known
            # dead)
            marker.strand()
            raise


def _ann_data_files(codes_os: str):
    """The committed data-file names under a codes directory —
    excludes Spark's _temporary/_SUCCESS bookkeeping and checksum
    litter, which a cleanly-aborted job may touch without committing
    any data."""
    import os

    return {
        f
        for f in os.listdir(codes_os)
        if not f.startswith(("_", "."))
    }


def _ann_code_stats(codes):
    """Per-vector integrity stats — the ONE definition of the torn/
    duplicated predicate, shared by verify_ann_index and the
    drop_torn recovery so the two can never drift: (vec_id, rows,
    js) where intact means rows == js == _PQ_M."""
    return codes.groupBy("vec_id").agg(
        F.count("*").alias("rows"), F.count_distinct("j").alias("js")
    )


def verify_ann_index(index: AnnIndex, n_cells: int | None = None) -> dict:
    """Bounded consistency checks over a (possibly loaded) index —
    the explicit, scheduled integrity pass (the analogue of the dedup
    side's verify_index_consistency). Two scans of codes on the green
    path (one stats aggregate that also yields the returned totals,
    one broadcast-joined orphan probe) plus two tiny quantizer counts;
    the per-violation limit-1 lookups run only on the already-failing
    cold path. Raises TornAnnCodes for the per-vector M-row invariant
    (repairable by compact_saved_ann_index(drop_torn=True)); plain
    ValueError for quantizer cardinality and orphan cell/codeword
    references (NOT repairable by dropping rows — rebuild).

    ``n_cells``: pass the build-time cell count to enforce it; None
    (the default since r14's auto-sized builds — a loaded index's
    cell count is whatever auto_ivf_cells resolved to at build time,
    not a session constant) enforces only non-emptiness, and the
    orphan probe still catches codes referencing missing centroids."""
    stats = _ann_code_stats(index.codes)
    totals = stats.agg(
        F.count("*").alias("vectors"),
        F.sum(
            ((F.col("rows") != _PQ_M) | (F.col("js") != _PQ_M)).cast("long")
        ).alias("bad"),
    ).collect()[0]
    if (totals["bad"] or 0) > 0:
        r = (
            stats.filter((F.col("rows") != _PQ_M) | (F.col("js") != _PQ_M))
            .limit(1)
            .collect()[0]
        )
        raise TornAnnCodes(
            f"ANN index codes are torn or duplicated: vec_id "
            f"{r['vec_id']} has {r['rows']} code rows over {r['js']} "
            f"distinct subspaces (want {_PQ_M}/{_PQ_M}), "
            f"{totals['bad']} vector(s) affected — a crashed append "
            f"leaves partially-encoded vectors "
            f"(compact_saved_ann_index(drop_torn=True, force=True) — "
            f"force because a torn refusal strands the writer marker — "
            f"keeps the intact "
            f"ones); duplicates mean a batch was merged twice (rebuild)."
        )
    n_cents = index.cents.count()
    if n_cells is not None and n_cents != n_cells:
        raise ValueError(
            f"ANN index has {n_cents} centroids, expected {n_cells}"
        )
    if n_cents == 0:
        raise ValueError("ANN index has no centroids — nothing was built")
    n_cw = index.codebook.count()
    if n_cw != _PQ_M * _PQ_K:
        raise ValueError(
            f"ANN codebook has {n_cw} codewords, expected "
            f"{_PQ_M} x {_PQ_K} = {_PQ_M * _PQ_K}"
        )
    orphan = (
        index.codes.join(
            F.broadcast(
                index.cents.select("cell").withColumn("_cell_ok", F.lit(True))
            ),
            "cell",
            "left",
        )
        .join(
            F.broadcast(
                index.codebook.select(
                    "j", F.col("c").alias("code")
                ).withColumn("_cw_ok", F.lit(True))
            ),
            ["j", "code"],
            "left",
        )
        .filter(F.col("_cell_ok").isNull() | F.col("_cw_ok").isNull())
        .limit(1)
        .collect()
    )
    if orphan:
        r = orphan[0]
        if r["_cell_ok"] is None:
            raise ValueError(
                f"ANN code row references unknown cell {r['cell']} "
                f"(vec_id {r['vec_id']})"
            )
        raise ValueError(
            f"ANN code row references unknown codeword "
            f"(j={r['j']}, code={r['code']}, vec_id {r['vec_id']})"
        )
    return {
        "vectors": totals["vectors"],
        "cells": n_cents,
        "codewords": n_cw,
    }


def ann_rebuild_advice(index: AnnIndex, growth_factor: float = 4.0) -> dict:
    """The maintenance half of the r14 auto-cells story: merge appends
    encode new vectors under FROZEN quantizers (O(batch), by design),
    so an index built at n keeps ceil(sqrt n) cells while its corpus
    grows — per-cell population and ADC candidate lists grow linearly
    past the build point, exactly the drift auto_ivf_cells exists to
    prevent. This advisory compares the index's CURRENT corpus size
    against what its cell count was sized for (built_for ~ cells², the
    inverse of the sqrt formula) and flags a rebuild once the corpus
    exceeds ``growth_factor`` x that — i.e. once cells hold ~4x their
    design population, the recall/cost operating point has moved a
    cell-split's worth. Two bounded aggregates (a codes row count / M
    and the broadcast-sized cents count); returns
    {vectors, cells, built_for, auto_cells_now, ratio, rebuild_due}.
    A scheduler runs this next to verify_ann_index and triggers
    build_ann_index + save_ann_index(force=...) on due — a new
    generation, the same rebuild-vs-merge split as the dedup index."""
    vectors = index.codes.count() // _PQ_M
    cells = index.cents.count()
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


def compact_saved_ann_index(
    spark, path: str, drop_torn: bool = False, force: bool = False
) -> None:
    """Rewrite the index as one clean generation — the file-count
    hygiene pass after many small appends, and the UNIVERSAL stranded-
    state recovery (every crashed writer is cured by a complete new
    generation + atomic flip; nothing is ever repaired in place). The
    WHOLE operation (load, verify, rewrite, flip) runs inside the
    _ANN_WRITING marker: verifying outside it would let a concurrent
    merge commit between the snapshot and the flip and silently lose
    that batch. ``force=True`` takes over a STRANDED marker (a crashed
    merge leaves it held, and recovery must run under it). A torn
    index REFUSES unless ``drop_torn=True`` — and the refusal leaves
    the marker IN PLACE (even when force just removed a stranded one):
    the marker is what keeps a torn index loud, and releasing it on
    refusal would make the torn state silently readable. The one-call
    recovery everywhere is therefore compact(force=True,
    drop_torn=True), which keeps exactly the vectors satisfying
    _ann_code_stats' intact predicate and then RE-VERIFIES the kept
    index before the flip, so quantizer-cardinality and orphan
    corruption hiding behind a TornAnnCodes cannot ride through the
    recovery (they raise; that corruption class is readable-but-wrong
    by construction, predates the compact, and needs a rebuild — the
    marker releases and the old generation stays live, exactly as it
    was). Failures before the flip always leave the old generation
    untouched."""
    spark_path, os_path = store_proto.local_paths_or_none(path)
    if os_path is None:
        raise ValueError(
            f"compact_saved_ann_index requires the local generational "
            f"protocol; {path!r} is not a local path — rewrite a new "
            f"generation with save_ann_index instead."
        )
    # failures before the flip release the marker: the old generation
    # is intact, and partial new-generation litter is unreferenced and
    # swept by the next successful writer
    with _ann_writer(os_path, force) as marker:
        gen = _ann_resolve_gen(os_path, path)
        index = _load_ann_relations(spark, f"{spark_path}/{gen}")
        try:
            verify_ann_index(index)
            keep = index
        except TornAnnCodes:
            if not drop_torn:
                # refused a torn index: the marker STAYS — it is the
                # only thing keeping the torn state loud
                marker.strand()
                raise
            good = (
                _ann_code_stats(index.codes)
                .filter((F.col("rows") == _PQ_M) & (F.col("js") == _PQ_M))
                .select("vec_id")
            )
            keep = AnnIndex(
                index.cents, index.codebook, index.codes.join(good, "vec_id")
            )
            verify_ann_index(keep)  # non-droppable corruption still raises
        _ann_publish(keep, spark_path, os_path)


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): partition the
# embedding space with a coarse quantizer, then prune semantic
# duplicates WITHIN each cell only — the pairwise term is bounded by
# cell population, never the corpus, which is the whole reason the
# clustering step exists at 100 TB (n_cells grows with the corpus so
# cells stay executor-sized). Everything below follows the module's
# quantized-i64 convention, so the full pipeline — sampled centroids,
# integer-L2 assignment, within-cell cosine, smallest-id keeper rule —
# is reproducible bit-for-bit in DuckDB SQL.
# ---------------------------------------------------------------------------
_SEM_CELLS = 8
_SEM_TAU = 0.35  # fixture-meaningful (max pairwise cos ~0.51); the
# production dial sits near 1 - eps on real embedding models


def refine_cells(v, n_cells: int = _SEM_CELLS, iters: int = 3):
    """Integer-deterministic Lloyd refinement of the sampled coarse
    centroids over FULL quantized vectors — pq_codebook's machinery at
    M=1: init = the quantized vectors of the first n_cells vec_ids
    (iters=0 reproduces semantic_dedup's frozen sampled cells
    exactly), each iteration is one broadcast argmin assign + one
    per-cell integer component-sum aggregate, centroid updates divide
    half-away-from-zero, empty cells keep their previous centroid,
    and convergence (new == old) is exact. Returns (cell, cv) — drops
    into semantic_dedup's ``cents`` parameter: refinement changes
    cell QUALITY (how balanced the pairwise work is and which
    near-pairs share a cell), never the dedup rule."""
    spark = v.sparkSession
    init = (
        v.filter(F.col("vec_id") < n_cells)
        .select(F.col("vec_id").alias("cell"), "qv")
        .collect()
    )
    cents = {int(r["cell"]): [int(x) for x in r["qv"]] for r in init}
    if not cents:
        raise ValueError(
            f"refine_cells: no vec_ids below n_cells={n_cells} — the "
            f"sampled init (like semantic_dedup's default cells) assumes "
            f"a 0-based contiguous id prefix; re-key the relation or pass "
            f"explicit centroids"
        )
    dim = len(next(iter(cents.values())))

    def cents_df():
        return spark.createDataFrame(
            [(c, cv) for c, cv in sorted(cents.items())],
            "cell long, cv array<bigint>",
        )

    for _ in range(iters):
        asg = _cell_assign(v, cents_df())
        stats = (
            asg.groupBy("cell")
            .agg(
                F.count("*").alias("n"),
                *[F.sum(F.col("qv")[i]).alias(f"s{i}") for i in range(dim)],
            )
            .collect()
        )
        new_cents = dict(cents)  # empty cells keep their centroid
        for r in stats:
            new_cents[int(r["cell"])] = [
                _round_div_half_away(int(r[f"s{i}"]), int(r["n"]))
                for i in range(dim)
            ]
        if new_cents == cents:
            break
        cents = new_cents
    return cents_df()


def semantic_dedup(v, n_cells: int = _SEM_CELLS, tau: float = _SEM_TAU,
                   cents=None):
    """SemDeDup over a quantized vector relation (vec_id, qv): assign
    every vector to its nearest sampled centroid (the quantized
    vectors of the first ``n_cells`` vec_ids — deterministic, the
    same design choice as the PQ codebook; k-means-refined centroids
    via pq_codebook's machinery change cell QUALITY, never this
    machinery), then mark every vector that has a SMALLER-id member
    of its own cell at cosine >= ``tau`` as a duplicate of the
    smallest such id. Returns (vec_id, cell, dup_of) with dup_of NULL
    for keepers.

    The keeper rule is earliest-id, applied over raw neighbor pairs —
    a chain a<b<c with cos(a,b) and cos(b,c) above tau but cos(a,c)
    below it keeps a, marks b (dup_of=a) and c (dup_of=b): exactly
    SemDeDup's one-representative-per-epsilon-ball behaviour, distinct
    from the connected-components keeper family (dedup.py), which
    would union the chain first.

    Scale shape: one broadcast centroid argmin (n_cells rows), one
    cell-keyed self-join whose per-cell pair count is the algorithm's
    stated cost model, one (vec_id)-keyed min aggregate, one left
    join back. Raw embeddings are read once.

    ``cents``: an optional (cell, cv) relation overriding the sampled
    centroids — refine_cells' k-means dial. The dup RULE (within-cell,
    cosine >= tau, smallest-id keeper) is identical either way.

    Precondition (sampled default only): "first n_cells vec_ids" means
    ids 0..n_cells-1 literally — a relation whose ids do not start at
    0 would produce an EMPTY centroid set, so this function raises
    loudly there (mirroring refine_cells) instead of silently dropping
    every vector. Re-keyed or sharded id spaces must pass ``cents``
    explicitly."""
    if cents is None:
        cents = v.filter(F.col("vec_id") < n_cells).select(
            F.col("vec_id").alias("cell"), F.col("qv").alias("cv")
        )
        # one limit-1 probe (bounded by construction): an id space not
        # starting at 0 yields zero sampled centroids → every vector
        # would cross-join against nothing and be dropped (ADVICE r12)
        if not cents.limit(1).collect():
            raise ValueError(
                "semantic_dedup: sampled default centroids are empty — "
                "vec_ids must be a 0-based contiguous id prefix; re-key "
                "the relation or pass cents= explicitly"
            )
    asg = tracked_persist(_cell_assign(v, cents))
    a = asg.select(
        F.col("vec_id").alias("id_a"), "cell", F.col("qv").alias("qa")
    )
    b = asg.select(
        F.col("vec_id").alias("id_b"), "cell", F.col("qv").alias("qb")
    )
    dup = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_q(F.col("qa"), F.col("qb")) >= tau)
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(F.min("id_a").alias("dup_of"))
    )
    return (
        asg.join(dup, "vec_id", "left")
        .select("vec_id", F.col("cell").cast("long").alias("cell"), "dup_of")
    )


_SEM_COS_SQL = """
  CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.qv) + 1), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
  / (SQRT(CAST(LIST_SUM(LIST_TRANSFORM(a.qv, x -> x * x)) AS DOUBLE))
     * SQRT(CAST(LIST_SUM(LIST_TRANSFORM(b.qv, x -> x * x)) AS DOUBLE)))
"""


@query(
    "dedup_semantic",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
      FROM embeddings
    ),
    cents AS (SELECT vec_id AS cell, qv AS cv FROM e WHERE vec_id < {_SEM_CELLS}),
    dists AS (
      SELECT e.vec_id, e.qv, c.cell,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.qv) + 1),
               i -> (e.qv[i] - c.cv[i]) * (e.qv[i] - c.cv[i]))) AS d2
      FROM e CROSS JOIN cents c
    ),
    asg AS (
      SELECT vec_id, qv, cell FROM (
        SELECT vec_id, qv, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM dists) WHERE rn = 1
    ),
    dup AS (
      SELECT b.vec_id AS vec_id, MIN(a.vec_id) AS dup_of
      FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_SEM_COS_SQL} >= {_SEM_TAU}
      GROUP BY b.vec_id
    )
    SELECT asg.vec_id, CAST(asg.cell AS BIGINT) AS cell, dup.dup_of
    FROM asg LEFT JOIN dup USING (vec_id)
    """,
)
def dedup_semantic(spark, sf_dir):
    """SemDeDup semantic dedup over the embeddings table, hash-exact
    end-to-end: 8 (= _SEM_CELLS) sampled centroids, integer-L2 cell
    assignment, within-cell quantized-cosine pruning at
    tau=0.35 (= _SEM_TAU), smallest-id keepers. The DuckDB oracle recomputes
    the WHOLE pipeline — this upgrades the embedding-dedup family
    from dedup_embedding_neardup's rows-only check to an exact one."""
    e = t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    )


@query(
    "dedup_semantic_auto_cells",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
      FROM embeddings
    ),
    dial AS (
      SELECT GREATEST({_SEM_CELLS},
                      CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS nc
      FROM e
    ),
    cents AS (
      SELECT vec_id AS cell, qv AS cv FROM e
      WHERE vec_id < (SELECT nc FROM dial)
    ),
    dists AS (
      SELECT e.vec_id, e.qv, c.cell,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.qv) + 1),
               i -> (e.qv[i] - c.cv[i]) * (e.qv[i] - c.cv[i]))) AS d2
      FROM e CROSS JOIN cents c
    ),
    asg AS (
      SELECT vec_id, qv, cell FROM (
        SELECT vec_id, qv, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM dists) WHERE rn = 1
    ),
    dup AS (
      SELECT b.vec_id AS vec_id, MIN(a.vec_id) AS dup_of
      FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_SEM_COS_SQL} >= {_SEM_TAU}
      GROUP BY b.vec_id
    )
    SELECT asg.vec_id, CAST(asg.cell AS BIGINT) AS cell, dup.dup_of
    FROM asg LEFT JOIN dup USING (vec_id)
    """,
)
def dedup_semantic_auto_cells(spark, sf_dir):
    """SemDeDup on the AUTO cell dial (VERDICT r13 #3's 'extend to
    SemDeDup'): n_cells = max(8, ceil(sqrt n)) — the same corpus-sized
    formula as the IVF-PQ auto key, folded into the oracle's dial CTE
    so the key is hash-exact at any scale. This is the dial SemDeDup's
    100 TB cost model DEPENDS on: the within-cell pairwise term is
    sum over cells of pop^2, and with n_cells ~ sqrt(n) the expected
    cell population grows as sqrt(n) instead of n — cells stay
    executor-sized as the corpus scales (SCALING.md round 14 measures
    the pair-count ratio vs the fixed 8-cell layout at the sf rungs).
    The dedup RULE (within-cell cosine >= tau, smallest-id keeper) is
    identical to the frozen dedup_semantic key; only the partition
    count moves."""
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    return semantic_dedup(v, n_cells=auto_ivf_cells(v.count(), _SEM_CELLS))


# ---------------------------------------------------------------------------
# Semantic ingest admission — SemDeDup's rule applied at ingest time,
# the embedding-modality twin of the text side's dedup_incremental_
# ingest / ingest_batch_adaptive: a NEW batch of vectors is verdicted
# against the EXISTING corpus only (the corpus is never re-paired
# against itself), with the candidate set bounded by probed coarse
# cells instead of batch x corpus. Per batch vector the compare work
# is ~ nprobe * (n / n_cells) ~ nprobe * sqrt(n) under the auto cell
# dial — the same cost model that makes SemDeDup itself viable at
# 100 TB, applied to the admission path.
# ---------------------------------------------------------------------------
_SEM_INGEST_NPROBE = 2  # argmin cell + 1 spill cell: admission decisions
# near a Voronoi boundary see both plausible homes (the dedup key's
# within-cell rule has no such boundary exposure because both members
# of a pair move cells together; an arriving vector and its corpus
# near-dup can land on opposite sides, so the probe dial exists here)


def semantic_cells(corpus_v, n_cells: int | None = None):
    """The ingest tier's coarse cells as a standalone relation (cell,
    cv): the first ``n_cells`` corpus vectors by vec_id with cell ids
    0..n_cells-1 (rank-based — no contiguous-id assumption), n_cells
    defaulting to auto_ivf_cells over the corpus count. Extracted so
    admission stores can FREEZE it: verdicts under cells re-derived
    from a growing corpus are not replay-stable (the dial and the
    boundaries both move), so stream_semantic_admit derives this once
    and persists it as the store's quantizer sidecar — the same
    frozen-quantizer discipline as the ANN index, with the same
    rebuild-generation answer to growth. The sort-limit head is
    TakeOrdered (bounded); the single-partition rank window only ever
    sees the n_cells head rows."""
    if n_cells is None:
        n_cells = auto_ivf_cells(corpus_v.count())
    head = corpus_v.orderBy("vec_id").limit(n_cells)
    return head.select(
        (
            F.row_number().over(
                Window.partitionBy(F.lit(0)).orderBy("vec_id")
            )
            - 1
        )
        .cast("long")
        .alias("cell"),
        F.col("qv").alias("cv"),
    )


def semantic_ingest_verdicts(
    corpus_v,
    batch_v,
    n_cells: int | None = None,
    nprobe: int = _SEM_INGEST_NPROBE,
    tau: float = _SEM_TAU,
    cents=None,
):
    """Admission verdicts for a batch of quantized vectors (vec_id,
    qv) against an existing corpus relation of the same shape: a batch
    vector is a duplicate iff some corpus vector in one of its
    ``nprobe`` nearest coarse cells has quantized cosine >= ``tau``.
    Returns (vec_id, admit, dup_of, n_cand) over exactly the batch's
    ids — dup_of is the smallest such corpus id (NULL when admitted,
    the same earliest-id convention as semantic_dedup), n_cand the
    number of corpus candidates actually compared (the per-vector cost
    the probe dial bounds).

    Default centroids are the first ``n_cells`` corpus vectors by
    vec_id with cell ids 0..n_cells-1 (rank-based, NOT the id-literal
    sampling of semantic_dedup — an ingest corpus has no contiguous-id
    guarantee after earlier admission rounds), and n_cells defaults to
    auto_ivf_cells(corpus count): the sqrt dial that keeps cells
    executor-sized as the corpus grows. Pass ``cents`` to pin frozen
    quantizers (e.g. a saved ANN index's cents relation) so repeated
    batches skip the corpus head scan and assignment drift.

    Scale shape: centroid head via sort-limit (TakeOrdered, bounded),
    one broadcast argmin over the corpus (reusable across batches when
    the caller persists/pins cents + assignments), a batch-sized
    nprobe-row explode, and a cell-keyed join whose per-cell fan-in is
    the cell population — never a batch x corpus product. Corpus-side
    self-pairs are excluded by id (``cid <> vec_id``), which also
    makes a replayed already-admitted vector see its own stored copy
    only through the caller's replay guard, never through this rule.

    Within-batch near-dups are NOT compared against each other — the
    batch is verdicted against the pre-admission corpus state only,
    exactly the text ingest chain's contract (dedup.py ingest_batch);
    run semantic_dedup over the batch first when intra-batch pruning
    is wanted."""
    if cents is None:
        cents = semantic_cells(corpus_v, n_cells)
    casg = _cell_assign(corpus_v, cents).select(
        F.col("vec_id").alias("cid"), "cell", F.col("qv").alias("cqv")
    )
    bd = batch_v.crossJoin(F.broadcast(cents)).select(
        "vec_id", "qv", "cell", _pq_l2sq(F.col("qv"), F.col("cv")).alias("d2")
    )
    wb = Window.partitionBy("vec_id").orderBy("d2", "cell")
    bprobe = (
        bd.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= nprobe)
        .select("vec_id", "qv", "cell")
    )
    agg = (
        bprobe.join(casg, "cell")
        .filter(F.col("cid") != F.col("vec_id"))
        .groupBy("vec_id")
        .agg(
            F.count("*").alias("n_cand"),
            F.min(
                F.when(cosine_q(F.col("cqv"), F.col("qv")) >= tau, F.col("cid"))
            ).alias("dup_of"),
        )
    )
    return (
        batch_v.select("vec_id")
        .join(agg, "vec_id", "left")
        .select(
            "vec_id",
            F.col("dup_of").isNull().alias("admit"),
            "dup_of",
            F.coalesce(F.col("n_cand"), F.lit(0)).cast("long").alias("n_cand"),
        )
    )


@query(
    "dedup_semantic_ingest",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
      FROM embeddings
    ),
    corpus AS (SELECT vec_id, qv FROM e WHERE vec_id % 5 <> 0),
    batch AS (SELECT vec_id, qv FROM e WHERE vec_id % 5 = 0),
    dial AS (
      SELECT GREATEST({_IVFPQ_CELLS},
                      CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS nc
      FROM corpus
    ),
    cents AS (
      SELECT cell, cv FROM (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell,
               qv AS cv
        FROM corpus)
      WHERE cell < (SELECT nc FROM dial)
    ),
    cd AS (
      SELECT c.vec_id, c.qv, ct.cell,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(c.qv) + 1),
               i -> (c.qv[i] - ct.cv[i]) * (c.qv[i] - ct.cv[i]))) AS d2
      FROM corpus c CROSS JOIN cents ct
    ),
    casg AS (
      SELECT vec_id, qv, cell FROM (
        SELECT vec_id, qv, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM cd) WHERE rn = 1
    ),
    bdst AS (
      SELECT b.vec_id, b.qv, ct.cell,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(b.qv) + 1),
               i -> (b.qv[i] - ct.cv[i]) * (b.qv[i] - ct.cv[i]))) AS d2
      FROM batch b CROSS JOIN cents ct
    ),
    bprobe AS (
      SELECT vec_id, qv, cell FROM (
        SELECT vec_id, qv, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM bdst) WHERE rn <= {_SEM_INGEST_NPROBE}
    ),
    agg AS (
      SELECT b.vec_id AS vec_id, COUNT(*) AS n_cand,
             MIN(CASE WHEN {_SEM_COS_SQL} >= {_SEM_TAU}
                      THEN a.vec_id END) AS dup_of
      FROM bprobe b JOIN casg a ON a.cell = b.cell AND a.vec_id <> b.vec_id
      GROUP BY b.vec_id
    )
    SELECT bt.vec_id, (agg.dup_of IS NULL) AS admit, agg.dup_of,
           CAST(COALESCE(agg.n_cand, 0) AS BIGINT) AS n_cand
    FROM batch bt LEFT JOIN agg ON agg.vec_id = bt.vec_id
    """,
)
def dedup_semantic_ingest(spark, sf_dir):
    """Semantic ingest admission, hash-exact end-to-end: vectors with
    vec_id % 5 == 0 (~20%) arrive as the batch, the rest are the
    existing corpus; auto cell dial over the corpus, rank-based
    centroid head, 2-cell probe, cosine >= tau(=0.35) against probed
    corpus members only, earliest-id dup attribution. The DuckDB
    oracle replays the WHOLE pipeline — dial, head, both assignments,
    probe ranks, candidate compare — so the key pins the admission
    rule, not just its row count. Completes the ingest story across
    modalities: text batches admit through the shingle index
    (dedup_ingest_chain), embedding batches through coarse cells."""
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    corpus = v.filter(F.col("vec_id") % 5 != 0)
    batch = v.filter(F.col("vec_id") % 5 == 0)
    return semantic_ingest_verdicts(corpus, batch)


_SEM_DIAL_SAMPLE_TARGET = 1000  # ~queries in the dial's truth sample


def semantic_probe_dial(
    corpus_v,
    tau: float = _SEM_TAU,
    target_recall: float = 0.95,
    sample_mod: int | None = None,
    n_cells: int | None = None,
    cents=None,
) -> dict:
    """The recall dial for the probed-cell admission rule — lsh_dial's
    philosophy where no closed form exists: how many cells must a
    batch vector probe so that a stated fraction of true duplicates
    (corpus-wide cosine >= tau) is caught? Unlike LSH's S-curve, the
    answer depends on tau RELATIVE TO the corpus's cell angular scale
    (a production tau of ~0.95 sits inside one Voronoi cell and
    nprobe=2 is near-exact; the spread fixture at tau=0.35 needs ~16
    of its 127 cells for 0.95 — measured, SCALING.md round 15), so the
    dial is EMPIRICAL: one bounded sampled pass computes the whole
    recall-vs-nprobe curve and returns the smallest nprobe meeting
    ``target_recall``.

    Method: sample queries deterministically (vec_id % ``sample_mod``
    == 0), score them against the WHOLE corpus (one broadcast of the
    sample against a single corpus scan — O(n x sample/corpus-density)
    work, run once per rebuild, not per batch), and for each
    dup-bearing query find the best RANK (in its own d2 cell ordering)
    of any cell holding a qualifying shadower; recall(p) is then the
    fraction of dup-bearing queries with min_rank <= p, read off one
    histogram. Returns {nprobe, curve (rank -> cumulative recall),
    sampled, dup_bearing, n_cells}. A corpus with no dup-bearing
    sampled queries returns nprobe=_SEM_INGEST_NPROBE (nothing to
    bound).

    The verdict rule itself never changes — the dial only widens the
    candidate set, exactly auto_ivf_nprobe's role on the ANN side;
    thread the result into semantic_ingest_verdicts(nprobe=...)."""
    # persist ONLY what this function derives: persist() on an
    # already-persisted caller frame returns the same object, so an
    # unconditional unpersist here would evict a cache the caller owns
    # (found by the r15 self-review); callers running repeated dials
    # should persist corpus_v/cents themselves, per the module's
    # pinning advice
    own_cents = cents is None
    if own_cents:
        cents = semantic_cells(corpus_v, n_cells).persist()
    try:
        if sample_mod is None:
            # derived so the sample stays ~_SEM_DIAL_SAMPLE_TARGET
            # queries REGARDLESS of corpus size — a fixed modulus
            # would grow the broadcast side linearly with the corpus
            # (n/20 of 10^10 is not broadcast-sized); the fixture
            # rungs all land on the floor of 20, so the formula folds
            # into the oracle without moving any frozen result
            sample_mod = max(
                _SEM_DIAL_SAMPLE_MOD,
                math.ceil(corpus_v.count() / float(_SEM_DIAL_SAMPLE_TARGET)),
            )
        # residue 1, not 0: a corpus whose id space already excludes a
        # divisor's multiples (the fixture split drops % 5 == 0) would
        # make the 0-residue sample empty
        sample = corpus_v.filter(F.col("vec_id") % sample_mod == 1).select(
            F.col("vec_id").alias("qid"), F.col("qv").alias("qqv")
        )
        n_sample = sample.count()
        if n_sample == 0:
            # distinguishable from "sampled but nothing dup-bearing":
            # an empty sample measures NOTHING, and returning the
            # default here would let a rebuild persist an nprobe as if
            # the recall target were met (r15 self-review) — an id
            # space missing the residue class must pick its own mod
            raise ValueError(
                f"semantic_probe_dial: the sample (vec_id % "
                f"{sample_mod} == 1) is empty — this corpus's id space "
                f"misses the residue class; pass a sample_mod its ids "
                f"do hit"
            )
        # per-query cell ordering: rank of every cell by (d2, cell)
        qd = sample.crossJoin(F.broadcast(cents)).select(
            "qid",
            "cell",
            _pq_l2sq(F.col("qqv"), F.col("cv")).alias("d2"),
        )
        qrank = qd.select(
            "qid",
            "cell",
            F.row_number()
            .over(Window.partitionBy("qid").orderBy("d2", "cell"))
            .alias("rank"),
        )
        # corpus members' own argmin cells + qualifying pairs
        casg = _cell_assign(corpus_v, cents).select(
            F.col("vec_id").alias("cid"), "cell", F.col("qv").alias("cqv")
        )
        pairs = (
            casg.join(F.broadcast(sample), F.col("cid") != F.col("qid"))
            .filter(cosine_q(F.col("cqv"), F.col("qqv")) >= tau)
            .select("qid", "cell")
        )
        min_rank = (
            pairs.join(qrank, ["qid", "cell"])
            .groupBy("qid")
            .agg(F.min("rank").alias("min_rank"))
        )
        hist = {
            int(r["min_rank"]): int(r["n"])
            for r in min_rank.groupBy("min_rank")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        dup_bearing = sum(hist.values())
        n_cells_used = cents.count()
        if dup_bearing == 0:
            return {
                "nprobe": _SEM_INGEST_NPROBE,
                "curve": {},
                "sampled": n_sample,
                "dup_bearing": 0,
                "n_cells": n_cells_used,
            }
        curve, cum, nprobe = {}, 0, None
        for rank in range(1, n_cells_used + 1):
            cum += hist.get(rank, 0)
            curve[rank] = round(cum / dup_bearing, 4)
            # integer-vs-product compare, NOT the rounded curve value:
            # cum >= target * dup_bearing is one IEEE multiply on both
            # engines, so the folded SQL oracle lands the same rank
            if nprobe is None and cum >= target_recall * dup_bearing:
                nprobe = rank
        return {
            "nprobe": nprobe if nprobe is not None else n_cells_used,
            "curve": curve,
            "sampled": n_sample,
            "dup_bearing": dup_bearing,
            "n_cells": n_cells_used,
        }
    finally:
        if own_cents:
            cents.unpersist()


@query(
    "decontaminate_semantic",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
      FROM embeddings
    ),
    corpus AS (SELECT vec_id, qv FROM e WHERE vec_id % 10 = 3),
    batch AS (SELECT vec_id, qv FROM e WHERE vec_id % 10 <> 3),
    dial AS (
      SELECT GREATEST({_IVFPQ_CELLS},
                      CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS nc
      FROM corpus
    ),
    cents AS (
      SELECT cell, cv FROM (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell,
               qv AS cv
        FROM corpus)
      WHERE cell < (SELECT nc FROM dial)
    ),
    cd AS (
      SELECT c.vec_id, c.qv, ct.cell,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(c.qv) + 1),
               i -> (c.qv[i] - ct.cv[i]) * (c.qv[i] - ct.cv[i]))) AS d2
      FROM corpus c CROSS JOIN cents ct
    ),
    casg AS (
      SELECT vec_id, qv, cell FROM (
        SELECT vec_id, qv, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM cd) WHERE rn = 1
    ),
    bdst AS (
      SELECT b.vec_id, b.qv, ct.cell,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(b.qv) + 1),
               i -> (b.qv[i] - ct.cv[i]) * (b.qv[i] - ct.cv[i]))) AS d2
      FROM batch b CROSS JOIN cents ct
    ),
    bprobe AS (
      SELECT vec_id, qv, cell FROM (
        SELECT vec_id, qv, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM bdst) WHERE rn <= {_SEM_INGEST_NPROBE}
    ),
    agg AS (
      SELECT b.vec_id AS vec_id, COUNT(*) AS n_cand,
             MIN(CASE WHEN {_SEM_COS_SQL} >= {_SEM_TAU}
                      THEN a.vec_id END) AS dup_of
      FROM bprobe b JOIN casg a ON a.cell = b.cell AND a.vec_id <> b.vec_id
      GROUP BY b.vec_id
    )
    SELECT bt.vec_id, (agg.dup_of IS NOT NULL) AS contaminated,
           agg.dup_of AS eval_match,
           CAST(COALESCE(agg.n_cand, 0) AS BIGINT) AS n_cand
    FROM batch bt LEFT JOIN agg ON agg.vec_id = bt.vec_id
    """,
)
def decontaminate_semantic(spark, sf_dir):
    """Semantic (embedding-space) train/eval decontamination — the
    modality twin of decontaminate_train_eval's n-gram verdicts: a
    train vector is CONTAMINATED when some eval-set vector in one of
    its probed coarse cells reaches quantized cosine >= tau. The
    machinery IS semantic_ingest_verdicts with the roles flipped:
    eval is the (small) corpus side, so the cell geometry lives on
    eval, eval assignments broadcast, and the per-train-vector work
    is bounded by probed EVAL-cell populations — O(train x eval/nc),
    never train x eval. The fixture treats vec_id % 10 == 3 (~10%) as
    the eval set; returns (vec_id, contaminated, eval_match, n_cand)
    over the train rows with earliest-eval-id attribution, hash-exact
    against the same folded oracle family as the ingest key. For
    recall above the fixed 2-cell probe, semantic_probe_dial over the
    eval corpus applies verbatim (pass its nprobe through)."""
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    eval_set = v.filter(F.col("vec_id") % 10 == 3)
    train = v.filter(F.col("vec_id") % 10 != 3)
    verdicts = semantic_ingest_verdicts(eval_set, train)
    return verdicts.select(
        "vec_id",
        (~F.col("admit")).alias("contaminated"),
        F.col("dup_of").alias("eval_match"),
        "n_cand",
    )


_SEM_DIAL_TARGET = 0.95
_SEM_DIAL_SAMPLE_MOD = 20


@query(
    "dedup_semantic_ingest_bounded",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
      FROM embeddings
    ),
    corpus AS (SELECT vec_id, qv FROM e WHERE vec_id % 5 <> 0),
    batch AS (SELECT vec_id, qv FROM e WHERE vec_id % 5 = 0),
    dial AS (
      SELECT GREATEST({_IVFPQ_CELLS},
                      CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS nc
      FROM corpus
    ),
    cents AS (
      SELECT cell, cv FROM (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell,
               qv AS cv
        FROM corpus)
      WHERE cell < (SELECT nc FROM dial)
    ),
    cd AS (
      SELECT c.vec_id, c.qv, ct.cell,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(c.qv) + 1),
               i -> (c.qv[i] - ct.cv[i]) * (c.qv[i] - ct.cv[i]))) AS d2
      FROM corpus c CROSS JOIN cents ct
    ),
    casg AS (
      SELECT vec_id, qv, cell FROM (
        SELECT vec_id, qv, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM cd) WHERE rn = 1
    ),
    smod AS (
      SELECT GREATEST({_SEM_DIAL_SAMPLE_MOD},
                      CAST(CEIL(COUNT(*) / CAST({_SEM_DIAL_SAMPLE_TARGET} AS DOUBLE))
                           AS BIGINT)) AS m
      FROM corpus
    ),
    sample AS (
      SELECT vec_id AS qid, qv FROM corpus
      WHERE vec_id % (SELECT m FROM smod) = 1
    ),
    qd AS (
      SELECT s.qid, ct.cell,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(s.qv) + 1),
               i -> (s.qv[i] - ct.cv[i]) * (s.qv[i] - ct.cv[i]))) AS d2
      FROM sample s CROSS JOIN cents ct
    ),
    qrank AS (
      SELECT qid, cell,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, cell) AS rnk
      FROM qd
    ),
    qpairs AS (
      SELECT b.qid, a.cell
      FROM casg a JOIN sample b ON a.vec_id <> b.qid
      WHERE {_SEM_COS_SQL} >= {_SEM_TAU}
    ),
    minr AS (
      SELECT p.qid, MIN(r.rnk) AS min_rank
      FROM qpairs p JOIN qrank r ON r.qid = p.qid AND r.cell = p.cell
      GROUP BY p.qid
    ),
    npsel AS (
      SELECT CASE
        WHEN (SELECT COUNT(*) FROM minr) = 0 THEN {_SEM_INGEST_NPROBE}
        ELSE (SELECT MIN(m1.min_rank) FROM minr m1
              WHERE (SELECT COUNT(*) FROM minr m2
                     WHERE m2.min_rank <= m1.min_rank)
                    >= {_SEM_DIAL_TARGET} * (SELECT COUNT(*) FROM minr))
      END AS np
    ),
    bdst AS (
      SELECT b.vec_id, b.qv, ct.cell,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(b.qv) + 1),
               i -> (b.qv[i] - ct.cv[i]) * (b.qv[i] - ct.cv[i]))) AS d2
      FROM batch b CROSS JOIN cents ct
    ),
    bprobe AS (
      SELECT vec_id, qv, cell FROM (
        SELECT vec_id, qv, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM bdst) WHERE rn <= (SELECT np FROM npsel)
    ),
    agg AS (
      SELECT b.vec_id AS vec_id, COUNT(*) AS n_cand,
             MIN(CASE WHEN {_SEM_COS_SQL} >= {_SEM_TAU}
                      THEN a.vec_id END) AS dup_of
      FROM bprobe b JOIN casg a ON a.cell = b.cell AND a.vec_id <> b.vec_id
      GROUP BY b.vec_id
    )
    SELECT bt.vec_id, (agg.dup_of IS NULL) AS admit, agg.dup_of,
           CAST(COALESCE(agg.n_cand, 0) AS BIGINT) AS n_cand
    FROM batch bt LEFT JOIN agg ON agg.vec_id = bt.vec_id
    """,
)
def dedup_semantic_ingest_bounded(spark, sf_dir):
    """Semantic ingest admission under the RECALL-BOUNDED probe dial
    (the lsh_keepers_bounded of this family): semantic_probe_dial
    measures the recall-vs-nprobe curve on a deterministic corpus
    sample (vec_id % 20 == 1, full-corpus cosine truth, min qualifying
    cell rank per dup-bearing query) and the verdict runs at the
    smallest nprobe whose cumulative catch meets the 0.95
    (= _SEM_DIAL_TARGET) target. The ENTIRE dial — sample, per-query
    cell ranking, qualifying pairs, cumulative crossing — is folded
    into the oracle, so the key is hash-exact at any scale with the
    dial genuinely moving (nprobe 7 of 20 cells at sf0.01, 21 of 40 at
    sf0.1 on the spread fixture; a production-tau corpus lands near
    the frozen key's 2). Rule identical to dedup_semantic_ingest —
    the dial only widens the candidate set, auto_ivf_nprobe's role on
    the ANN side."""
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    corpus = v.filter(F.col("vec_id") % 5 != 0)
    batch = v.filter(F.col("vec_id") % 5 == 0)
    cents = tracked_persist(semantic_cells(corpus))
    d = semantic_probe_dial(
        corpus, target_recall=_SEM_DIAL_TARGET, cents=cents
    )
    return semantic_ingest_verdicts(
        corpus, batch, nprobe=d["nprobe"], cents=cents
    )


# ---------------------------------------------------------------------------
# k-center diversity seeds (farthest-point traversal — Gonzalez 1985,
# the 2-approximation to k-center; the greedy coreset rule used for
# diversity-aware subset selection over embedding spaces). Iterative,
# but with a BOUNDED driver loop: k passes, each one map-side distance
# update + one argmax — the same orchestration discipline as
# corpus_pagerank's loop. Integer squared-L2 over quantized vectors
# end-to-end, so every pick (including every tie) is reproducible in
# SQL: the oracle chains one CTE pair per iteration.
# ---------------------------------------------------------------------------
_KCENTER_K = 6


def kcenter_seeds(v, k: int = _KCENTER_K):
    """Farthest-point seeds over a quantized vector relation (vec_id,
    qv): seed 1 is the max-squared-norm vector (smallest-id ties);
    each later seed maximizes the min integer squared-L2 distance to
    the seeds chosen so far (smallest-id ties). Returns a k-row
    DataFrame (seed_rank, vec_id, mind) where mind is the selection
    radius (NULL for seed 1) — mind of seed t is the k-center
    coverage radius after t-1 seeds.

    Scale shape: the working relation carries (vec_id, qv, mind); each
    iteration is ONE map-side update against the newly chosen seed's
    broadcast literal vector plus ONE single-row argmax aggregate —
    k passes total, the algorithm's stated cost. The k collected rows
    are bounded driver scalars (the shingle_saturation pattern)."""
    first = (
        v.select("vec_id", "qv", dot_i64(F.col("qv"), F.col("qv")).alias("norm"))
        .agg(F.min(F.struct((-F.col("norm")).alias("nn"), "vec_id", "qv")).alias("m"))
        .select(F.col("m.vec_id").alias("vec_id"), F.col("m.qv").alias("qv"))
        .collect()[0]
    )
    seeds = [(1, first.vec_id, None)]
    seed_vec = list(first.qv)
    # each iteration's working relation is persisted and its
    # predecessor released ONLY AFTER the next argmax collect has
    # materialized the new relation's cache: persist() is lazy, so an
    # eager prev.unpersist() would force iteration t's scan to replay
    # all t-1 prior distance updates from the base relation — O(k^2)
    # passes instead of the documented k (ADVICE, round 12)
    cur = v.filter(F.col("vec_id") != first.vec_id).select(
        "vec_id",
        "qv",
        _pq_l2sq(
            F.col("qv"), F.array(*[F.lit(int(x)) for x in seed_vec])
        ).alias("mind"),
    ).persist()
    prev = None
    for rank in range(2, k + 1):
        nxt = (
            cur.agg(
                F.min(
                    F.struct((-F.col("mind")).alias("nm"), "vec_id", "qv", "mind")
                ).alias("m")
            )
            .select("m.vec_id", "m.qv", "m.mind")
            .collect()[0]
        )
        # the collect above scanned (and therefore cached) cur, so the
        # relation it was derived from can be released now
        if prev is not None:
            prev.unpersist()
            prev = None
        if nxt.vec_id is None:  # min over an EMPTY relation: k > n
            cur.unpersist()
            raise ValueError(
                f"kcenter_seeds: k={k} exceeds the {rank - 1} available "
                f"vectors — every vector is already a seed"
            )
        seeds.append((rank, nxt.vec_id, nxt.mind))
        lit_vec = F.array(*[F.lit(int(x)) for x in nxt.qv])
        prev, cur = cur, cur.filter(F.col("vec_id") != nxt.vec_id).select(
            "vec_id",
            "qv",
            F.least(F.col("mind"), _pq_l2sq(F.col("qv"), lit_vec)).alias("mind"),
        ).persist()
    if prev is not None:
        prev.unpersist()
    cur.unpersist()
    spark = v.sparkSession
    return spark.createDataFrame(seeds, "seed_rank int, vec_id long, mind long")


def _kcenter_oracle(k: int = _KCENTER_K) -> str:
    d2 = (
        "LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN({a}.qv) + 1),"
        " __kc -> ({a}.qv[__kc] - {b}.qv[__kc]) * ({a}.qv[__kc] - {b}.qv[__kc])))"
    )
    ctes = [
        """e AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
      FROM embeddings
    )""",
        """s1 AS (
      SELECT vec_id, qv FROM e
      ORDER BY LIST_SUM(LIST_TRANSFORM(qv, x -> x * x)) DESC, vec_id LIMIT 1
    )""",
        f"""m1 AS (
      SELECT e.vec_id, e.qv, {d2.format(a='e', b='s1')} AS mind
      FROM e, s1 WHERE e.vec_id <> s1.vec_id
    )""",
    ]
    for t in range(2, k + 1):
        ctes.append(
            f"""s{t} AS (
      SELECT vec_id, qv, mind FROM m{t - 1} ORDER BY mind DESC, vec_id LIMIT 1
    )"""
        )
        if t < k:
            ctes.append(
                f"""m{t} AS (
      SELECT m.vec_id, m.qv,
             LEAST(m.mind, {d2.format(a='m', b=f's{t}')}) AS mind
      FROM m{t - 1} m, s{t} WHERE m.vec_id <> s{t}.vec_id
    )"""
            )
    finals = ["SELECT 1 AS seed_rank, vec_id, CAST(NULL AS BIGINT) AS mind FROM s1"]
    finals += [
        f"SELECT {t} AS seed_rank, vec_id, mind FROM s{t}" for t in range(2, k + 1)
    ]
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(finals)


@query("similarity_kcenter_seeds", oracle=_kcenter_oracle())
def similarity_kcenter_seeds(spark, sf_dir):
    """6 (= _KCENTER_K) farthest-point diversity seeds over the embeddings
    table (greedy k-center): the picks AND their selection radii are
    hash-exact against a DuckDB oracle that replays every iteration as
    a chained CTE pair — integer distances make the whole greedy
    trajectory, tie-breaks included, engine-independent."""
    e = t(spark, sf_dir, "embeddings")
    return kcenter_seeds(
        e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    )


@query("dedup_semantic_refined")
def dedup_semantic_refined(spark, sf_dir):
    """The SemDeDup quality dial turned: the same within-cell pruning
    rule over k-means-REFINED cells (refine_cells, 3 Lloyd
    iterations) instead of the sampled ones — better-balanced cells
    mean better-bounded pairwise work and fewer near-pairs split
    across cell boundaries. Rows-only by design (the refined pipeline
    is still integer-deterministic — pinned bit-for-bit against the
    NumPy Lloyd twin in tests/test_semantic_dedup.py, along with
    iters=0 == the frozen hash-exact dedup_semantic key — but a
    3-iteration Lloyd loop in one SQL oracle would be a recursive-CTE
    contortion that checks nothing the twin does not: the
    similarity_pq_refined_topk precedent)."""
    e = t(spark, sf_dir, "embeddings")
    v = tracked_persist(
        e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
    )
    return semantic_dedup(v, cents=refine_cells(v))
